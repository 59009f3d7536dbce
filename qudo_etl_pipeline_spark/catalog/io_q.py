"""IO helpers that no survey step uses: the reference's population-modes
cache, ORC, Hive-partitioned Parquet and schema-merged Parquet reads.
They write through Spark's writer, so a frame sized by its data leaves
from the executors. The survey's own sources and sinks (SURVEY S1-S8)
live in ``sources/io.py``; these stay beside the catalog so the
survey's import closure does not carry them.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from qudo_etl_pipeline_spark.sources.io import exists


def read_or_build_cache(
    spark: SparkSession, path: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """S4+S6: the reference's population-modes cache protocol
    (chisquared_tester.py:782-838): read the parquet if it exists,
    else build, write through Spark's writer, and re-read."""
    if exists(spark, path):
        return spark.read.parquet(path)
    build().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (built into Spark; same pushdown/pruning surface as
    parquet — PushedFilters and ReadSchema reach the OrcScan node).
    Beyond-reference: warehouse interchange with Hive/Trino stacks."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (zlib-by-default columnar; Hive/Trino interchange)."""
    df.write.mode(mode).orc(path)


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """Hive-layout parquet sink: one directory per partition value.

    ``dynamic=True`` sets ``partitionOverwriteMode=dynamic`` for THIS
    write only — an overwrite replaces exactly the partitions present
    in ``df`` and leaves sibling partitions intact (the incremental
    backfill contract at warehouse scale: reprocessing one day must not
    truncate the table). Static mode (the Spark default) would drop
    every existing partition first.
    """
    writer = df.write.mode(mode).partitionBy(*partition_cols)
    if dynamic:
        writer = writer.option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.parquet(path)


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with schema merging across files.

    Long-lived datasets drift: new columns appear in later writes.
    ``mergeSchema`` unions all file footers' schemas (absent columns
    read as NULL), the standard evolution contract for append-only
    lakes. Costs one footer pass over the files at planning time, so
    the default ``read_parquet`` stays the fast path when the schema is
    known to be stable.
    """
    return spark.read.option("mergeSchema", True).parquet(path)
