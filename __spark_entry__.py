"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship inference query (melt -> one-shuffle
contingency -> chi-squared -> Bonferroni post-hoc -> deliver stats) on
sf0.001. ``queries()``/``oracle_sql()`` expose the full operator catalog
(qudo_etl_pipeline_spark/catalog/) to the driver's DuckDB correctness
gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from qudo_etl_pipeline_spark.catalog import registry

    return registry()["deliver_stats_planted"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in name
    order."""
    from qudo_etl_pipeline_spark.catalog import registry

    specs = registry()
    return {n: specs[n].spark for n in sorted(specs)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted -> rows-only check)."""
    from qudo_etl_pipeline_spark.catalog import registry

    return {
        name: spec.oracle
        for name, spec in registry().items()
        if spec.oracle is not None
    }
