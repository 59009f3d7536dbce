"""IO module: the reference's source/sink surface, Spark-first.

SURVEY §2.1 operator map (reference file:line in parens):

- S1 Parquet scan  -> `read_parquet`      (main.py:24,66,74)
- S2 JSON get      -> `read_json_table` (tabular) /
                      `read_json_doc` (config documents —
                      s3_data_fetching_functions.py:20-26,41-70)
- S3 CSV scan      -> `read_csv`          (populate_curated_cols_s3.py:19)
- S4 existence probe -> `exists`        (s3_data_fetching_functions.py:11-17)
- S5 CSV sink      -> `write_csv_single`  (main.py:174 — single file,
                      RFC 4180 quoting as pandas to_csv writes it)
- S6 Parquet sink  -> `write_parquet`     (chisquared_tester.py:837-838)
- S7 pickle sink   -> REPLACED by Parquet/JSON sinks (pickles are an
                      engine-hostile format; SURVEY S7)
- S8 JSON put      -> `write_json_doc`    (main.py:108-113; aws_init.py:72-78)

Paths are local paths or Hadoop-FS URIs (`s3a://...` on a real cluster;
S3A credentials/endpoint come from Spark conf, never from this module).
Config documents (queues, column lists) stay driver-side JSON. The
survey's sinks (deliver, discover, the metrics table) are schema-sized
local frames and leave from the driver, as the reference's one pandas
call per table does: their rows are collected with no Spark job,
serialised in memory and put by `_put`. Only the scans read through the
executors.

The reference's population-modes cache (`read_or_build_cache`,
chisquared_tester.py:782-838) and the ORC, Hive-partitioned and
schema-merged helpers, which no survey step uses, are in
`catalog/io_q.py`; they write through Spark's writer.
"""

from __future__ import annotations

import csv
import io
import json
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S1: schema-on-read parquet scan."""
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """S3: CSV scan with header + schema inference. A quote inside a
    quoted field is escaped by doubling it (RFC 4180, as pandas
    ``to_csv`` and :func:`write_csv_single` write it), not by Spark's
    default backslash."""
    return (
        spark.read.option("header", header)
        .option("inferSchema", True)
        .option("escape", '"')
        .csv(path)
    )


def read_json_table(spark: SparkSession, path: str) -> DataFrame:
    """S2 (tabular): newline-delimited / array JSON as a DataFrame."""
    return spark.read.option("multiLine", True).json(path)


def _hadoop_fs(spark: SparkSession | None, path: str):
    """(Hadoop FileSystem of ``path``, Hadoop ``Path`` class)."""
    if spark is None:
        # without a session a URI would silently fall through to local
        # file IO (a literal local 's3a:/...' path)
        raise ValueError(f"URI path {path!r} requires a SparkSession")
    sc = spark.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(sc._jsc.hadoopConfiguration()), Path


def read_json_doc(path: str, spark: SparkSession | None = None):
    """S2 (config document): driver-side JSON object get.

    Local paths use plain file IO; URI paths (`s3a://...`) go through
    the Hadoop FS API when a session is supplied — same protocol the
    reference's s3fs getters speak (s3_data_fetching_functions.py:20-26).
    """
    if "://" not in path:
        with open(path) as fh:
            return json.load(fh)
    fs, Path = _hadoop_fs(spark, path)
    stream = fs.open(Path(path))
    try:
        IOUtils = spark.sparkContext._jvm.org.apache.commons.io.IOUtils
        return json.loads(IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()


def write_json_doc(path: str, obj, spark: SparkSession | None = None) -> None:
    """S8: driver-side JSON put (local file IO, or Hadoop FS for URIs)."""
    _put(spark, path, json.dumps(obj, indent=2).encode("utf-8"))


def _put(
    spark: SparkSession | None, path: str, data: bytes, part: str | None = None
) -> None:
    """Put ``data`` at ``path``: plain file IO for a local path, the
    Hadoop FS API for a URI (``s3a://``, ``file://``).

    With ``part``, ``path`` is a sink directory in Spark's layout: what
    was at ``path`` is removed, then ``data`` is written as its one file
    ``part`` and an empty ``_SUCCESS`` last, so a crash part-way never
    leaves the marker beside partial data.
    """
    files = [(path, data)]
    if part is not None:
        files = [(f"{path}/{part}", data), (f"{path}/_SUCCESS", b"")]
    if "://" in path:
        fs, Path = _hadoop_fs(spark, path)
        if part is not None:
            fs.delete(Path(path), True)
        for name, blob in files:
            stream = fs.create(Path(name), True)
            try:
                stream.write(blob)
            finally:
                stream.close()
        return
    if part is not None and os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path)
    elif part is not None and os.path.lexists(path):
        os.remove(path)
    os.makedirs(os.path.dirname(files[0][0]) or ".", exist_ok=True)
    for name, blob in files:
        with open(name, "wb") as fh:
            fh.write(blob)


def exists(spark: SparkSession, path: str) -> bool:
    """S4: Hadoop-FS existence probe (works for local and s3a URIs)."""
    fs, Path = _hadoop_fs(spark, path)
    return bool(fs.exists(Path(path)))


def write_parquet(df: DataFrame, path: str) -> None:
    """S6: parquet sink of a local frame (``df.isLocal()``, a plan check:
    every ``contingency.local_frame``), overwriting ``path``.

    Its rows are collected, which starts no Spark job, turned into an
    Arrow table by PySpark's own row converter (a timestamp, collected
    as a naive local-time datetime, becomes its UTC instant) and put as
    one snappy Parquet file. A frame sized by its data is refused: it
    belongs to Spark's writer (``catalog/io_q.py``).
    """
    if not df.isLocal():
        raise ValueError(
            "write_parquet writes local frames from the driver; write a "
            "frame sized by its data with df.write"
        )
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = df.collect()
    table = (
        LocalDataToArrowConversion.convert(rows, df.schema, False)
        if rows
        else to_arrow_schema(df.schema).empty_table()
    )
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf, compression="snappy")
    data = buf.getvalue().to_pybytes()
    _put(df.sparkSession, path, data, "part-00000.snappy.parquet")


def _csv_text(v) -> str:
    """One CSV field's text, before quoting: NULL prints empty, booleans
    and non-finite doubles as Spark's tokens (``true``, ``NaN``,
    ``Infinity``), which its CSV scan reads back, and a double as
    Python's shortest repr (maybe other digits than Java's, the same
    value). An empty string prints as NULL does, as pandas ``to_csv``
    prints both."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float) and not math.isfinite(v):
        return "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    return str(v)


def write_csv_single(df: DataFrame, path: str) -> None:
    """S5: single-file CSV sink (pandas ``to_csv`` parity: one file,
    header row, RFC 4180 quoting, so a quote inside a field is doubled
    where Spark's writer would backslash it), overwriting ``path``. The
    table is tiny (the metrics table), so it is collected and written
    from the driver."""
    out = io.StringIO()
    writer = csv.writer(out, lineterminator="\n")
    writer.writerow(df.columns)
    writer.writerows([_csv_text(v) for v in r] for r in df.collect())
    _put(df.sparkSession, path, out.getvalue().encode("utf-8"), "part-00000.csv")

