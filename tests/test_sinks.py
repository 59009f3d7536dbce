"""The survey's sinks (SURVEY S5/S6): a local frame is written from the
driver with no Spark job, in Spark's directory layout (one data file,
then ``_SUCCESS``); a frame sized by its data is refused, and the
catalog's cache writes one through Spark's writer. Read back by pandas
and by Spark, a sink equals the frame written."""

from __future__ import annotations

import csv
import datetime as dt
import glob
import math
import os
import time

import pandas as pd
import pyarrow.parquet as pq
import pytest

from qudo_etl_pipeline_spark.operators.contingency import local_frame
from qudo_etl_pipeline_spark.sources import io as IO
from tests.test_pipeline import _jobs_started_by

DDL = "s: string, d: double, b: bigint, f: boolean"
ROWS = [
    ("a", 1.5, 3, True),
    (None, None, None, None),
    ("b,\"quoted\"", -0.25, -(2**62), False),
    ("", 0.1 + 0.2, 0, None),
]


def _files(path: str) -> list[str]:
    """The directory's files, without the Hadoop checksum files."""
    return sorted(f for f in os.listdir(path) if not f.endswith(".crc"))


def _pandas_rows(path: str) -> list[tuple]:
    pdf = pd.read_parquet(path)
    return [
        tuple(None if pd.isna(v) else v for v in row)
        for row in pdf.itertuples(index=False)
    ]


@pytest.fixture(scope="module")
def frame(spark):
    return local_frame(spark, DDL, ROWS)


def test_local_sinks_start_no_job_and_other_frames_take_spark(
    spark, frame, tmp_path
):
    assert frame.isLocal()
    # the probe sees a job when one runs
    assert _jobs_started_by(spark, spark.range(3).collect) > 0
    pq_dir, csv_dir = str(tmp_path / "pq"), str(tmp_path / "csv")
    assert _jobs_started_by(spark, lambda: IO.write_parquet(frame, pq_dir)) == 0
    assert _jobs_started_by(spark, lambda: IO.write_csv_single(frame, csv_dir)) == 0
    assert _files(pq_dir) == ["_SUCCESS", "part-00000.snappy.parquet"]
    assert _files(csv_dir) == ["_SUCCESS", "part-00000.csv"]

    # a frame sized by its data is not local: write_parquet refuses it,
    # the catalog's cache writes it through Spark's writer, all rows
    from qudo_etl_pipeline_spark.catalog.io_q import read_or_build_cache

    big = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id: bigint, v: string"
    ).repartition(4)
    assert not big.isLocal()
    big_dir = str(tmp_path / "big")
    with pytest.raises(ValueError, match="local frames"):
        IO.write_parquet(big, big_dir)
    assert not os.path.exists(big_dir)
    assert (
        _jobs_started_by(spark, lambda: read_or_build_cache(spark, big_dir, lambda: big))
        > 0
    )
    parts = [f for f in _files(big_dir) if f.startswith("part-")]
    assert len(parts) > 1  # Spark's multi-part layout
    assert sorted(spark.read.parquet(big_dir).collect()) == sorted(big.collect())


def test_overwrite_replaces_an_older_multi_part_output(spark, frame, tmp_path):
    path = str(tmp_path / "sink")
    old = spark.range(50).toDF("other").repartition(3)
    old.write.parquet(path)
    assert len([f for f in _files(path) if f.startswith("part-")]) > 1
    IO.write_parquet(frame, path)
    assert _files(path) == ["_SUCCESS", "part-00000.snappy.parquet"]
    assert spark.read.parquet(path).collect() == frame.collect()

    csv_dir = str(tmp_path / "csv")
    old.write.option("header", True).csv(csv_dir)
    IO.write_csv_single(frame, csv_dir)
    assert _files(csv_dir) == ["_SUCCESS", "part-00000.csv"]
    with open(os.path.join(csv_dir, "part-00000.csv"), newline="") as fh:
        assert [r["s"] for r in csv.DictReader(fh)] == [
            "a", "", 'b,"quoted"', ""
        ]
    # the scan reads the doubled quote back (RFC 4180, not a backslash)
    back = IO.read_csv(spark, csv_dir).collect()
    assert [r["s"] for r in back] == ["a", None, 'b,"quoted"', None]
    assert pd.read_csv(csv_dir + "/part-00000.csv")["s"][2] == 'b,"quoted"'


def test_success_marker_is_written_after_the_data(frame, tmp_path, monkeypatch):
    """The part file is written before ``_SUCCESS``; a crash while
    writing it leaves no marker (and no older output) behind."""
    path = str(tmp_path / "sink")
    opened = []
    real_open = open

    def recording_open(name, *args, **kwargs):
        opened.append(os.path.basename(name))
        return real_open(name, *args, **kwargs)

    monkeypatch.setattr(IO, "open", recording_open, raising=False)
    IO.write_parquet(frame, path)
    assert opened == ["part-00000.snappy.parquet", "_SUCCESS"]

    def crashing_open(name, *args, **kwargs):
        if os.path.basename(name).startswith("part-"):
            raise OSError("disk died mid-write")
        return real_open(name, *args, **kwargs)

    monkeypatch.setattr(IO, "open", crashing_open, raising=False)
    with pytest.raises(OSError, match="mid-write"):
        IO.write_parquet(frame, path)
    assert not os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not os.path.exists(os.path.join(path, "part-00000.snappy.parquet"))


def test_file_uri_takes_the_hadoop_fs_branch(spark, frame, tmp_path):
    path = str(tmp_path / "uri_sink")
    uri = f"file://{path}"
    spark.range(10).repartition(2).write.parquet(uri)
    IO.write_parquet(frame, uri)
    # Hadoop's local file system writes a checksum beside each file;
    # plain file IO does not
    assert sorted(os.listdir(path)) == [
        "._SUCCESS.crc",
        ".part-00000.snappy.parquet.crc",
        "_SUCCESS",
        "part-00000.snappy.parquet",
    ]
    assert spark.read.parquet(uri).collect() == frame.collect()
    assert _pandas_rows(path) == [tuple(r) for r in frame.collect()]

    IO.write_csv_single(frame, f"file://{tmp_path}/uri_csv")
    assert _files(str(tmp_path / "uri_csv")) == ["_SUCCESS", "part-00000.csv"]


def test_types_round_trip_like_the_spark_written_sink(spark, frame, tmp_path):
    """String, double, bigint and boolean columns with NULLs read back
    equal to ``frame.collect()``, by Spark under the frame's schema and
    by pandas with the dtypes of the same frame written by Spark."""
    path, spark_path = str(tmp_path / "driver"), str(tmp_path / "spark")
    IO.write_parquet(frame, path)
    frame.write.parquet(spark_path)
    back = spark.read.parquet(path)
    assert back.schema == frame.schema
    assert back.collect() == frame.collect()
    assert _pandas_rows(path) == [tuple(r) for r in frame.collect()]
    pdf, ref = pd.read_parquet(path), pd.read_parquet(spark_path)
    assert pdf.dtypes.to_dict() == ref.dtypes.to_dict()
    pd.testing.assert_frame_equal(pdf, ref)


@pytest.fixture
def new_york_time(spark):
    """The driver's local time zone and the session's are not UTC (and
    not each other): ``collect`` gives a timestamp in the driver's."""
    tz, session_tz = os.environ.get("TZ"), spark.conf.get("spark.sql.session.timeZone")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        yield
    finally:
        if tz is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", session_tz)


def test_timestamps_round_trip_as_the_same_instant(spark, new_york_time, tmp_path):
    """A timestamp, collected as a naive local-time datetime, is written
    as its UTC instant; a timestamp without time zone as it is."""
    utc = dt.timezone.utc
    t0 = dt.datetime(2024, 7, 1, 12, 30, 15, 250, tzinfo=utc)
    t1 = dt.datetime(2024, 1, 1, 23, 0, tzinfo=utc)
    ntz = dt.datetime(2024, 7, 1, 12, 30)
    frame = local_frame(
        spark,
        "t: timestamp, n: timestamp_ntz, a: array<timestamp>",
        [(t0, ntz, [t1, None]), (None, None, None)],
    )
    assert frame.isLocal()
    path = str(tmp_path / "ts")
    IO.write_parquet(frame, path)
    back = spark.read.parquet(path)
    assert back.schema == frame.schema
    assert back.collect() == frame.collect()
    pdf = pd.read_parquet(path)
    assert pdf["t"][0] == pd.Timestamp(t0)
    assert pdf["n"][0] == pd.Timestamp(ntz)
    assert pq.read_table(path).column("a").to_pylist() == [[t1, None], None]


def test_csv_doubles_parse_to_the_written_floats(spark, tmp_path):
    """Python's shortest repr and Java's ``Double.toString`` may print
    different digits; both parse to the same double."""
    values = [
        0.1 + 0.2, 1 / 3, 1e-5, 1e22, 5e-324, 123456789.123, -0.0,
        2.0**53 + 2, math.inf, -math.inf, math.nan, None,
    ]
    df = local_frame(
        spark, "i: bigint, x: double", [(i, v) for i, v in enumerate(values)]
    )
    IO.write_csv_single(df, str(tmp_path / "driver"))
    df.coalesce(1).write.option("header", True).csv(str(tmp_path / "spark"))

    def parsed(d):
        [path] = glob.glob(str(tmp_path / d / "*.csv"))
        with open(path, newline="") as fh:
            return [float(r["x"]) if r["x"] else None for r in csv.DictReader(fh)]

    def same(a, b):
        if a is None or b is None:
            return a is b
        return (math.isnan(a) and math.isnan(b)) or (
            a == b and math.copysign(1, a) == math.copysign(1, b)
        )

    for got, ref, v in zip(parsed("driver"), parsed("spark"), values):
        assert same(got, v) and same(ref, v), (got, ref, v)
    back = IO.read_csv(spark, str(tmp_path / "driver")).orderBy("i").collect()
    assert [r["x"] for r in back][:8] == values[:8]
