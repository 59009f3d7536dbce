"""Tests for operators/popmodes.py (M27) and sources/io.py (S1-S8)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.operators.popmodes import population_modes
from qudo_etl_pipeline_spark.sources import io as IO


@pytest.fixture(scope="module")
def multiselect(spark):
    """Two clusters, one 2-sub-column question; hand-computable modes."""
    rows = [
        # cluster, w, q_a, q_b
        (0, 2.0, "apple", "banana"),
        (0, 1.0, "apple", "not selected"),
        (0, 1.0, "not selected", "not selected"),
        (1, 1.0, "cherry", "cherry"),       # duplicate collapses (W4)
        (1, 3.0, "banana", None),
        (1, 1.0, "banana", "cherry"),
    ]
    return spark.createDataFrame(
        rows, "cluster: int, w: double, q_a: string, q_b: string"
    )


def test_population_modes_hand_computed(spark, multiselect):
    out = population_modes(
        multiselect,
        {"fruit": ["q_a", "q_b"]},
        cluster_col="cluster",
        weight_col="w",
    ).collect()
    by_cluster = {r["cluster"]: r for r in out}
    # total weight 9.0, total rows 6
    c0 = by_cluster[0]
    # cluster 0 exploded: apple(w2)+banana(w2); apple(w1); ['not selected'](w1)
    # apple weighted 3.0 -> mode; prop = 3/9 = 0.33
    assert c0["weighted_mode"] == "apple"
    assert c0["weighted_mode_prop"] == pytest.approx(0.33)
    # unweighted: apple 2, banana 1, not selected 1 -> apple 2/6 = 0.33
    assert c0["unweighted_mode"] == "apple"
    assert c0["unweighted_mode_prop"] == pytest.approx(0.33)
    c1 = by_cluster[1]
    # banana w=4 vs cherry w=2 -> banana 4/9 = 0.44
    assert c1["weighted_mode"] == "banana"
    assert c1["weighted_mode_prop"] == pytest.approx(0.44)
    # unweighted: banana 2, cherry 2 -> tie -> lexicographically first
    assert c1["unweighted_mode"] == "banana"


def test_population_modes_not_selected_only_kept(spark, multiselect):
    """A row whose only distinct answer is 'not selected' keeps it
    (chisquared_tester.py:745-752)."""
    only = multiselect.filter(
        (F.col("q_a") == "not selected") & (F.col("q_b") == "not selected")
    )
    out = population_modes(
        only, {"fruit": ["q_a", "q_b"]}, cluster_col="cluster"
    ).collect()
    assert out[0]["unweighted_mode"] == "not selected"


def test_io_roundtrips(spark, tmp_path):
    from qudo_etl_pipeline_spark.operators.contingency import local_frame

    df = local_frame(spark, "id: bigint, name: string", [(1, "a"), (2, "b")])
    pq = str(tmp_path / "t.parquet")
    IO.write_parquet(df, pq)
    assert IO.exists(spark, pq)
    assert not IO.exists(spark, str(tmp_path / "missing"))
    assert IO.read_parquet(spark, pq).count() == 2

    csv_dir = str(tmp_path / "t_csv")
    IO.write_csv_single(df, csv_dir)
    back = IO.read_csv(spark, csv_dir)
    assert back.count() == 2 and set(back.columns) == {"id", "name"}

    doc_path = str(tmp_path / "conf" / "doc.json")
    IO.write_json_doc(doc_path, {"cols": ["a", "b"]})
    assert IO.read_json_doc(doc_path) == {"cols": ["a", "b"]}

    # URI paths route through the Hadoop FS API (the s3a:// code path)
    uri = f"file://{tmp_path}/doc_uri.json"
    IO.write_json_doc(uri, {"cols": ["c"]}, spark=spark)
    assert IO.read_json_doc(uri, spark=spark) == {"cols": ["c"]}

    jt = str(tmp_path / "tbl.json")
    with open(jt, "w") as fh:
        fh.write('[{"x": 1}, {"x": 2}]')
    assert IO.read_json_table(spark, jt).count() == 2


def test_read_or_build_cache(spark, tmp_path):
    from qudo_etl_pipeline_spark.catalog.io_q import read_or_build_cache

    path = str(tmp_path / "cache.parquet")
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).toDF("id")

    first = read_or_build_cache(spark, path, build)
    assert first.count() == 3 and len(calls) == 1
    second = read_or_build_cache(spark, path, build)
    assert second.count() == 3 and len(calls) == 1  # cache hit, no rebuild


def test_json_doc_uri_without_session_raises(tmp_path):
    """A URI path with spark=None must fail loudly, not write a literal
    local 's3a:/...' directory (or read one)."""
    import pytest

    from qudo_etl_pipeline_spark.sources import io as IO

    with pytest.raises(ValueError, match="requires a SparkSession"):
        IO.write_json_doc("s3a://bucket/doc.json", {"a": 1})
    with pytest.raises(ValueError, match="requires a SparkSession"):
        IO.read_json_doc("s3a://bucket/doc.json")


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from qudo_etl_pipeline_spark.catalog.io_q import read_orc, write_orc

    src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    path = str(tmp_path / "nation_orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    # filters and pruned projections reach the ORC scan
    plan = (
        back.filter(F.col("n_regionkey") == 1)
        .select("n_name")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "n_regionkey" in plan.split(
        "PushedFilters"
    )[1][:120]


def test_partitioned_sink_dynamic_overwrite(spark, tmp_path):
    from pyspark.sql import functions as F

    from qudo_etl_pipeline_spark.catalog.io_q import write_parquet_partitioned

    path = str(tmp_path / "events_by_type")
    full = spark.createDataFrame(
        [(1, "click", 1.0), (2, "view", 2.0), (3, "click", 3.0)],
        "event_id long, event_type string, value double",
    )
    write_parquet_partitioned(full, path, ["event_type"])
    assert spark.read.parquet(path).count() == 3
    # rewrite ONLY the 'click' partition with corrected values
    fix = spark.createDataFrame(
        [(1, "click", 10.0), (3, "click", 30.0)],
        "event_id long, event_type string, value double",
    )
    write_parquet_partitioned(fix, path, ["event_type"])
    back = spark.read.parquet(path)
    # 'view' partition untouched, 'click' replaced
    assert back.count() == 3
    vals = {r["event_id"]: r["value"] for r in back.collect()}
    assert vals == {1: 10.0, 2: 2.0, 3: 30.0}
    # partition pruning reaches the scan
    plan = (
        back.filter(F.col("event_type") == "view")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan


def test_schema_evolution_merged_read(spark, tmp_path):
    from pyspark.sql import functions as F

    from qudo_etl_pipeline_spark.catalog.io_q import read_parquet_merged

    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a")], "id long, name string"
    ).write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(path)
    back = read_parquet_merged(spark, path)
    assert set(back.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in back.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5
    # filters still push down through the merged scan
    plan = (
        back.filter(F.col("id") == 2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan
