"""Plan-layer tests: melt escaping, salted-join equivalence, join
strategy choice, the contingency cell plan on skewed input."""

from __future__ import annotations

from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.plans.melt import melt
from qudo_etl_pipeline_spark.plans.skew import salted_join

from tests.test_contingency import _assert_one_combined_shuffle, _final_plan


def test_melt_escapes_hostile_column_names(spark):
    df = spark.createDataFrame(
        [(1, "a", "b"), (2, "c", "d")], ["id", "w`eird", "q'uo\\te"]
    )
    rows = sorted(
        (r["variable"], r["value"]) for r in melt(df, id_vars=["id"]).collect()
    )
    assert rows == [
        ("q'uo\\te", "b"),
        ("q'uo\\te", "d"),
        ("w`eird", "a"),
        ("w`eird", "c"),
    ]


def _skewed(spark):
    # hot key 'h' carries 90% of rows
    rows = [(("h" if i % 10 else f"k{i}"), i, float(i % 7)) for i in range(200)]
    return spark.createDataFrame(rows, "key string, v long, w double")


def test_salted_join_matches_plain_join(spark):
    big = _skewed(spark)
    small = spark.createDataFrame(
        [("h", 1.0), ("k10", 2.0), ("k20", 3.0)], "key string, dim double"
    )
    plain = {tuple(r) for r in big.join(small, ["key"]).collect()}
    salted = {tuple(r) for r in salted_join(big, small, ["key"], n_salts=4).collect()}
    assert salted == plain and len(plain) > 0

    plain_left = {tuple(r) for r in big.join(small, ["key"], "left").collect()}
    salted_left = {
        tuple(r)
        for r in salted_join(big, small, ["key"], n_salts=4, how="left").collect()
    }
    assert salted_left == plain_left


def _skewed_survey(spark, hot_rows=3000, cold_rows=60):
    """One (variable, cluster, value) cell holds ~98% of melt rows."""
    rows = [("c0", "same", "x%d" % (i % 5)) for i in range(hot_rows)]
    rows += [("c%d" % (i % 3), "v%d" % (i % 7), "y%d" % (i % 4)) for i in range(cold_rows)]
    return rows, spark.createDataFrame(
        rows, "cluster string, q_hot string, q_cold string"
    )


def test_contingency_auto_salting_engages_only_on_skew(spark):
    """The contingency cell aggregation has one plan shape whatever the
    skew: one hash shuffle with the partial (map-side) aggregates below
    it, on the skewed fixture and on a uniform one alike, and cell values
    equal to the hand counts. (The name dates from the removed
    ``salt_cells="auto"`` probe, which switched the skewed fixture to a
    salted two-phase plan; the map-side combine now bounds the hot
    cell.)"""
    from collections import Counter

    from qudo_etl_pipeline_spark.operators.contingency import contingency_tables

    uniform_rows = [
        ("c%d" % (i % 4), "u%d" % (i % 11), "w%d" % (i % 6)) for i in range(2000)
    ]
    uniform = spark.createDataFrame(
        uniform_rows, "cluster string, q_hot string, q_cold string"
    )
    skewed_rows, skewed = _skewed_survey(spark)
    assert Counter(r[:2] for r in skewed_rows)[("c0", "same")] == 3000
    for survey, df in ((skewed_rows, skewed), (uniform_rows, uniform)):
        t = contingency_tables(df, "cluster")
        got = {
            (r["variable"], r["cluster"], r["value"]): (r["observed"], r["w_observed"])
            for r in t.cells.collect()
        }
        _assert_one_combined_shuffle(_final_plan(t.cells))
        hand = Counter(
            (var, c, v)
            for c, hot, cold in survey
            for var, v in (("q_hot", hot), ("q_cold", cold))
        )
        assert got == {k: (n, float(n)) for k, n in hand.items()}


def test_choose_join_strategy_decisions():
    from qudo_etl_pipeline_spark.plans.skew import choose_join_strategy

    base = {
        "keys_matched": 100,
        "max_left_rows_per_key": 5,
        "max_right_rows_per_key": 1,
        "rows_left_matched": 500,
        "rows_right_matched": 100,
    }
    # small side fits the budget -> broadcast the smaller (tie -> right)
    d = choose_join_strategy(
        {**base, "rows_left": 500, "rows_right": 100},
        broadcast_rows=100,
    )
    assert d == {
        "strategy": "broadcast", "build_side": "right", "n_salts": None
    }
    # hot key: max 9000 vs avg 100 over 100 keys -> salted, capped salts
    d = choose_join_strategy(
        {
            **base,
            "rows_left": 10_000,
            "rows_right": 101,
            "max_left_rows_per_key": 9_000,
            "rows_left_matched": 10_000,
        },
        broadcast_rows=50,
        max_salts=32,
    )
    assert d["strategy"] == "salted"
    assert d["build_side"] == "left"
    assert d["n_salts"] == 32
    # balanced large-large -> shuffle
    d = choose_join_strategy(
        {**base, "rows_left": 500, "rows_right": 100},
        broadcast_rows=10,
    )
    assert d == {"strategy": "shuffle", "build_side": None, "n_salts": None}


def test_profiled_join_is_result_identical_on_planted_skew(spark):
    from qudo_etl_pipeline_spark.plans.skew import profiled_join

    # 90% of big-side rows on key 0; right side one row per key
    big = spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, F.lit(0))
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    dim = big.select("k").distinct().withColumn(
        "tag", F.concat(F.lit("t"), F.col("k"))
    )
    plain = big.join(dim, "k")
    joined, decision = profiled_join(
        big, dim, "k", broadcast_rows=50, skew_factor=8
    )
    assert decision["strategy"] == "salted"
    assert decision["build_side"] == "left"
    assert decision["n_salts"] > 1
    assert decision["profile"]["rows_left"] == 2000
    assert sorted(joined.columns) == sorted(plain.columns)
    assert (
        joined.orderBy("k", "payload").collect()
        == plain.orderBy("k", "payload").collect()
    )
    # broadcast branch: generous budget -> broadcast the dim, same rows
    joined2, d2 = profiled_join(big, dim, "k", broadcast_rows=10_000)
    assert d2["strategy"] == "broadcast" and d2["build_side"] == "right"
    assert joined2.count() == plain.count()
    # shuffle branch on balanced sides
    left = spark.range(500).select((F.col("id") % 250).alias("k"))
    right = spark.range(500).select((F.col("id") % 250).alias("k"))
    joined3, d3 = profiled_join(left, right, "k", broadcast_rows=10)
    assert d3["strategy"] == "shuffle"
    assert joined3.count() == left.join(right, "k").count()
