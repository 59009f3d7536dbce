"""Round-8 widening operators: CUPED, BH-FDR, leakage-safe group
split, out-of-fold target encoding, feature hashing — planted /
hand-computed / mirror checks."""
from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.catalog.ml_q import (
    hashed_features,
    target_encode_oof,
)
from qudo_etl_pipeline_spark.operators.analytics import bh_fdr, cuped_adjust
from qudo_etl_pipeline_spark.operators.curation import split_by_group


def ref_hash64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_cuped_affine_covariate_equalizes_group_means(spark):
    # Y = 2X + 5 exactly -> pooled theta = 2, rho^2 = 1, and CUPED
    # removes the whole between-group difference: both adjusted means
    # equal the grand adjusted mean
    rows = [("A", float(x), 2.0 * x + 5.0) for x in range(1, 11)]
    rows += [("B", float(x), 2.0 * x + 5.0) for x in range(11, 21)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {
        r["g"]: r for r in cuped_adjust(df, "g", "y", "x").collect()
    }
    assert out["A"]["theta6"] == 2.0
    assert out["A"]["var_reduction6"] == 1.0
    assert out["A"]["mean_metric6"] == 16.0
    assert out["B"]["mean_metric6"] == 36.0
    assert out["A"]["mean_adj6"] == out["B"]["mean_adj6"] == 26.0


def test_cuped_constant_covariate_nulls_theta(spark):
    df = spark.createDataFrame(
        [("A", 1.0, 10.0), ("A", 1.0, 20.0), ("B", 1.0, 30.0)],
        "g string, x double, y double",
    )
    for r in cuped_adjust(df, "g", "y", "x").collect():
        assert r["theta6"] is None and r["mean_adj6"] is None
        assert r["mean_metric6"] is not None


def test_bh_fdr_hand_computed(spark):
    # classic worked example: q_i = m*p/i = .05 x4 then .5;
    # the reverse running min leaves them; alpha .05 rejects the first 4
    rows = [("t1", 0.01), ("t2", 0.02), ("t3", 0.03), ("t4", 0.04),
            ("t5", 0.5)]
    df = spark.createDataFrame(rows, "test_id string, p double")
    out = bh_fdr(df, "test_id", "p", alpha=0.05).collect()
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    assert [r["p_adj6"] for r in out] == [0.05, 0.05, 0.05, 0.05, 0.5]
    assert [r["rejected"] for r in out] == [1, 1, 1, 1, 0]
    # monotone: p_adj never decreases with rank
    adj = [r["p_adj6"] for r in out]
    assert adj == sorted(adj)


def test_bh_fdr_gate_enforces_test_frame_contract(spark):
    big = spark.range(500).select(
        F.col("id").cast("string").alias("test_id"),
        (F.col("id").cast("double") / 500.0).alias("p"),
    )
    with pytest.raises(Exception, match="bh_fdr.*max_domain"):
        bh_fdr(big, "test_id", "p", max_tests=100).collect()


def test_split_by_group_never_straddles_and_is_proportional(spark):
    docs = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5_000).cast("string").alias("grp"),
    )
    out = split_by_group(
        docs, "grp", {"train": 800_000, "val": 100_000, "test": 100_000}
    )
    per_group = out.groupBy("grp").agg(
        F.countDistinct("split").alias("k")
    )
    assert per_group.filter(F.col("k") != 1).count() == 0
    shares = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert 0.76 <= shares["train"] / 20_000 <= 0.84
    assert set(shares) == {"train", "val", "test"}
    # deterministic under reruns
    a = sorted(out.collect())
    b = sorted(
        split_by_group(
            docs, "grp",
            {"train": 800_000, "val": 100_000, "test": 100_000},
        ).collect()
    )
    assert a == b


def test_split_by_group_rejects_bad_fracs(spark):
    docs = spark.range(2).select(F.col("id").alias("g"))
    with pytest.raises(ValueError, match="sum to denominator"):
        split_by_group(docs, "g", {"train": 1, "test": 1})


def test_target_encode_oof_excludes_own_fold(spark):
    df = spark.range(1000).select(
        F.col("id").alias("rid"),
        (F.col("id") % 3).cast("string").alias("cat"),
        (F.col("id") % 7 == 0).cast("bigint").alias("y"),
    )
    rows = target_encode_oof(
        df, "rid", "cat", "y", n_folds=4, smoothing=10, seed=1
    ).collect()
    # recompute from the emitted fold assignment: mirror arithmetic
    from collections import defaultdict

    cell_n, cell_s = defaultdict(int), defaultdict(int)
    for r in rows:
        cell_n[(r["cat"], r["fold"])] += 1
        cell_s[(r["cat"], r["fold"])] += r["y"]
    cat_n, cat_s = defaultdict(int), defaultdict(int)
    for (c, f), n in cell_n.items():
        cat_n[c] += n
        cat_s[c] += cell_s[(c, f)]
    gn = sum(cat_n.values())
    gs = sum(cat_s.values())
    gmean = gs / gn
    for r in rows:
        on = cat_n[r["cat"]] - cell_n[(r["cat"], r["fold"])]
        os_ = cat_s[r["cat"]] - cell_s[(r["cat"], r["fold"])]
        expected = round((os_ + 10.0 * gmean) / (on + 10.0), 6)
        assert r["te6"] == pytest.approx(expected, abs=2e-6)
    # fold assignment matches the documented hash
    for r in rows[:20]:
        assert r["fold"] == ref_hash64(f"fold:1:{r['rid']}") % 4


def test_hashed_features_matches_python_mirror(spark):
    df = spark.createDataFrame(
        [(1, "F", "1-URGENT"), (2, "O", None), (3, "F", "5-LOW")],
        "id bigint, s string, p string",
    )
    rows = hashed_features(df, "id", ["s", "p"], n_features=64).collect()
    # NULL cells emit nothing
    assert len(rows) == 5
    for r in rows:
        val = {"s": {1: "F", 2: "O", 3: "F"},
               "p": {1: "1-URGENT", 3: "5-LOW"}}[r["col_name"]][r["id"]]
        h = ref_hash64(f"feat:{r['col_name']}:{val}")
        assert r["feature_index"] == h % 64
        assert r["sign"] == (1 if h % 128 < 64 else -1)
    # same value under different columns hashes independently
    df2 = spark.createDataFrame([(1, "x", "x")], "id bigint, a string, b string")
    out2 = {r["col_name"]: r for r in hashed_features(df2, "id", ["a", "b"], 64).collect()}
    assert ref_hash64("feat:a:x") % 64 == out2["a"]["feature_index"]
    assert ref_hash64("feat:b:x") % 64 == out2["b"]["feature_index"]


def test_roc_auc_known_values(spark):
    from qudo_etl_pipeline_spark.operators.analytics import roc_auc

    # perfect separation -> 1; inverted -> 0; constant score -> 0.5
    rows = [(float(i), 1 if i >= 5 else 0) for i in range(10)]
    df = spark.createDataFrame(rows, "s double, y bigint")
    assert roc_auc(df, "s", "y").collect()[0]["auc6"] == 1.0
    inv = df.select((F.lit(10.0) - F.col("s")).alias("s"), "y")
    assert roc_auc(inv, "s", "y").collect()[0]["auc6"] == 0.0
    const = df.select(F.lit(1.0).alias("s"), "y")
    assert roc_auc(const, "s", "y").collect()[0]["auc6"] == 0.5
    # hand-computed with ties: scores [1,1,2,3], labels [0,1,0,1]
    # pairs (pos,neg): (1v1: tie .5), (1v2: 0), (3v1: 1), (3v2: 1)
    # AUC = (0.5 + 0 + 1 + 1) / 4 = 0.625
    t = spark.createDataFrame(
        [(1.0, 0), (1.0, 1), (2.0, 0), (3.0, 1)], "s double, y bigint"
    )
    r = roc_auc(t, "s", "y").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc6"]) == (2, 2, 0.625)
    # single-class input -> NULL auc
    pos = df.filter(F.col("y") == 1)
    assert roc_auc(pos, "s", "y").collect()[0]["auc6"] is None


def test_calibration_curve_planted_exact(spark):
    from qudo_etl_pipeline_spark.operators.analytics import (
        calibration_curve,
    )

    # score 0.05 with 1/10 positives, score 0.85 with 9/10 positives:
    # two bins, exact means/rates/gaps and hand-computed ECE
    rows = [(0.05, 1 if i == 0 else 0) for i in range(10)]
    rows += [(0.85, 0 if i == 0 else 1) for i in range(10)]
    df = spark.createDataFrame(rows, "s double, y bigint")
    out = {r["bucket"]: r for r in calibration_curve(df, "s", "y").collect()}
    assert set(out) == {0, 8}
    assert out[0]["mean_score6"] == 0.05 and out[0]["frac_pos6"] == 0.1
    assert out[8]["mean_score6"] == 0.85 and out[8]["frac_pos6"] == 0.9
    assert out[0]["gap6"] == pytest.approx(0.05, abs=1e-9)
    assert out[8]["gap6"] == pytest.approx(0.05, abs=1e-9)
    # ECE = (10/20)*0.05 + (10/20)*0.05 = 0.05, same on every row
    assert out[0]["ece6"] == out[8]["ece6"] == 0.05
    # out-of-range scores clamp into edge bins
    edge = spark.createDataFrame(
        [(-0.2, 0), (1.3, 1)], "s double, y bigint"
    )
    got = {r["bucket"] for r in calibration_curve(edge, "s", "y").collect()}
    assert got == {0, 9}


def test_golden_record_rules_and_tiebreaks(spark):
    from qudo_etl_pipeline_spark.operators.entity import golden_record

    rows = [
        # grp, name, price, status, day
        (1, "alice", 10.0, "open", 1),
        (1, "alexandra", 30.0, "closed", 3),
        (1, "bob", 20.0, "open", 2),
        (2, "zed", 5.0, None, 9),
        (2, "zz", 5.0, "hold", 1),
    ]
    df = spark.createDataFrame(
        rows, "g bigint, name string, price double, status string, day bigint"
    )
    out = {
        r["g"]: r
        for r in golden_record(
            df,
            "g",
            {
                "price": "max",
                "name": "longest",
                "status": "newest",
                "day": "min",
            },
            recency_col="day",
        ).collect()
    }
    assert out[1]["price"] == 30.0
    assert out[1]["name"] == "alexandra"
    assert out[1]["status"] == "closed"  # day 3 wins
    assert out[1]["day"] == 1
    # NULL loses to any value under newest, even at higher recency
    assert out[2]["status"] == "hold"
    # mode with deterministic tie-break: counts tie -> smallest value
    m = spark.createDataFrame(
        [(1, "b"), (1, "a"), (1, "a"), (1, "b"), (1, "c")],
        "g bigint, v string",
    )
    got = golden_record(m, "g", {"v": "most_frequent"}).collect()[0]
    assert got["v"] == "a"
    import pytest as _pt

    with _pt.raises(ValueError, match="needs recency_col"):
        golden_record(df, "g", {"status": "newest"})
    with _pt.raises(ValueError, match="unknown survivorship"):
        golden_record(df, "g", {"status": "avg"})


def test_diff_in_diff_recovers_planted_effect(spark):
    from qudo_etl_pipeline_spark.operators.analytics import diff_in_diff

    # parallel trends by construction: control 10 -> 12, treated
    # 20 -> 22 + effect 7
    rows = []
    for i in range(100):
        rows.append((0, 0, 10.0 + (i % 5)))
        rows.append((0, 1, 12.0 + (i % 5)))
        rows.append((1, 0, 20.0 + (i % 5)))
        rows.append((1, 1, 29.0 + (i % 5)))
    df = spark.createDataFrame(rows, "t int, p int, y double")
    r = diff_in_diff(df, "t", "p", "y").collect()[0]
    assert r["delta_control6"] == 2.0
    assert r["delta_treated6"] == 9.0
    assert r["did6"] == 7.0
    assert r["n_c0"] == r["n_t1"] == 100
    # a missing cell nulls every estimate
    partial = df.filter(~((F.col("t") == 1) & (F.col("p") == 1)))
    r2 = diff_in_diff(partial, "t", "p", "y").collect()[0]
    assert r2["did6"] is None and r2["mean_c0_6"] is None
    assert r2["n_t1"] == 0


def test_ab_srm_check_detects_planted_mismatch(spark):
    from qudo_etl_pipeline_spark.operators.analytics import ab_srm_check

    # 600 vs 400 under an intended 50/50: chi2 = 2*(100^2/500) = 40
    df = spark.createDataFrame(
        [("A",)] * 600 + [("B",)] * 400, "g string"
    )
    r = ab_srm_check(df, "g").collect()[0]
    assert (r["n_a"], r["n_b"]) == (600, 400)
    assert r["chi2_6"] == 40.0
    assert r["is_mismatch"] == 1
    # intended 3:2 split matches exactly -> chi2 0, healthy
    r2 = ab_srm_check(df, "g", 3, 2).collect()[0]
    assert r2["chi2_6"] == 0.0 and r2["is_mismatch"] == 0
    assert r2["expected_a_share6"] == 0.6
    # three labels -> all NULL (the guard)
    bad = df.union(spark.createDataFrame([("C",)], "g string"))
    r3 = ab_srm_check(bad, "g").collect()[0]
    assert r3["chi2_6"] is None and r3["is_mismatch"] is None


def test_ab_power_mde_hand_value(spark):
    import math

    from qudo_etl_pipeline_spark.operators.analytics import (
        Z_BETA_80,
        Z_CRIT_95,
        ab_power_mde,
    )

    # n=1000 per arm, pooled rate 0.10
    rows = [("A", 1 if i < 100 else 0) for i in range(1000)]
    rows += [("B", 1 if i < 100 else 0) for i in range(1000)]
    df = spark.createDataFrame(rows, "g string, y int")
    r = ab_power_mde(df, "g", "y").collect()[0]
    expected = (Z_CRIT_95 + Z_BETA_80) * math.sqrt(
        0.1 * 0.9 * (1 / 1000 + 1 / 1000)
    )
    assert r["pooled_rate6"] == 0.1
    assert r["mde_abs6"] == pytest.approx(expected, abs=1e-6)
    assert r["mde_rel6"] == pytest.approx(expected / 0.1, abs=1e-5)
    # degenerate rate (all failures) -> NULL MDEs, counts intact
    zero = df.withColumn("y", F.lit(0))
    r2 = ab_power_mde(zero, "g", "y").collect()[0]
    assert r2["mde_abs6"] is None and r2["n_a"] == 1000


def test_psi_from_binned_equals_psi_drift_on_shared_buckets(spark):
    from qudo_etl_pipeline_spark.operators.analytics import (
        psi_drift,
        psi_from_binned,
    )

    a = spark.range(2000).select(
        (F.col("id") % 100).cast("double").alias("v")
    )
    b = spark.range(2000).select(
        ((F.col("id") % 100) * 1.3 + 5.0).alias("v")
    )
    direct = psi_drift(a, b, "v", bins=10).collect()[0]
    # rebuild the SAME pooled-range buckets psi_drift uses, then bin
    # each side and compose through psi_from_binned
    u = a.unionByName(b)
    lo, hi = u.agg(F.min("v"), F.max("v")).collect()[0]
    width = (hi - lo) / 10.0
    bucket = F.greatest(
        F.lit(0),
        F.least(F.lit(9), F.floor((F.col("v") - F.lit(lo)) / F.lit(width))),
    ).cast("bigint")
    ca = a.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n"))
    cb = b.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n"))
    composed = psi_from_binned(ca, cb).collect()[0]
    assert composed["psi6"] == direct["psi6"]
    assert (composed["n_a"], composed["n_b"]) == (
        direct["n_a"], direct["n_b"],
    )
    # identical samples -> zero drift through the binned path too
    same = psi_from_binned(ca, ca).collect()[0]
    assert same["psi6"] == 0.0
    # empty side -> 0 rows
    empty = ca.filter(F.lit(False))
    assert psi_from_binned(ca, empty).count() == 0
