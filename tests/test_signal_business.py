"""Tests for ml/signal.py (M33/M34/M18/M20) and ml/business.py
(M28-M31, M35-M37) — reference: src/kraken/app/metrics.py."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.ml import business as B
from qudo_etl_pipeline_spark.ml import signal as S


@pytest.fixture(scope="module")
def deliver(spark):
    """Hand-built deliver-stats: 2 segments, overlapping + unique pairs."""
    rows = [
        # q_code, pop_mode, chi_2_result, sig_more_category, targeting_seg
        ("1001_tgt_a", "yes", 0.001, ["yes"], "0"),
        ("1002_tgt_b", "no", 0.010, ["no"], "0"),
        ("psy_2001_x", "hi", 0.020, ["hi"], "0"),
        ("1001_tgt_a", "yes", 0.002, ["yes"], "1"),  # duplicated pair
        ("ae_3001_y", "lo", 0.030, ["lo"], "1"),
        ("fun_4001_z", "mid", 0.200, ["mid"], "1"),  # not significant
    ]
    return spark.createDataFrame(
        rows,
        "q_code: string, pop_mode: string, chi_2_result: double, "
        "sig_more_category: array<string>, targeting_seg: string",
    )


@pytest.fixture(scope="module")
def labeled(spark):
    """200 rows, 2 clusters; tgt columns correlate with the cluster."""
    rng = np.random.default_rng(9)
    rows = []
    for i in range(200):
        cl = i % 2
        t1 = cl if rng.random() > 0.1 else 1 - cl
        t2 = cl if rng.random() > 0.2 else 1 - cl
        mc = "Facebook" if (cl == 0 and rng.random() > 0.3) else "Twitter"
        rows.append((i, cl, int(t1), int(t2), mc))
    return spark.createDataFrame(
        rows,
        "row_id: long, prediction: int, q1_tgt: int, q2_tgt: int, mc_social: string",
    ).cache()


def test_uniqueness(spark, deliver):
    u = B.uniqueness(deliver)
    # seg 0: 3 pairs, 1 duplicated -> 1 - 1/3; seg 1: 3 pairs, 1 dup
    assert u["0"] == pytest.approx(1 - 1 / 3)
    assert u["1"] == pytest.approx(1 - 1 / 3)


def test_communicability(spark, deliver):
    c = B.communicability(deliver)
    assert c["data"] == {"0": 1, "1": 1}
    assert c["avg"] == pytest.approx(1.0)


def test_social_presence(spark, labeled):
    sp = B.social_presence(labeled, "Facebook")
    assert 0.5 < sp[0] <= 1.0
    assert sp[1] == 0.0
    assert math.isnan(
        B.social_presence(labeled.drop("mc_social"), "Facebook")
    )


def _two_candidates(spark, a, b):
    return spark.createDataFrame(
        [(0, a[0], b[0]), (0, a[1], b[1]), (1, a[2], b[2]), (1, a[3], b[3])],
        "prediction: int, mc_a: string, mc_b: string",
    )


def test_social_presence_uses_the_candidate_that_mentions_the_platform(spark):
    df = _two_candidates(
        spark,
        ["Twitter", "TikTok", "Twitter", None],
        ["Facebook", "Twitter", "facebook groups", "Facebook"],
    )
    # only mc_b mentions the platform: exact "Facebook" answers per cluster
    assert B.social_presence(df, "Facebook") == {0: 0.5, 1: 0.5}


def test_social_presence_first_candidate_in_column_order_wins(spark):
    df = _two_candidates(
        spark,
        ["Facebook", "Facebook", "Twitter", "Facebook"],
        ["Facebook", "Twitter", "Twitter", "Twitter"],
    )
    assert B.social_presence(df, "Facebook") == {0: 1.0, 1: 0.5}
    swapped = df.select("prediction", "mc_b", "mc_a")
    assert B.social_presence(swapped, "Facebook") == {0: 0.5, 1: 0.0}


def test_social_presence_of_an_empty_frame_is_nan(spark):
    df = _two_candidates(
        spark, ["Facebook"] * 4, ["Facebook"] * 4
    ).limit(0)
    assert math.isnan(B.social_presence(df, "Facebook"))


def test_magnitude(spark, deliver, labeled):
    m = B.magnitude(deliver, labeled, ["q1_tgt", "q2_tgt"])
    # seg 0: 2 sig tgt rows / 2 tgt vars = 1.0 ratio * 0.5 share = 0.5
    # seg 1: 1 sig tgt row  / 2 tgt vars = 0.5 ratio * 0.5 share = 0.25
    assert m["0" if "0" in m else 0] == pytest.approx(0.5)
    assert m["1" if "1" in m else 1] == pytest.approx(0.25)
    assert m["all_clusters"] == pytest.approx(0.75)


def test_message_reach():
    social = {0: 0.8, 1: 0.4}
    sig = {"all": {"signal": 0.9}, "0": {"signal": 0.5}, "1": {"signal": 0.25}}
    r = B.message_reach(social, sig)
    assert r == {"0": 0.4, "1": 0.1}
    assert math.isnan(B.message_reach(float("nan"), sig))


def test_sig_variables_and_spread(spark, deliver):
    num_sig, num_sig_tgt, groups, tgt_groups = B.significant_variables_and_spread(
        deliver
    )
    assert num_sig == {"0": 3, "1": 2}
    assert num_sig_tgt == {"0": 2, "1": 1}
    # prefix of '1001_tgt_a' is '1001'; 2 occurrences overall, both sig
    assert groups["0"]["1001"] == pytest.approx(0.5)
    assert tgt_groups["0"]["1001"] == pytest.approx(0.5)


def test_classification_metrics_perfect_and_weighted(spark):
    rows = [(0, 0)] * 50 + [(1, 1)] * 30 + [(1, 0)] * 20
    df = spark.createDataFrame(rows, "label: int, prediction: int")
    m = S.classification_metrics(df, "label", "prediction")
    # sklearn-checked by hand: acc 0.8; weighted prec/rec/f1
    assert m["signal"] == pytest.approx(0.8)
    assert m["recall_score"] == pytest.approx(0.8)
    prec0, prec1 = 50 / 70, 30 / 30
    assert m["precision"] == pytest.approx(
        round((50 * prec0 + 50 * prec1) / 100, 3)
    )
    po, pe = 0.8, (50 * 70 + 50 * 30) / 100**2
    assert m["cohen_kappa_score"] == pytest.approx(round((po - pe) / (1 - pe), 3))


def test_signal_loss_rf(spark, labeled):
    out = S.signal_loss(labeled, ["q1_tgt", "q2_tgt"])
    assert out["all"]["signal"] > 0.7  # tgt features carry the cluster
    assert set(out) == {"all", "0", "1"}
    for k in ["signal", "f1_score", "precision", "recall_score", "cohen_kappa_score"]:
        assert 0 <= out["all"][k] <= 1


def test_best_signal_metric_votes(spark, labeled):
    best = S.best_signal_metric(labeled, ["q1_tgt", "q2_tgt"])
    assert "all" in best and best["all"]["signal"] > 0.5


def test_resample_shapes(spark, labeled):
    skewed = labeled.filter(
        (F.col("prediction") == 0) | (F.col("row_id") < 40)
    )
    base = skewed.select(
        F.col("q1_tgt").cast("double"),
        F.col("q2_tgt").cast("double"),
        F.col("prediction").cast("double").alias("label"),
    )
    counts = {
        r["label"]: r["n"]
        for r in base.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    over = S._resample(base, "label", "over", 42)
    oc = {
        r["label"]: r["n"]
        for r in over.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    assert oc[1.0] > counts[1.0]  # minority class grew
    sm = S._resample(base, "label", "smote", 42)
    sc = {
        r["label"]: r["n"]
        for r in sm.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    assert sc[1.0] == max(counts.values())  # exact top-up


def test_data_slicer_and_chi_square_signal(spark, labeled):
    sliced, core, sub, pct = S.data_slicer(
        labeled.filter(F.col("prediction") == 0),
        ["q1_tgt", "q2_tgt"],
        [0, 0],
    )
    assert set(core) | set(sub) == {"q1_tgt", "q2_tgt"}
    res = S.chi_square_signal(sliced, labeled, 0)
    assert res["recall_score"] > 0.5
    empty = S.chi_square_signal(
        labeled.filter(F.lit(False)), labeled, 0
    )
    assert empty == {"signal": 0, "precision": 0, "recall_score": 0, "f1_score": 0}


def test_consistency_checkers(spark, labeled):
    """A perfectly-reproducible 'model' (labels = q1_tgt majority rule)
    must score ARI near 1 on both checks."""

    def refit(train):
        def predict(frame):
            return frame.withColumn(
                "prediction", F.col("q1_tgt").cast("int")
            )

        return predict

    mc = S.model_consistency(labeled, refit)
    lc = S.label_consistency(labeled, refit)
    # q1_tgt agrees with the cluster ~90% of the time -> high but <1 ARI
    assert mc > 0.4 and lc > 0.4


def test_get_all_metrics_composition(spark, labeled, deliver):
    feats = labeled.withColumn(
        "features",
        F.array(F.col("q1_tgt").cast("double"), F.col("q2_tgt").cast("double")),
    )
    m = B.get_all_metrics(
        feats,
        deliver=deliver,
        tgt_cols=["q1_tgt", "q2_tgt"],
    )
    for key in [
        "silhouette", "davies_bouldin", "calinski_harabasz",
        "cluster_proportions", "fb_presence", "uniqueness",
        "communicability_clusters", "magnitude", "signal_loss",
        "message_reach", "num_sig_vars",
    ]:
        assert key in m, key


def test_chi_square_signal_all_null_labels(spark):
    """A non-empty slice whose labels are all NULL must yield zeros, not
    a TypeError from NULL - int arithmetic."""
    from qudo_etl_pipeline_spark.ml.signal import chi_square_signal

    df = spark.createDataFrame(
        [(1, None), (2, None)], "id long, prediction string"
    )
    out = chi_square_signal(df, df, "segA")
    assert out["signal"] == 0 and out["precision"] == 0


def test_smote_interpolates_true_nearest_neighbors(spark):
    """k-NN SMOTE property (reference metrics.py:749-750, imblearn
    semantics): the minority class has two sub-clusters separated by a
    wide gap. True k-NN interpolation synthesizes only WITHIN a
    sub-cluster; random-pair interpolation (the old implementation)
    would drop ~half its synthetic mass into the empty gap."""
    from qudo_etl_pipeline_spark.ml.signal import _resample

    rows = []
    rid = 0
    # majority class 0: 80 rows anywhere
    for i in range(80):
        rows.append((float(i % 7), float((i * 3) % 5), 0.0))
    # minority class 1: two tight sub-clusters at x~0 and x~1000
    for i in range(10):
        rows.append((0.0 + i % 3, 0.0 + (i * 2) % 3, 1.0))
        rows.append((1000.0 + i % 3, 1000.0 + (i * 2) % 3, 1.0))
    df = spark.createDataFrame(rows, "f1 double, f2 double, label double")
    counts = {
        r["label"]: r["n"]
        for r in df.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    out = _resample(df, "label", "smote", 42)
    minority = [
        (r["f1"], r["f2"])
        for r in out.filter(F.col("label") == 1.0).collect()
    ]
    assert len(minority) == counts[0.0]  # topped up to majority size
    # every minority point (original or synthetic) lies inside one of the
    # sub-cluster boxes; nothing lands in the gap
    for f1, f2 in minority:
        in_low = f1 <= 10 and f2 <= 10
        in_high = f1 >= 990 and f2 >= 990
        assert in_low or in_high, (f1, f2)


def test_smote_max_class_rows_guard(spark):
    """The O(n_c^2) kernel must be capped: with max_class_rows far below
    a class size, SMOTE still completes, still tops every class up to
    the majority size, and synthetic rows still interpolate inside the
    class manifold (donor pool is a subsample of the class, so the
    bounding-box property survives)."""
    from qudo_etl_pipeline_spark.ml.signal import _resample

    rows = []
    # class 0 (majority, "oversized" vs the tiny cap): 400 tight rows
    for i in range(400):
        rows.append((50.0 + i % 5, 50.0 + (i * 3) % 5, 0.0))
    # class 1 (minority, also above the cap): 120 rows near origin
    for i in range(120):
        rows.append((0.0 + i % 4, 0.0 + (i * 2) % 4, 1.0))
    df = spark.createDataFrame(rows, "f1 double, f2 double, label double")
    out = _resample(df, "label", "smote", 42, max_class_rows=50)
    got = {
        r["label"]: r["n"]
        for r in out.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    assert got == {0.0: 400, 1.0: 400}  # exact top-up despite the cap
    for r in out.filter(F.col("label") == 1.0).collect():
        assert 0 <= r["f1"] <= 4 and 0 <= r["f2"] <= 4  # in-manifold
    # under-cap classes take the identical un-capped path: same draw
    small = df.filter((F.col("label") == 1.0) | (F.col("f1") >= 50))
    a = _resample(small, "label", "smote", 7).orderBy("f1", "f2").collect()
    b = _resample(small, "label", "smote", 7, max_class_rows=10**6) \
        .orderBy("f1", "f2").collect()
    assert a == b


def test_classification_metrics_null_pairs_unscoreable(spark):
    """A NULL truth or prediction belongs to no confusion cell —
    metrics equal the NULL-free subset's (r11 NULL-salt sweep)."""
    from qudo_etl_pipeline_spark.ml.signal import classification_metrics

    rows = [("a", "a"), ("a", "b"), ("b", "b"), (None, "a"), ("b", None)]
    df = spark.createDataFrame(rows, "label string, pred string")
    m = classification_metrics(df, "label", "pred")
    clean = classification_metrics(
        df.filter("label IS NOT NULL AND pred IS NOT NULL"), "label", "pred"
    )
    assert m == clean


def test_consistency_checks_skip_null_labels(spark):
    """model/label consistency stratify by label: NULL labels are
    excluded instead of crashing sampleBy (r11 NULL-salt sweep)."""
    from pyspark.sql import functions as F

    from qudo_etl_pipeline_spark.ml.signal import (
        label_consistency,
        model_consistency,
    )

    rows = [(i, i % 2 if i % 7 else None) for i in range(60)]
    df = spark.createDataFrame(rows, "row_id long, prediction int")

    def refit(train):
        def predict(frame):
            return frame.withColumn(
                "prediction", (F.col("row_id") % 2).cast("int")
            )
        return predict

    assert model_consistency(df, refit) == 1.0
    assert label_consistency(df, refit) == 1.0
