"""Tests for the custom categorical clusterers: KModes/KPrototypes
Lloyd loops and the LCA multinomial-mixture EM (reference:
src/kraken/app/clustering.py:348-363,480-539; lca.R:13-52).
Planted-structure recovery (ARI), determinism, and cost/BIC behavior —
not label identity with the kmodes/poLCA libraries (SURVEY §7)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.catalog import ml_q as MQ
from qudo_etl_pipeline_spark.catalog.ml_q import adjusted_rand_index
from qudo_etl_pipeline_spark.ml import features as FE
from tests.test_pipeline import _jobs_started_by


def _planted_categorical(spark, n_per=80, noise=0.15, seed=3):
    """3 latent classes, 4 categorical questions, class-typical answers
    corrupted with `noise` probability."""
    rng = np.random.default_rng(seed)
    typical = {
        0: ("yes", "often", "red", "car"),
        1: ("no", "never", "blue", "bike"),
        2: ("maybe", "sometimes", "green", "walk"),
    }
    options = list(zip(*typical.values()))
    rows = []
    rid = 0
    for cls, answers in typical.items():
        for _ in range(n_per):
            row = [
                (
                    str(rng.choice(options[q]))
                    if rng.random() < noise
                    else answers[q]
                )
                for q in range(4)
            ]
            rows.append((rid, cls, *row))
            rid += 1
    return spark.createDataFrame(
        rows, "row_id: long, truth: int, q0: string, q1: string, q2: string, q3: string"
    )


@pytest.fixture(scope="module")
def cat_df(spark):
    return _planted_categorical(spark).cache()


def test_kmodes_recovers_planted_classes(spark, cat_df):
    fit = MQ.kmodes_fit(cat_df, ["q0", "q1", "q2", "q3"], k=3)
    ari = adjusted_rand_index(fit["labels"], "truth", "prediction")
    assert ari > 0.9
    assert fit["cost"] > 0
    # modes must be the class-typical answer tuples
    mode_tuples = {tuple(m[c] for c in ["q0", "q1", "q2", "q3"]) for m in fit["modes"]}
    assert ("yes", "often", "red", "car") in mode_tuples


def test_kmodes_deterministic(spark, cat_df):
    a = MQ.kmodes_fit(cat_df, ["q0", "q1", "q2", "q3"], k=3)
    b = MQ.kmodes_fit(cat_df, ["q0", "q1", "q2", "q3"], k=3)
    assert a["modes"] == b["modes"]
    assert a["cost"] == b["cost"]
    joined = (
        a["labels"]
        .select("row_id", F.col("prediction").alias("pa"))
        .join(
            b["labels"].select("row_id", F.col("prediction").alias("pb")),
            "row_id",
        )
    )
    assert joined.filter(F.col("pa") != F.col("pb")).count() == 0


def test_kprototypes_mixed_distance(spark, cat_df):
    """Numeric signal aligned with the classes must sharpen recovery."""
    with_num = cat_df.withColumn(
        "x",
        F.col("truth").cast("double") * 10.0
        + (F.rand(5) - 0.5),
    )
    fit = MQ.kmodes_fit(
        with_num, ["q0", "q1", "q2", "q3"], k=3, num_cols=["x"]
    )
    ari = adjusted_rand_index(fit["labels"], "truth", "prediction")
    assert ari > 0.95
    assert fit["gamma"] > 0  # default 0.5 * mean pop-std of numerics
    # numeric centroid of each cluster must sit near its class mean
    xs = sorted(m["x"] for m in fit["modes"])
    assert xs == pytest.approx([0.0, 10.0, 20.0], abs=1.0)


def test_kmodes_modes_deterministic_and_distinct(spark, cat_df):
    m1 = MQ.kmodes_fit(cat_df, ["q0", "q1", "q2", "q3"], k=3)["modes"]
    m2 = MQ.kmodes_fit(cat_df, ["q0", "q1", "q2", "q3"], k=3)["modes"]
    assert m1 == m2
    assert len({tuple(sorted(m.items())) for m in m1}) == 3


def test_lca_recovers_planted_classes(spark, cat_df):
    fit = MQ.lca_fit(cat_df, ["q0", "q1", "q2", "q3"], k=3, seed=42)
    ari = adjusted_rand_index(fit["labels"], "truth", "prediction")
    assert ari > 0.9
    assert fit["n_params"] == (3 - 1) + 3 * sum(
        (3 - 1) for _ in range(4)
    )
    # priors come back near-uniform for balanced classes
    assert all(abs(p - 1 / 3) < 0.1 for p in fit["pi"])
    assert fit["bic"] > 0 and fit["bic"] > 2 * fit["n_params"]


def test_lca_select_prefers_true_k(spark, cat_df):
    best = MQ.lca_select(
        cat_df, ["q0", "q1", "q2", "q3"], ks=[2, 3, 4], n_rep=2, seed=42
    )
    assert best["k"] == 3


def test_lca_mixed_recovers_planted_classes(spark, cat_df):
    """Mixed-type LCA (depmixS4 mix parity, lca.R:54-101): gaussian
    factors for numeric columns join the multinomial EM. A numeric
    signal aligned with the planted classes must be recovered."""
    with_num = cat_df.withColumn(
        "x", F.col("truth").cast("double") * 10.0 + (F.rand(7) - 0.5)
    ).withColumn(
        "y", F.col("truth").cast("double") * -3.0 + (F.rand(8) - 0.5)
    )
    fit = MQ.lca_fit(
        with_num, ["q0", "q1"], k=3, seed=42, num_cols=["x", "y"]
    )
    ari = adjusted_rand_index(fit["labels"], "truth", "prediction")
    assert ari > 0.9
    # (k-1) priors + k*(|v|-1) multinomial + k*2*|num| gaussian params
    assert fit["n_params"] == 2 + 3 * (2 + 2) + 3 * 2 * 2
    # class means must sit near the planted per-class numeric centers
    xs = sorted(m["x"] for m in fit["mu"])
    assert xs == pytest.approx([0.0, 10.0, 20.0], abs=1.5)
    assert all(v["x"] < 2.0 for v in fit["var"])


def test_lca_mixed_pure_gaussian(spark, cat_df):
    """num_cols-only fit (no categorical factors) must also converge."""
    with_num = cat_df.withColumn(
        "x", F.col("truth").cast("double") * 10.0 + (F.rand(9) - 0.5)
    )
    fit = MQ.lca_fit(with_num, [], k=3, seed=1, num_cols=["x"])
    ari = adjusted_rand_index(fit["labels"], "truth", "prediction")
    assert ari > 0.9
    assert fit["n_params"] == 2 + 3 * 2


def test_lca_select_deterministic_at_pipeline_default(spark, cat_df):
    """Determinism at the pipeline's restart depth (n_rep=3): two runs
    of the full selection grid pick the same model bit-for-bit.
    Backed by the measured stability study (pipeline._family_lca):
    BIC selection on the planted fixture is stable from n_rep=1
    through n_rep=10 across data seeds and noise levels."""
    a = MQ.lca_select(
        cat_df, ["q0", "q1", "q2", "q3"], ks=[2, 3, 4], n_rep=3,
        seed=42, max_iter=30,
    )
    b = MQ.lca_select(
        cat_df, ["q0", "q1", "q2", "q3"], ks=[2, 3, 4], n_rep=3,
        seed=42, max_iter=30,
    )
    assert a["k"] == b["k"] == 3
    assert a["bic"] == b["bic"]
    assert a["pi"] == b["pi"]
    la = {r["row_id"]: r["prediction"] for r in a["labels"].collect()}
    lb = {r["row_id"]: r["prediction"] for r in b["labels"].collect()}
    assert la == lb


def _labels(fit) -> dict:
    return {r["row_id"]: r["prediction"] for r in fit["labels"].collect()}


def test_lca_fit_is_the_one_model_selection(spark, cat_df):
    """lca_fit(k, seed) and lca_select(ks=[k], n_rep=1, seed) are the same
    path: identical parameters, log-likelihood, BIC and labels."""
    cols = ["q0", "q1", "q2", "q3"]
    fit = MQ.lca_fit(cat_df, cols, k=3, seed=42)
    sel = MQ.lca_select(cat_df, cols, ks=[3], n_rep=1, seed=42)
    assert (sel["k"], sel["seed"]) == (fit["k"], fit["seed"]) == (3, 42)
    assert sel["pi"] == fit["pi"]
    assert sel["theta"] == fit["theta"]
    assert sel["loglik"] == fit["loglik"]
    assert sel["bic"] == fit["bic"]
    assert _labels(sel) == _labels(fit)


# Above the pattern threshold both families fit on a priority sample of
# the pattern table. The n_per=400 fixture has 63-64 patterns over 1,200
# rows; a threshold of 40 samples it.
COLS = ["q0", "q1", "q2", "q3"]
SAMPLE = 40


@pytest.fixture(scope="module")
def big_df(spark):
    return _planted_categorical(spark, n_per=400).cache()


@pytest.fixture
def sampled(monkeypatch):
    monkeypatch.setattr(FE, "PATTERN_THRESHOLD", SAMPLE)


def _with_x(df):
    return df.withColumn(
        "x", F.col("truth").cast("double") * 10.0 + (F.rand(5) - 0.5)
    )


def test_pattern_table_is_a_weighted_sample_above_the_threshold(
    spark, big_df, sampled
):
    exact = {
        tuple(r[c] for c in COLS): r["count"]
        for r in big_df.groupBy(*COLS).count().collect()
    }
    assert len(exact) > SAMPLE
    pat = MQ.pattern_table(big_df, COLS)
    assert len(pat) == SAMPLE
    assert all(r["_w"] >= exact[tuple(r[c] for c in COLS)] for r in pat)
    # Horvitz-Thompson weights estimate the row count
    assert sum(r["_w"] for r in pat) == pytest.approx(1200, rel=0.05)


def test_sampled_fits_recover_planted_classes(
    spark, big_df, monkeypatch
):
    """LCA recovers the classes from the sample. KModes recovers them as
    well as from the exact table: on this fixture every answer value has
    frequency ~1/3, so Cao's density is flat and the exact fit itself
    lands in a local optimum (ARI ~0.5) on about half the data seeds,
    seed 3 among them."""

    def ari(fit):
        return adjusted_rand_index(fit["labels"], "truth", "prediction")

    exact = ari(MQ.kmodes_fit(big_df, COLS, k=3))
    monkeypatch.setattr(FE, "PATTERN_THRESHOLD", SAMPLE)
    assert ari(MQ.kmodes_fit(big_df, COLS, k=3)) >= exact - 0.05
    lca = MQ.lca_select(big_df, COLS, ks=[2, 3, 4], n_rep=3, seed=42)
    assert lca["k"] == 3
    assert ari(lca) > 0.9


def test_sampled_fits_are_deterministic(spark, big_df, sampled):
    a, b = (MQ.kmodes_fit(big_df, COLS, k=3) for _ in range(2))
    assert (a["modes"], a["cost"], a["n_iter"]) == (
        b["modes"], b["cost"], b["n_iter"]
    )
    assert _labels(a) == _labels(b)
    a, b = (
        MQ.lca_select(big_df, COLS, ks=[2, 3], n_rep=2, seed=42)
        for _ in range(2)
    )
    assert (a["k"], a["seed"], a["bic"], a["pi"], a["theta"]) == (
        b["k"], b["seed"], b["bic"], b["pi"], b["theta"]
    )
    assert _labels(a) == _labels(b)


def test_sampled_mixed_fits_recover_planted_means(spark, big_df, sampled):
    """A mixed input with more rows than the threshold skips the probe
    and fits on the sample; the planted gaussian means come back."""
    with_num = _with_x(big_df)
    assert with_num.count() > SAMPLE
    km = MQ.kmodes_fit(with_num, COLS, k=3, num_cols=["x"])
    assert sorted(m["x"] for m in km["modes"]) == pytest.approx(
        [0.0, 10.0, 20.0], abs=1.0
    )
    assert adjusted_rand_index(km["labels"], "truth", "prediction") > 0.9
    lca = MQ.lca_fit(with_num, ["q0", "q1"], k=3, seed=42, num_cols=["x"])
    assert sorted(m["x"] for m in lca["mu"]) == pytest.approx(
        [0.0, 10.0, 20.0], abs=1.5
    )


def test_sampled_fit_jobs_do_not_grow_with_iterations(
    spark, big_df, sampled
):
    """The Lloyd and EM loops run on the driver: a sampled fit starts
    as many Spark jobs at one iteration as at thirty."""

    def jobs(fit):
        return [_jobs_started_by(spark, lambda: fit(m)) for m in (1, 30)]

    km = jobs(lambda m: MQ.kmodes_fit(big_df, COLS, k=3, max_iter=m))
    lca = jobs(lambda m: MQ.lca_fit(big_df, COLS, k=3, max_iter=m))
    assert km[0] == km[1] > 0
    assert lca[0] == lca[1] > 0
