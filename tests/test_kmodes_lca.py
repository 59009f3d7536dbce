"""Tests for the custom categorical clusterers: KModes/KPrototypes
Lloyd loops and the LCA multinomial-mixture EM (reference:
src/kraken/app/clustering.py:348-363,480-539; lca.R:13-52).
Planted-structure recovery (ARI), determinism, and cost/BIC behavior —
not label identity with the kmodes/poLCA libraries (SURVEY §7)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.ml import kmodes as KM
from qudo_etl_pipeline_spark.ml import lca as LCA
from qudo_etl_pipeline_spark.ml import quality as Q


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
    fit = KM.kmodes_fit(cat_df, ["q0", "q1", "q2", "q3"], k=3)
    ari = Q.adjusted_rand_index(fit["labels"], "truth", "prediction")
    assert ari > 0.9
    assert fit["cost"] > 0
    # modes must be the class-typical answer tuples
    mode_tuples = {tuple(m[c] for c in ["q0", "q1", "q2", "q3"]) for m in fit["modes"]}
    assert ("yes", "often", "red", "car") in mode_tuples


def test_kmodes_deterministic(spark, cat_df):
    a = KM.kmodes_fit(cat_df, ["q0", "q1", "q2", "q3"], k=3)
    b = KM.kmodes_fit(cat_df, ["q0", "q1", "q2", "q3"], k=3)
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
    fit = KM.kmodes_fit(
        with_num, ["q0", "q1", "q2", "q3"], k=3, num_cols=["x"]
    )
    ari = Q.adjusted_rand_index(fit["labels"], "truth", "prediction")
    assert ari > 0.95
    assert fit["gamma"] > 0  # default 0.5 * mean pop-std of numerics
    # numeric centroid of each cluster must sit near its class mean
    xs = sorted(m["x"] for m in fit["modes"])
    assert xs == pytest.approx([0.0, 10.0, 20.0], abs=1.0)


def test_cao_init_deterministic_and_distinct(spark, cat_df):
    m1 = KM.cao_init(cat_df, ["q0", "q1", "q2", "q3"], 3)
    m2 = KM.cao_init(cat_df, ["q0", "q1", "q2", "q3"], 3)
    assert m1 == m2
    assert len({tuple(sorted(m.items())) for m in m1}) == 3


def test_lca_recovers_planted_classes(spark, cat_df):
    fit = LCA.lca_fit(cat_df, ["q0", "q1", "q2", "q3"], k=3, seed=42)
    ari = Q.adjusted_rand_index(fit["labels"], "truth", "prediction")
    assert ari > 0.9
    assert fit["n_params"] == (3 - 1) + 3 * sum(
        (3 - 1) for _ in range(4)
    )
    # priors come back near-uniform for balanced classes
    assert all(abs(p - 1 / 3) < 0.1 for p in fit["pi"])
    assert fit["bic"] > 0 and fit["bic"] > 2 * fit["n_params"]


def test_lca_select_prefers_true_k(spark, cat_df):
    best = LCA.lca_select(
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
    fit = LCA.lca_fit(
        with_num, ["q0", "q1"], k=3, seed=42, num_cols=["x", "y"]
    )
    ari = Q.adjusted_rand_index(fit["labels"], "truth", "prediction")
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
    fit = LCA.lca_fit(with_num, [], k=3, seed=1, num_cols=["x"])
    ari = Q.adjusted_rand_index(fit["labels"], "truth", "prediction")
    assert ari > 0.9
    assert fit["n_params"] == 2 + 3 * 2


def test_lca_distributed_path_matches_pattern_path(spark, cat_df):
    """pattern_threshold=0 forces the distributed EM loop (the 100 TB
    path); same seed + same sufficient statistics must land on the same
    model as pattern EM up to float association order."""
    cols = ["q0", "q1", "q2", "q3"]
    fp = LCA.lca_fit(cat_df, cols, k=3, seed=42)
    fd = LCA.lca_fit(cat_df, cols, k=3, seed=42, pattern_threshold=0)
    assert fd["loglik"] == pytest.approx(fp["loglik"], rel=1e-6)
    assert sorted(fd["pi"]) == pytest.approx(sorted(fp["pi"]), abs=1e-6)
    ari = Q.adjusted_rand_index(fd["labels"], "truth", "prediction")
    assert ari > 0.9


def test_lca_mixed_distributed_path(spark, cat_df):
    """Distributed mixed EM (gaussian factors in the fused single-row
    aggregate) must recover the planted classes like the pattern path.
    Init quantiles differ slightly (percentile_approx vs weighted
    numpy), so the assertion is recovery, not bit equality."""
    with_num = cat_df.withColumn(
        "x", F.col("truth").cast("double") * 10.0 + (F.rand(7) - 0.5)
    ).withColumn(
        "y", F.col("truth").cast("double") * -3.0 + (F.rand(8) - 0.5)
    )
    fit = LCA.lca_fit(
        with_num, ["q0", "q1"], k=3, seed=42, num_cols=["x", "y"],
        pattern_threshold=0,
    )
    ari = Q.adjusted_rand_index(fit["labels"], "truth", "prediction")
    assert ari > 0.9
    xs = sorted(m["x"] for m in fit["mu"])
    assert xs == pytest.approx([0.0, 10.0, 20.0], abs=1.5)


def test_cao_init_high_cardinality_join_path(spark, cat_df):
    """A column wider than _CAO_MAP_MAX distincts must take the
    broadcast-join density path (no 50k-literal create_map in the plan)
    and still produce the same modes as the literal-map path computes
    for the low-cardinality columns."""
    import qudo_etl_pipeline_spark.ml.kmodes as KMmod

    n = 50_000
    wide = spark.range(n).selectExpr(
        "id AS row_id",
        "CAST(id AS STRING) AS hi",          # 50k distinct values
        "CAST(id % 3 AS STRING) AS lo",
    )
    modes = KM.cao_init(wide, ["hi", "lo"], 2)
    assert len(modes) == 2
    assert all(set(m) == {"hi", "lo"} for m in modes)
    # determinism on the join path too
    assert modes == KM.cao_init(wide, ["hi", "lo"], 2)
    # the literal-map budget was respected: the density plan for `hi`
    # cannot have been a create_map (50k entries > _CAO_MAP_MAX)
    assert n > KMmod._CAO_MAP_MAX
    dens, release = KMmod._density_frame(wide, ["hi", "lo"], n)
    try:
        plan = dens._jdf.queryExecution().optimizedPlan().toString()
        assert "keys: [" not in plan or plan.count("keys: [") < 100
        assert "Join" in plan  # hi resolves via a join
    finally:
        release()


def test_kmodes_pattern_path_matches_distributed(spark, cat_df):
    """pattern_threshold=0 forces the distributed Lloyd loop; the
    pattern fast path must reproduce its modes, cost, iteration count
    and labels exactly (same Cao init, same tie-breaks)."""
    cols = ["q0", "q1", "q2", "q3"]
    fp = KM.kmodes_fit(cat_df, cols, k=3)
    fd = KM.kmodes_fit(cat_df, cols, k=3, pattern_threshold=0)
    assert fp["modes"] == fd["modes"]
    assert fp["cost"] == fd["cost"]
    assert fp["n_iter"] == fd["n_iter"]
    joined = (
        fp["labels"].select("row_id", F.col("prediction").alias("pa"))
        .join(
            fd["labels"].select("row_id", F.col("prediction").alias("pb")),
            "row_id",
        )
    )
    assert joined.filter(F.col("pa") != F.col("pb")).count() == 0


def test_kprototypes_pattern_path_matches_distributed(spark, cat_df):
    """Mixed-type (gaussian) pattern path vs distributed loop: same
    modes up to float tolerance, same sizes."""
    with_num = cat_df.withColumn(
        "x", F.col("truth").cast("double") * 10.0 + (F.rand(5) - 0.5)
    )
    cols = ["q0", "q1", "q2", "q3"]
    fp = KM.kmodes_fit(with_num, cols, k=3, num_cols=["x"])
    fd = KM.kmodes_fit(
        with_num, cols, k=3, num_cols=["x"], pattern_threshold=0
    )
    assert fp["n_iter"] == fd["n_iter"]
    for mp, md in zip(fp["modes"], fd["modes"]):
        assert {c: mp[c] for c in ["q0", "q1", "q2", "q3"]} == {
            c: md[c] for c in ["q0", "q1", "q2", "q3"]
        }
        assert mp["x"] == pytest.approx(md["x"], rel=1e-9)
    assert fp["cost"] == pytest.approx(fd["cost"], rel=1e-9)


def test_lca_select_deterministic_at_pipeline_default(spark, cat_df):
    """Determinism at the pipeline's restart depth (n_rep=3): two runs
    of the full selection grid pick the same model bit-for-bit.
    Backed by the measured stability study (pipeline._family_lca):
    BIC selection on the planted fixture is stable from n_rep=1
    through n_rep=10 across data seeds and noise levels."""
    a = LCA.lca_select(
        cat_df, ["q0", "q1", "q2", "q3"], ks=[2, 3, 4], n_rep=3,
        seed=42, max_iter=30,
    )
    b = LCA.lca_select(
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
    fit = LCA.lca_fit(cat_df, cols, k=3, seed=42)
    sel = LCA.lca_select(cat_df, cols, ks=[3], n_rep=1, seed=42)
    assert (sel["k"], sel["seed"]) == (fit["k"], fit["seed"]) == (3, 42)
    assert sel["pi"] == fit["pi"]
    assert sel["theta"] == fit["theta"]
    assert sel["loglik"] == fit["loglik"]
    assert sel["bic"] == fit["bic"]
    assert _labels(sel) == _labels(fit)


def test_lca_select_distributed_path_matches_pattern_path(
    spark, cat_df, monkeypatch
):
    """A pattern threshold of 0 sends the whole selection grid through
    the distributed EM loop (code maps, n and the cached input shared by
    every fit); it must select the same (k, seed) as pattern EM with the
    same BIC up to float association order."""
    from qudo_etl_pipeline_spark.ml import features as FE

    cols = ["q0", "q1", "q2", "q3"]
    grid = dict(ks=[2, 3, 4], n_rep=2, seed=42, max_iter=30)
    fp = LCA.lca_select(cat_df, cols, **grid)
    monkeypatch.setattr(FE, "PATTERN_THRESHOLD", 0)
    fd = LCA.lca_select(cat_df, cols, **grid)
    assert (fd["k"], fd["seed"]) == (fp["k"], fp["seed"])
    assert fd["bic"] == pytest.approx(fp["bic"], rel=1e-6)
    assert fd["n_params"] == fp["n_params"]
    ari = Q.adjusted_rand_index(fd["labels"], "truth", "prediction")
    assert ari > 0.9
