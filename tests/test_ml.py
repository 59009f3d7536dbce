"""Tests for ml/features.py, ml/clustering.py and the catalog's frame
versions of scaling, PCA and the rules codes (reference:
src/kraken/app/clustering.py). Label identity with sklearn is not the
aim — these assert structure: encode/scale/PCA numerics, balance/rank
semantics, blob recovery via ARI, and that a fit over weighted patterns
is the fit over the rows they stand for."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.catalog import ml_q as MQ
from qudo_etl_pipeline_spark.catalog.ml_q import hierarchical_segmentation
from qudo_etl_pipeline_spark.ml import clustering as C
from qudo_etl_pipeline_spark.ml import features as FE
from tests.reference_stats import adjusted_rand_np


@pytest.fixture(scope="module")
def blobs(spark):
    rng = np.random.default_rng(7)
    xs, labels = [], []
    for c, center in enumerate([(0, 0), (8, 0), (0, 8)]):
        pts = rng.normal(loc=center, scale=0.8, size=(80, 2))
        xs.append(pts)
        labels += [c] * 80
    X = np.vstack(xs)
    rows = [
        (int(i), [float(v) for v in X[i]], int(labels[i]))
        for i in range(len(X))
    ]
    df = spark.createDataFrame(
        rows, "row_id: long, features: array<double>, truth: int"
    )
    return df.cache(), X, np.array(labels)


def _rows(X: np.ndarray, n=None) -> list[dict]:
    """Scheme-table-shaped rows of a point matrix: columns x0.., ``_n``."""
    n = np.ones(len(X), dtype=int) if n is None else n
    return [
        {**{f"x{j}": float(v) for j, v in enumerate(x)}, "_n": int(c)}
        for x, c in zip(X, n)
    ]


XCOLS = ["x0", "x1"]


def test_sniff_numeric_columns(spark):
    df = spark.createDataFrame(
        [("1", "a", 1.5, "2x"), ("2", "b", 2.5, "3")],
        "num_str: string, cat: string, dbl: double, mixed: string",
    )
    _, numeric = FE.build_code_maps(df, df.columns)
    got = set(numeric)
    assert got == {"num_str", "dbl"}


def test_profile_numeric_column_order(spark):
    """The profile lists numeric-typed columns first, then castable
    string columns, each in schema order (not in ``cols`` order); the
    string columns of an empty frame are not numeric."""
    df = spark.createDataFrame(
        [("3", 1, "x", "4.5", 2.0, None)],
        "s1: string, i: int, cat: string, s2: string, d: double, nul: string",
    )
    _, numeric = FE.build_code_maps(df, ["nul", "d", "s2", "cat", "i", "s1"])
    assert numeric == ["i", "d", "s1", "s2", "nul"]
    _, numeric = FE.build_code_maps(df.limit(0), ["s1", "i", "d"])
    assert numeric == ["i", "d"]


def test_label_encode_sorted_order(spark):
    """sklearn LabelEncoder parity: codes follow sorted value order —
    numerics numerically, strings lexicographically (clustering.py:103)."""
    df = spark.createDataFrame(
        [("banana", "10"), ("apple", "9"), ("cherry", "10"), ("apple", "100")],
        "fruit: string, n: string",
    )
    maps, _ = FE.build_code_maps(df, ["fruit", "n"])
    assert maps["fruit"] == {"apple": 0, "banana": 1, "cherry": 2}
    assert maps["n"] == {"9": 0, "10": 1, "100": 2}  # numeric sort
    enc = FE.label_encode(df, ["fruit", "n"], code_maps=maps)
    rows = {(r["fruit"], r["n"]) for r in df.collect()}
    got = enc.collect()
    assert all(isinstance(r["fruit"], int) for r in got)


def test_standardize_population_std(spark):
    vals = [1.0, 2.0, 3.0, 4.0]
    df = spark.createDataFrame([(v,) for v in vals], "x: double")
    out, stats = MQ.standardize(df, ["x"])
    got = sorted(r["x"] for r in out.collect())
    arr = np.array(vals)
    expect = sorted((arr - arr.mean()) / arr.std())  # ddof=0
    assert got == pytest.approx(expect, rel=1e-12)
    # replay on new data with fitted stats
    df2 = spark.createDataFrame([(10.0,)], "x: double")
    out2, _ = MQ.standardize(df2, ["x"], stats=stats)
    assert out2.collect()[0]["x"] == pytest.approx(
        (10.0 - arr.mean()) / arr.std(), rel=1e-12
    )


def test_pca_component_selection(spark):
    """Variance concentrated on one axis -> 1 component crosses 0.5."""
    rng = np.random.default_rng(5)
    X = np.column_stack(
        [rng.normal(0, 10, 300), rng.normal(0, 1, 300), rng.normal(0, 0.1, 300)]
    )
    df = spark.createDataFrame(
        [([float(v) for v in row],) for row in X], "features: array<double>"
    )
    n, _ = MQ.find_n_components(df)
    assert n == 1
    proj, n_used = MQ.pca_transform(df, n_components=2)
    row = proj.first()
    assert n_used == 2 and len(row["features"]) == 2


def test_elbow_index():
    # sharp elbow at index 2 on a synthetic cost curve
    costs = [100.0, 60.0, 30.0, 28.0, 26.5, 25.0]
    assert C.elbow_index(costs) == 2
    assert C.elbow_index([5.0, 4.0]) == 0


def test_kmeans_multi_seed_recovers_blobs(blobs):
    _, X, truth = blobs
    fit = C.kmeans_table(_rows(X), XCOLS, ks=[3], seeds=[1, 42])
    assert fit is not None
    assert adjusted_rand_np(truth, fit["labels"]) > 0.95
    assert fit["metrics"]["n_clusters"] == 3
    shares = fit["metrics"]["cluster_proportions"].values()
    assert all(0.02 < s < 0.55 for s in shares)


def test_optimal_k_picks_three(blobs):
    _, X, _ = blobs
    fit = C.kmeans_table(_rows(X), XCOLS, ks=[2, 3, 4, 5], seeds=[42])
    assert fit["k"] == 3


def test_gmm_fit_bic_aic(blobs):
    _, X, truth = blobs
    fit = C.gmm_table(_rows(X), XCOLS, k=3, seeds=[42])
    assert fit is not None
    assert fit["bic"] > fit["aic"]  # ln(240) > 2 per parameter
    assert adjusted_rand_np(truth, fit["labels"]) > 0.9


@pytest.fixture(scope="module")
def weighted_blobs():
    """Three 3-d blobs of distinct points, each standing for 1-4 rows."""
    rng = np.random.default_rng(11)
    X = np.vstack(
        [rng.normal(loc=c, scale=1.0, size=(40, 3)) for c in ((0, 0, 0), (4, 4, 0), (0, 5, 5))]
    )
    return X, rng.integers(1, 5, size=len(X))


def test_a_weighted_fit_is_the_fit_of_the_expanded_rows(weighted_blobs):
    """A pattern of count n weighs as n rows of weight 1: the k-means++
    draws, Lloyd, EM and the BIC/AIC give the same labels, inertia and
    information criteria on the patterns as on their expanded rows."""
    X, n = weighted_blobs
    w = n.astype(float)
    rows = np.repeat(X, n, axis=0)
    ones = np.ones(len(rows))
    for seed in (1, 42, 100):
        for k in (2, 3, 4):
            a, b = C._kmeans(X, w, k, seed), C._kmeans(rows, ones, k, seed)
            assert (np.repeat(a["labels"], n) == b["labels"]).all(), (seed, k)
            assert a["inertia"] == pytest.approx(b["inertia"], rel=1e-9)
        a, b = C._gmm(X, w, 3, seed), C._gmm(rows, ones, 3, seed)
        assert (np.repeat(a["labels"], n) == b["labels"]).all(), seed
        for key in ("loglik", "bic", "aic"):
            assert a[key] == pytest.approx(b[key], rel=1e-9), (seed, key)
    # the table API groups the expanded rows back into the patterns
    cols = ["x0", "x1", "x2"]
    for fit in (
        lambda r: C.kmeans_table(r, cols, ks=[3, 4], seeds=[1, 42]),
        lambda r: C.gmm_table(r, cols, k=3, seeds=[42, 100]),
    ):
        a, b = fit(_rows(X, n)), fit(_rows(rows))
        assert (a["labels"] == b["labels"]).all()
        assert (a["k"], a["seed"]) == (b["k"], b["seed"])
        assert a["metrics"] == b["metrics"]


def test_table_fits_start_no_spark_job(spark, weighted_blobs):
    from tests.test_pipeline import _jobs_started_by

    X, n = weighted_blobs
    rows, cols = _rows(X, n), ["x0", "x1", "x2"]
    assert _jobs_started_by(spark, lambda: C.kmeans_table(rows, cols, ks=[3])) == 0
    assert _jobs_started_by(spark, lambda: C.gmm_table(rows, cols, k=3)) == 0


def test_gmm_reg_covar_fits_a_duplicated_column():
    """An exact copy of a column makes the sample covariance singular;
    the 1e-6 on its diagonal keeps every fit finite."""
    rng = np.random.default_rng(3)
    x = rng.integers(0, 4, size=300).astype(float)
    X = np.column_stack([x, x, rng.integers(0, 3, size=300)])
    for seed in (42, 100):
        fit = C._gmm(X, np.ones(len(X)), 3, seed)
        if fit is not None:
            assert np.isfinite([fit["loglik"], fit["bic"], fit["aic"]]).all()


def test_gmm_selection_rules(monkeypatch):
    """Before the BIC/AIC rank-sum a mixture must pass the reference's
    rules: a fit with a class under 1% of the rows is rejected (here a
    lone far point isolated by the seed's Lloyd start), and an
    unbalanced fit is dropped even when its information criteria are
    the best, as a collapsed fit's are."""
    rng = np.random.default_rng(0)
    X = np.vstack(
        [rng.normal((0, 0), 1, (100, 2)), rng.normal((12, 0), 1, (100, 2)), [(0.0, 12.0)]]
    )
    w = np.ones(len(X))
    assert C._gmm(X, w, 3, 0) is None
    assert C.gmm_table(_rows(X), XCOLS, k=3, seeds=[0, 3])["seed"] == 3
    good = C._gmm(X, w, 3, 3)
    one_heavy = np.where(np.arange(len(X)) < 150, 0, good["labels"])
    collapsed = good | {
        "labels": one_heavy, "seed": 1, "bic": good["bic"] - 1e3, "aic": good["aic"] - 1e3
    }
    fits = {1: collapsed, 3: good}
    monkeypatch.setattr(C, "_gmm", lambda X, w, k, seed: fits[seed])
    assert C.gmm_table(_rows(X), XCOLS, k=3, seeds=[1, 3])["seed"] == 3
    assert C.gmm_table(_rows(X), XCOLS, k=3, seeds=[1]) is None


def test_row_expressions_label_rows_as_the_fit_labels_them(spark, weighted_blobs):
    """The fitted row expression ``label`` (z-score, projection,
    distances or log-densities as Column arithmetic) gives each point
    the label the numpy fit gave it; a NULL code gets no label."""
    X, n = weighted_blobs
    cols = ["x0", "x1", "x2"]
    df = spark.createDataFrame(
        [(i, *map(float, x)) for i, x in enumerate(X)] + [(len(X), None, 0.0, 0.0)],
        "i: int, x0: double, x1: double, x2: double",
    )
    for fit in (
        C.kmeans_table(_rows(X, n), cols, ks=[3, 4], seeds=[1, 42]),
        C.gmm_table(_rows(X, n), cols, k=3, seeds=[42, 100]),
    ):
        got = dict(fit["label"](df).select("i", "prediction").collect())
        assert got.pop(len(X)) is None
        assert [got[i] for i in range(len(X))] == list(fit["labels"])


def test_rules_based_labels(spark):
    df = spark.createDataFrame(
        [("Agree",), ("Disagree",), ("Agree",), ("Neutral",)],
        "q1: string",
    )
    out = MQ.rules_based(df, "q1")
    got = {(r["q1"], r["prediction"]) for r in out.collect()}
    assert got == {("Agree", 0), ("Disagree", 1), ("Neutral", 2)}


def test_hierarchical_offsets_and_ignore(spark, blobs):
    df, _, _ = blobs
    two_groups = df.withColumn(
        "grp",
        F.when(F.col("row_id") < 120, F.lit("a")).otherwise(F.lit("b")),
    )
    out = hierarchical_segmentation(
        two_groups, "grp", hier_ks=[2], seed=42
    )
    by_grp = {
        r["grp"]: r["labels"]
        for r in out.groupBy("grp")
        .agg(F.collect_set("prediction").alias("labels"))
        .collect()
    }
    assert sorted(by_grp["a"]) == [0, 1]
    assert sorted(by_grp["b"]) == [2, 3]  # offset past group a's k

    ignored = hierarchical_segmentation(
        two_groups, "grp", hier_ks=[2], seed=42, ignore_value="b"
    )
    vals = {
        r["prediction"]
        for r in ignored.filter(F.col("grp") == "b").select("prediction").distinct().collect()
    }
    assert vals == {-99}


def test_hierarchical_with_custom_fitter(spark):
    """The fitter hook lets any family run per group (the reference
    dispatches LCA into the hierarchical wrapper): labels from the
    custom fitter must offset into globally unique ids per group."""
    rows = []
    rid = 0
    for grp in ("a", "b"):
        for cls in range(2):
            for i in range(30):
                ans = f"{grp}{cls}" if i % 10 else f"{grp}{1 - cls}"  # noise
                rows.append((rid, grp, ans))
                rid += 1
    df = spark.createDataFrame(rows, "row_id long, grp string, q0 string")

    def lca_fitter(sub):
        fit = MQ.lca_fit(sub, ["q0"], k=2, seed=42, max_iter=20)
        return fit["labels"], fit["k"]

    out = hierarchical_segmentation(df, "grp", fitter=lca_fitter)
    by_grp = {
        r["grp"]: sorted(r["labels"])
        for r in out.groupBy("grp")
        .agg(F.collect_set("prediction").alias("labels"))
        .collect()
    }
    assert by_grp["a"] == [0, 1]
    assert by_grp["b"] == [2, 3]


def test_ntile_bucketize_matches_window_ntile(spark):
    """The closed-form device must reproduce F.ntile EXACTLY — every
    (row, bucket) pair — across n % k == 0 and != 0, k > n, and heavy
    ties broken by the tiebreak column."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from qudo_etl_pipeline_spark.ml.discretize import ntile_bucketize

    for n, k in [(40, 8), (41, 8), (10, 4), (3, 8), (100, 7)]:
        df = spark.range(n).select(
            F.col("id"),
            ((F.col("id") * 7) % 5).cast("double").alias("v"),  # ties
        )
        got = {
            r["id"]: r["bucket"]
            for r in ntile_bucketize(df, "v", k, ["id"]).collect()
        }
        w = Window.orderBy(F.col("v"), F.col("id"))
        ref = {
            r["id"]: r["b"]
            for r in df.withColumn("b", F.ntile(k).over(w)).collect()
        }
        assert got == ref, (n, k)


def test_ntile_bucketize_plan_has_no_single_task_data_window(spark):
    from pyspark.sql import functions as F

    from qudo_etl_pipeline_spark.ml.discretize import ntile_bucketize

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 13).cast("double").alias("v")
    )
    plan = (
        ntile_bucketize(df, "v", 8, ["id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert (
                "windowspecdefinition(_pid#" in line or "_pt_" in line
            ), line


def test_bounds_bucketize_tracks_exact_ntile(spark):
    """Scale-path discretizer: approx-boundary buckets must agree with
    exact NTILE buckets on >=99% of rows (sketch accuracy), and bucket
    sizes must be near-equal."""
    from qudo_etl_pipeline_spark.ml.discretize import (
        bounds_bucketize,
        ntile_bucketize,
    )
    from pyspark.sql import functions as F

    n, k = 4000, 8
    df = spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 1000003).cast("double").alias("v"),
    )
    exact = ntile_bucketize(df, "v", k, ["id"]).select("id", "bucket")
    approx = bounds_bucketize(df, "v", k).select(
        "id", F.col("bucket").alias("b2")
    )
    j = exact.join(approx, "id")
    agree = j.filter(F.col("bucket") == F.col("b2")).count() / n
    assert agree >= 0.99, f"agreement {agree}"
    sizes = [
        r["c"]
        for r in approx.groupBy("b2").agg(F.count(F.lit(1)).alias("c")).collect()
    ]
    assert len(sizes) == k
    assert max(sizes) <= 1.1 * (n / k) and min(sizes) >= 0.9 * (n / k)


def test_ntile_bucketize_null_values_have_no_bucket(spark):
    """r11 NULL contract: a NULL value has no position in a
    value-ordered discretization — NULL rows are EXCLUDED (previously
    they silently took the first buckets via Spark's nulls-first
    sort, which no SQL oracle reproduces); the non-null rows match
    F.ntile over the non-null subset row for row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from qudo_etl_pipeline_spark.ml.discretize import ntile_bucketize

    rows = [(i, None if i % 5 == 0 else float(i % 7)) for i in range(40)]
    df = spark.createDataFrame(rows, "id bigint, v double")
    got = {
        r["id"]: r["bucket"]
        for r in ntile_bucketize(df, "v", 6, ["id"]).collect()
    }
    nn = df.filter(F.col("v").isNotNull())
    w = Window.orderBy(F.col("v"), F.col("id"))
    ref = {
        r["id"]: r["b"]
        for r in nn.withColumn("b", F.ntile(6).over(w)).collect()
    }
    assert got == ref
    assert set(got) == {i for i in range(40) if i % 5 != 0}


def test_auto_bucketize_dispatch(spark):
    """Below exact_max_rows the auto path IS exact NTILE row-for-row;
    above, it is the sketch path whose bucket sizes stay near-equal."""
    from pyspark.sql import functions as F

    from qudo_etl_pipeline_spark.ml.discretize import (
        auto_bucketize,
        ntile_bucketize,
    )

    n, k = 3000, 8
    df = spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 1000003).cast("double").alias("v"),
    )
    exact = {
        r["id"]: r["bucket"]
        for r in ntile_bucketize(df, "v", k, ["id"]).collect()
    }
    below = {
        r["id"]: r["bucket"]
        for r in auto_bucketize(
            df, "v", k, ["id"], exact_max_rows=n
        ).collect()
    }
    assert below == exact
    above = auto_bucketize(df, "v", k, ["id"], exact_max_rows=n - 1)
    # sketch path: map-only (no exchange feeding the bucket column)
    plan = above._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    sizes = [
        r["c"]
        for r in above.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    assert len(sizes) == k
    assert max(sizes) <= 1.1 * (n / k) and min(sizes) >= 0.9 * (n / k)
