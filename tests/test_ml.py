"""Tests for ml/features.py and ml/clustering.py (reference:
src/kraken/app/clustering.py). Label-identity with sklearn is impossible
(k-means++ vs k-means||) — these assert structure: encode/scale/PCA
numerics, balance/rank semantics, blob recovery via ARI."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.catalog.ml_q import (
    adjusted_rand_index,
    hierarchical_segmentation,
)
from qudo_etl_pipeline_spark.ml import clustering as C
from qudo_etl_pipeline_spark.ml import features as FE


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
    out, stats = FE.standardize(df, ["x"])
    got = sorted(r["x"] for r in out.collect())
    arr = np.array(vals)
    expect = sorted((arr - arr.mean()) / arr.std())  # ddof=0
    assert got == pytest.approx(expect, rel=1e-12)
    # replay on new data with fitted stats
    df2 = spark.createDataFrame([(10.0,)], "x: double")
    out2, _ = FE.standardize(df2, ["x"], stats=stats)
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
    n, _ = FE.find_n_components(df)
    assert n == 1
    proj, n_used = FE.pca_transform(df, n_components=2)
    row = proj.first()
    assert n_used == 2 and len(row["features"]) == 2


def test_elbow_index():
    # sharp elbow at index 2 on a synthetic cost curve
    costs = [100.0, 60.0, 30.0, 28.0, 26.5, 25.0]
    assert C.elbow_index(costs) == 2
    assert C.elbow_index([5.0, 4.0]) == 0


def test_kmeans_multi_seed_recovers_blobs(spark, blobs):
    df, X, truth = blobs
    fit = C.kmeans_multi_seed(df, k=3, seeds=[1, 42], max_workers=2)
    assert fit is not None
    labeled = fit["labels"].withColumnRenamed("prediction", "pred")
    ari = adjusted_rand_index(labeled, "truth", "pred")
    assert ari > 0.95
    assert fit["metrics"]["n_clusters"] == 3
    shares = fit["metrics"]["cluster_proportions"].values()
    assert all(0.02 < s < 0.55 for s in shares)


def test_optimal_k_picks_three(spark, blobs):
    df, _, _ = blobs
    best = C.optimal_k(df, ks=[2, 3, 4, 5], seed=42, max_workers=2)
    assert best == 3


def test_gmm_fit_bic_aic(spark, blobs):
    df, _, truth = blobs
    fit = C.gmm_fit(df, k=3, seed=42)
    assert fit is not None
    assert fit["bic"] > fit["aic"]  # ln(240) > 2 per parameter
    labeled = fit["labels"].withColumnRenamed("prediction", "pred")
    assert adjusted_rand_index(labeled, "truth", "pred") > 0.9


def test_rules_based_labels(spark):
    df = spark.createDataFrame(
        [("Agree",), ("Disagree",), ("Agree",), ("Neutral",)],
        "q1: string",
    )
    out = C.rules_based(df, "q1")
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
    from qudo_etl_pipeline_spark.ml import lca as LCA

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
        fit = LCA.lca_fit(sub, ["q0"], k=2, seed=42, max_iter=20)
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
