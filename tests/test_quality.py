"""Differential tests: ml/quality.py and the catalog's Spark quality
metrics vs numpy mirrors of the sklearn/statsmodels calls the reference
makes (reference: src/kraken/app/metrics.py:24-174,578-633)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.catalog import ml_q as MQ
from qudo_etl_pipeline_spark.catalog.coverage_q import random_checker
from qudo_etl_pipeline_spark.ml import quality as Q
from tests import reference_stats as R
from tests.test_pipeline import _jobs_started_by


@pytest.fixture(scope="module")
def clustered(spark):
    """Three well-separated 3-d blobs + labels, deterministic."""
    rng = np.random.default_rng(42)
    xs, labels = [], []
    for c, center in enumerate([(0, 0, 0), (5, 5, 0), (0, 8, 8)]):
        pts = rng.normal(loc=center, scale=1.0, size=(60, 3))
        xs.append(pts)
        labels += [c] * 60
    X = np.vstack(xs)
    labels = np.array(labels)
    rows = [
        (int(i), [float(v) for v in X[i]], int(labels[i]))
        for i in range(len(X))
    ]
    df = spark.createDataFrame(
        rows, "row_id: long, features: array<double>, prediction: int"
    )
    return df, X, labels


def test_cluster_sizes_and_balance(spark, clustered):
    df, _, labels = clustered
    sizes = {
        r["prediction"]: (r["n"], r["share"])
        for r in MQ.cluster_sizes(df).collect()
    }
    assert sizes[0][0] == 60 and abs(sizes[0][1] - 1 / 3) < 1e-12
    assert MQ.balance_ok(df)
    # degenerate: all rows one cluster -> share 1.0 outside (0.02, 0.55)
    assert not MQ.balance_ok(df.withColumn("prediction", F.lit(0)))


def test_davies_bouldin_matches_numpy(spark, clustered):
    df, X, labels = clustered
    assert MQ.davies_bouldin(df) == pytest.approx(
        R.davies_bouldin_np(X, labels), rel=1e-9
    )


def test_calinski_harabasz_matches_numpy(spark, clustered):
    df, X, labels = clustered
    assert MQ.calinski_harabasz(df) == pytest.approx(
        R.calinski_harabasz_np(X, labels), rel=1e-9
    )


def test_degenerate_fallbacks(spark, clustered):
    df, _, _ = clustered
    one = df.withColumn("prediction", F.lit(0))
    assert MQ.davies_bouldin(one) == 999.0
    assert MQ.calinski_harabasz(one) == 0.0
    assert MQ.silhouette_exact(one) == 0.0


def test_silhouette_exact_matches_numpy(spark, clustered):
    df, X, labels = clustered
    sub = df.filter(F.col("row_id") < 90)
    assert MQ.silhouette_exact(sub) == pytest.approx(
        R.silhouette_np(X[:90], labels[:90]), rel=1e-9
    )


def test_silhouette_squared_orders_like_exact(spark, clustered):
    """The squared silhouette of cluster_quality must at least agree in
    sign/ordering with the exact metric on clean vs random labels."""
    df, _, _ = clustered
    good = MQ.cluster_quality(df)["silhouette"]
    rnd = df.withColumn(
        "prediction", F.floor(F.rand(7) * 3).cast("int")
    )
    bad = MQ.cluster_quality(rnd)["silhouette"]
    assert good > 0.5 and good > bad


def test_adjusted_rand_index(spark, clustered):
    df, _, labels = clustered
    perm = df.withColumn(
        "perm", (F.col("prediction") + 1) % 3
    )
    assert MQ.adjusted_rand_index(perm, "prediction", "perm") == pytest.approx(
        1.0
    )
    rng = np.random.default_rng(3)
    noisy = np.where(rng.random(len(labels)) < 0.3, rng.integers(0, 3, len(labels)), labels)
    rows = [(int(a), int(b)) for a, b in zip(labels, noisy)]
    two = spark.createDataFrame(rows, "a: int, b: int")
    assert MQ.adjusted_rand_index(two, "a", "b") == pytest.approx(
        R.adjusted_rand_np(labels, noisy), rel=1e-9
    )


def test_cochrans_q_and_i2(spark):
    rng = np.random.default_rng(11)
    X = (rng.random((200, 4)) < [0.2, 0.5, 0.52, 0.8]).astype(int)
    # guard against the degenerate all-equal-rows case
    X[0] = [1, 0, 0, 0]
    df = spark.createDataFrame(
        [tuple(int(v) for v in row) for row in X], "c0: int, c1: int, c2: int, c3: int"
    )
    q, dof = MQ.cochrans_q(df, ["c0", "c1", "c2", "c3"])
    q_np, dof_np = R.cochrans_q_np(X)
    assert dof == dof_np == 3
    assert q == pytest.approx(q_np, rel=1e-12)
    assert MQ.i2_score(q, dof) == round((q - dof) / q * 100, 3)
    const = df.withColumn("c0", F.lit(1)).withColumn("c1", F.lit(1)) \
              .withColumn("c2", F.lit(1)).withColumn("c3", F.lit(1))
    with pytest.raises(ZeroDivisionError):
        MQ.cochrans_q(const, ["c0", "c1", "c2", "c3"])


def _variability_np(groups: dict, labels: np.ndarray) -> dict:
    """numpy copy of metrics.py:578-633: per question group Cochran's Q
    (R.cochrans_q_np) and I^2 = (Q - df)/Q * 100 rounded 3; degenerate
    groups (zero denominator, Q == 0) are skipped, only positive I^2
    enter the mean, rounded 3 — overall and per cluster."""

    def mean_i2(mask):
        scores = []
        for X in groups.values():
            Xm = X[mask]
            r = Xm.sum(axis=1)
            if Xm.shape[1] * Xm.sum() - (r**2).sum() == 0:
                continue
            q, dof = R.cochrans_q_np(Xm)
            if q == 0:
                continue
            i2 = round((q - dof) / q * 100, 3)
            if i2 > 0:
                scores.append(i2)
        return round(sum(scores) / len(scores), 3) if scores else math.nan

    out = {"all_clusters": mean_i2(np.ones(len(labels), dtype=bool))}
    for cl in sorted(set(labels.tolist())):
        out[cl] = mean_i2(labels == cl)
    return out


def test_variability_matches_numpy(spark):
    """M32: mean positive I^2 across question groups, overall and per
    cluster; the all-ones group is degenerate and must be skipped."""
    rng = np.random.default_rng(5)
    n = 300
    labels = rng.integers(0, 3, n)
    rates = {
        "qa": np.array([[0.2, 0.5, 0.7, 0.9], [0.6, 0.5, 0.4, 0.3],
                        [0.1, 0.1, 0.8, 0.5]]),
        "qb": np.array([[0.3, 0.6, 0.5], [0.9, 0.2, 0.4],
                        [0.5, 0.5, 0.6]]),
    }
    groups = {
        q: (rng.random((n, p.shape[1])) < p[labels]).astype(int)
        for q, p in rates.items()
    }
    groups["qc"] = np.ones((n, 3), dtype=int)  # degenerate: every row all-1
    cols = {
        q: [f"{q}_{j}_tgt" for j in range(X.shape[1])]
        for q, X in groups.items()
    }
    names = [c for q in groups for c in cols[q]]
    rows = [
        (int(labels[i]), *[int(groups[q][i, j]) for q in groups
                           for j in range(groups[q].shape[1])])
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "prediction: int, " + ", ".join(f"{c}: int" for c in names)
    )
    with pytest.raises(ZeroDivisionError):
        MQ.cochrans_q(df, cols["qc"])
    got = MQ.variability(df, cols)
    expected = _variability_np(groups, labels)
    assert set(got) == set(expected) == {"all_clusters", 0, 1, 2}
    for key, value in expected.items():
        assert got[key] == pytest.approx(value, abs=1e-9), key
    # skipping the degenerate group leaves every mean as without it
    without = {q: c for q, c in cols.items() if q != "qc"}
    assert MQ.variability(df, without) == got


def test_rank_cluster_metrics_pandas_semantics(spark):
    """Replicates metrics.py:127-146 incl. average-tie ranks and the
    1.3x bic weight; winner by max rank_sum."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "run": ["a", "b", "c", "d"],
            "silhouette": [0.2, 0.5, 0.5, 0.1],
            "davies_bouldin": [1.5, 0.8, 2.0, 0.8],
            "calinski_harabasz": [10.0, 40.0, 30.0, 5.0],
            "bic": [100.0, 80.0, 90.0, 120.0],
            "aic": [95.0, 70.0, 85.0, 110.0],
        }
    )
    expect = pdf.copy()
    expect["silhouette_rank"] = expect["silhouette"].rank()
    expect["davies_bouldin_rank"] = expect["davies_bouldin"].rank(ascending=False)
    expect["calinski_harabasz_rank"] = expect["calinski_harabasz"].rank()
    expect["bic_rank"] = expect["bic"].rank(ascending=False) * 1.3
    expect["aic_rank"] = expect["aic"].rank(ascending=False)
    expect["rank_sum"] = expect[
        ["silhouette_rank", "davies_bouldin_rank", "calinski_harabasz_rank",
         "bic_rank", "aic_rank"]
    ].sum(axis=1)

    out = (
        MQ.rank_cluster_metrics(
            spark.createDataFrame(pdf), information_criterions=True
        )
        .toPandas()
        .set_index("run")
    )
    for run in ["a", "b", "c", "d"]:
        for col in ["silhouette_rank", "davies_bouldin_rank", "bic_rank", "rank_sum"]:
            assert out.loc[run, col] == pytest.approx(
                expect.set_index("run").loc[run, col]
            ), (run, col)
    assert out["rank_sum"].idxmax() == expect.set_index("run")["rank_sum"].idxmax()


def test_cluster_quality_dict(spark, clustered):
    df, X, labels = clustered
    m = MQ.cluster_quality(df, n_seed=42)
    assert m["n_clusters"] == 3
    assert m["davies_bouldin"] == pytest.approx(R.davies_bouldin_np(X, labels), rel=1e-9)
    assert m["calinski_harabasz"] == pytest.approx(
        R.calinski_harabasz_np(X, labels), rel=1e-9
    )
    assert set(m["cluster_proportions"]) == {0, 1, 2}
    assert sum(m["cluster_proportions"].values()) == pytest.approx(1.0)


def test_random_checker_ratios(spark, clustered):
    df, _, _ = clustered
    base = MQ.cluster_quality(df)
    out = random_checker(df, cluster_metrics=base, n_runs=2)
    # clean blobs must beat random labelings on every ratio
    assert out["calinski_harabasz_random_ratio"] > 1.0
    assert out["davies_bouldin_random_ratio"] > 1.0
    assert out["silhouette_random_ratio"] > 1.0


def test_random_checker_exact_values(spark, clustered):
    """Pin the seeded random-baseline path to EXACT metric values (the
    round-4 verdict's ask): replay the same F.rand(seed+i) labels the
    checker generates (deterministic for a fixed df/partitioning) and
    reproduce every ratio through the numpy mirrors — not just the
    >1.0 ordering."""
    df, X, _ = clustered
    base = MQ.cluster_quality(df)
    out = random_checker(df, cluster_metrics=base, n_runs=2)
    k = 3  # distinct planted predictions; checker draws from 0..k incl.
    sils, dbs, chs = [], [], []
    for i in range(2):
        lab = (
            df.withColumn(
                "_rl", F.floor(F.rand(42 + i) * (k + 1)).cast("int")
            )
            .select("row_id", "_rl")
            .toPandas()
        )
        labels = (
            lab.set_index("row_id").loc[range(len(X)), "_rl"].to_numpy()
        )
        assert len(np.unique(labels)) > 1  # non-degenerate draw
        sils.append(R.silhouette_squared_np(X, labels))
        dbs.append(R.davies_bouldin_np(X, labels))
        chs.append(R.calinski_harabasz_np(X, labels))
    assert out["calinski_harabasz_random_ratio"] == pytest.approx(
        base["calinski_harabasz"] / np.mean(chs), rel=1e-6
    )
    assert out["davies_bouldin_random_ratio"] == pytest.approx(
        np.mean(dbs) / base["davies_bouldin"], rel=1e-6
    )
    assert out["silhouette_random_ratio"] == pytest.approx(
        abs(base["silhouette"] / np.mean(sils)), rel=1e-6
    )


def test_label_consistency_exact_value(spark, clustered):
    """Pin label_consistency's seeded sampleBy path: replay the same
    stratified sample and reproduce the ARI in numpy exactly."""
    from qudo_etl_pipeline_spark.catalog.ml_q import label_consistency

    df, _, _ = clustered

    def refit(train):
        def predict(frame):
            return frame.withColumn(
                "prediction", (F.col("row_id") % 4).cast("int")
            )

        return predict

    lc = label_consistency(df, refit)
    train = df.sampleBy(
        "prediction", {0: 0.9, 1: 0.9, 2: 0.9}, seed=42
    ).toPandas()
    assert len(train) > 0
    expect = R.adjusted_rand_np(
        train["prediction"].to_numpy(), (train["row_id"] % 4).to_numpy()
    )
    assert lc == pytest.approx(expect, rel=1e-12)


def test_cluster_quality_excludes_null_predictions(spark):
    """NULL prediction = unassigned: contributes to no quality metric
    and must not crash driver-side sorts (r11 NULL-salt sweep)."""
    rows = [
        (0, [0.0, 0.0], 0), (1, [0.1, 0.0], 0),
        (2, [5.0, 5.0], 1), (3, [5.1, 5.0], 1),
        (4, [9.9, 9.9], None),
    ]
    df = spark.createDataFrame(
        rows, "row_id long, features array<double>, prediction int"
    )
    m = MQ.cluster_quality(df)
    assert m["n_clusters"] == 2
    assert set(m["cluster_proportions"]) == {0, 1}
    assert abs(sum(m["cluster_proportions"].values()) - 1.0) < 1e-12
    base = MQ.cluster_quality(df.filter("prediction IS NOT NULL"))
    assert m["davies_bouldin"] == base["davies_bouldin"]


def _blobs(seed: int, extra: list | None = None) -> list:
    """A weighted (features, prediction, count) pattern table: three
    blobs on a small integer grid, counts 1-3, and one pattern listed
    twice — plus ``extra`` patterns."""
    rng = np.random.default_rng(seed)
    table = []
    for c, center in enumerate([(0, 0, 0), (6, 6, 0), (0, 9, 9)]):
        pts = rng.integers(-2, 3, size=(12, 3)) + np.array(center)
        table += [(p.tolist(), c, int(rng.integers(1, 4))) for p in pts]
    return table + [table[0]] + (extra or [])


# name -> (pattern table, the metrics that must take their fallback)
PATTERN_TABLES = {
    "weighted_duplicates": (_blobs(1), {}),
    "singleton_cluster": (_blobs(2, [([20, 0, 0], 3, 1)]), {}),
    "null_prediction": (
        _blobs(3, [([9, 9, 9], None, 4), ([0, 0, 0], None, 1)]), {}
    ),
    "one_cluster": (
        [(p, 0, w) for p, _, w in _blobs(4)],
        {"silhouette": 0.0, "davies_bouldin": 999.0, "calinski_harabasz": 0.0},
    ),
    "coincident_centroids": (
        [([0, 0], 0, 1), ([2, 2], 0, 1), ([0, 2], 1, 1), ([2, 0], 1, 1)],
        {"davies_bouldin": 999.0},
    ),
    "zero_within_dispersion": (
        [([0, 0], 0, 3), ([3, 4], 1, 2)], {"calinski_harabasz": 0.0}
    ),
}


@pytest.mark.parametrize("case", sorted(PATTERN_TABLES))
def test_pattern_quality_matches_the_expanded_rows(spark, case):
    """The driver metrics over a weighted pattern table equal the numpy
    references and the catalog's Spark metrics over the rows the table
    stands for (NULL-label rows dropped), to relative 1e-12; degenerate
    tables take the reference's fallback values."""
    table, fallback = PATTERN_TABLES[case]
    m = Q.pattern_quality(
        [Row(features=f, prediction=p, _w=w) for f, p, w in table]
    )
    rows = [(f, p) for f, p, w in table for _ in range(w) if p is not None]
    X = np.array([f for f, _ in rows], dtype=np.float64)
    labels = np.array([p for _, p in rows])
    df = spark.createDataFrame(
        [([float(v) for v in f], p) for f, p in rows],
        "features: array<double>, prediction: int",
    )
    ks, counts = np.unique(labels, return_counts=True)
    assert m["n_clusters"] == len(ks)
    assert m["cluster_proportions"] == {
        int(c): int(n) / len(rows) for c, n in zip(ks, counts)
    }
    refs = {
        "silhouette": [],
        "davies_bouldin": [MQ.davies_bouldin(df)],
        "calinski_harabasz": [MQ.calinski_harabasz(df)],
    }
    if "silhouette" not in fallback:
        refs["silhouette"].append(R.silhouette_squared_np(X, labels))
    if "davies_bouldin" not in fallback:
        refs["davies_bouldin"].append(R.davies_bouldin_np(X, labels))
    if "calinski_harabasz" not in fallback:
        refs["calinski_harabasz"].append(R.calinski_harabasz_np(X, labels))
    for key, values in refs.items():
        if key in fallback:
            assert m[key] == fallback[key], key
        for ref in values:
            assert m[key] == pytest.approx(ref, rel=1e-12, abs=1e-300), key


def test_cluster_quality_starts_at_most_two_jobs(spark, clustered):
    """cluster_quality is one collect of the (features, prediction,
    count) table: the aggregate's shuffle stage and its result."""
    df, _, _ = clustered
    assert _jobs_started_by(spark, lambda: MQ.cluster_quality(df)) <= 2


def test_cluster_quality_above_the_threshold_is_a_sample_estimate(
    spark, clustered, monkeypatch
):
    """Every row of a continuous feature is its own pattern: above
    PATTERN_THRESHOLD the table is the priority sample with
    Horvitz-Thompson weights, and the metrics are estimates over it."""
    from qudo_etl_pipeline_spark.ml import features as FE

    df, X, labels = clustered
    monkeypatch.setattr(FE, "PATTERN_THRESHOLD", 40)
    m = MQ.cluster_quality(df)
    assert m["n_clusters"] == 3
    assert sum(m["cluster_proportions"].values()) == pytest.approx(1.0)
    for key, exact in [
        ("silhouette", R.silhouette_squared_np(X, labels)),
        ("davies_bouldin", R.davies_bouldin_np(X, labels)),
        ("calinski_harabasz", R.calinski_harabasz_np(X, labels)),
    ]:
        assert m[key] == pytest.approx(exact, rel=0.15), key
