"""Clustering algorithms: KMeans multi-seed, optimal-k/elbow, Gaussian
mixture with BIC/AIC, rules-based. The hierarchical wrapper, which no
survey step calls, is ``catalog.ml_q.hierarchical_segmentation``.

Re-implements the reference's clustering engine (reference:
src/kraken/app/clustering.py) on MLlib:

- fixed seed list [1,42,100,200,404,500,1000,123,321,78]  (clustering.py:116)
- k range 3..8 (range(3, 9))                              (clustering.py:111-112,1003)
- balance filter: reject unless every share in (0.02,0.55)(clustering.py:117-118,792-809)
- rank-sum best-seed/best-k selection                     (metrics.py:127-146)
- elbow: max perpendicular distance to the first-last
  chord of the cost curve, +n_points rank bonus           (clustering.py:446-478)
- GMM BIC/AIC computed manually from the mean
  log-likelihood and EFFECTIVE component count            (clustering.py:921-941)
- reject mixtures with any class < 1% of rows             (clustering.py:944-945)
- rules-based = label-encode one answer column            (clustering.py:1037-1077)

Documented deltas (SURVEY §7 "known hard spots"): sklearn KMeans
(k-means++, n_init=10) vs MLlib (k-means||) and sklearn
BayesianGaussianMixture (Dirichlet prior) vs MLlib GaussianMixture (EM)
cannot produce identical labels; tests compare structure (ARI/metric
bands), not labels. Positional label vectors are replaced by a
`prediction` column carried on the DataFrame (no row-order reliance).

Scale notes (100 TB design):
- Every fit is an MLlib job over the cached feature DataFrame; the
  multi-seed/multi-k fan-out launches CONCURRENT Spark jobs from a
  driver thread pool (scheduler interleaves stages; data stays put).
- Quality metrics are one collect of the fit's (features, prediction,
  count) table each, computed on the driver (quality.py).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.ml import quality as Q
from qudo_etl_pipeline_spark.ml.features import label_encode

SEEDS = [1, 42, 100, 200, 404, 500, 1000, 123, 321, 78]
MIN_K, MAX_K = 3, 9  # range(3, 9) -> ks 3..8
BALANCE_LO, BALANCE_HI = 0.02, 0.55
FEATURES = "features"
PREDICTION = "prediction"


def _to_vec(df: DataFrame, features_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(
        "_v", array_to_vector(F.col(features_col).cast("array<double>"))
    )


def kmeans_fit(
    df: DataFrame,
    k: int,
    seed: int = 42,
    features_col: str = FEATURES,
) -> dict:
    """One KMeans fit. Returns dict(labels=DataFrame+prediction,
    inertia=float, model). MLlib k-means|| init (delta vs sklearn
    k-means++ documented above).

    Multi-fit callers (multi-seed, optimal-k) pass a frame that already
    carries the cached ``_v`` vector column, so the array→vector
    conversion isn't re-executed once per fit."""
    from pyspark.ml.clustering import KMeans

    vdf = df if "_v" in df.columns else _to_vec(df, features_col)
    model = KMeans(
        k=k, seed=seed, featuresCol="_v", predictionCol=PREDICTION
    ).fit(vdf)
    labeled = model.transform(vdf).drop("_v")
    return {
        "labels": labeled,
        "inertia": float(model.summary.trainingCost),
        "model": model,
        "k": k,
        "seed": seed,
    }


def fit_quality(
    fit: dict, features_col: str = FEATURES, information: bool = False
) -> dict:
    """get_cluster_metrics over one fit's labeled frame."""
    m = Q.cluster_quality(
        fit["labels"], features=features_col, pred=PREDICTION, n_seed=fit["seed"]
    )
    m["n_clusters"] = fit["k"]
    if information:
        m["bic"] = fit.get("bic")
        m["aic"] = fit.get("aic")
    return m


def remove_unbalanced(metrics: list[dict]) -> list[dict]:
    """Drop clusterings whose any cluster share is outside (0.02, 0.55)
    (clustering.py:792-809)."""
    kept = []
    for m in metrics:
        shares = list(m["cluster_proportions"].values())
        if all(BALANCE_LO < s < BALANCE_HI for s in shares):
            kept.append(m)
    return kept


def _rank_best(
    metrics: list[dict],
    information: bool = False,
    bonus: list[float] | None = None,
) -> int:
    """Index (into `metrics`) of the max-rank_sum entry by the
    reference's pandas ranking (metrics.py:127-146), plus an optional
    per-entry ``bonus`` (the elbow k's). Ties resolve to the first
    (pandas idxmax)."""
    import pandas as pd

    cols = ["silhouette", "davies_bouldin", "calinski_harabasz"]
    if information:
        cols += ["bic", "aic"]
    pdf = pd.DataFrame([{c: m[c] for c in cols} for m in metrics])
    pdf["silhouette_rank"] = pdf["silhouette"].rank()
    pdf["davies_bouldin_rank"] = pdf["davies_bouldin"].rank(ascending=False)
    pdf["calinski_harabasz_rank"] = pdf["calinski_harabasz"].rank()
    rank_cols = ["silhouette_rank", "davies_bouldin_rank", "calinski_harabasz_rank"]
    if information:
        pdf["bic_rank"] = pdf["bic"].rank(ascending=False) * 1.3
        pdf["aic_rank"] = pdf["aic"].rank(ascending=False)
        rank_cols += ["bic_rank", "aic_rank"]
    pdf["rank_sum"] = pdf[rank_cols].sum(axis=1)
    if bonus is not None:
        pdf["rank_sum"] += bonus
    return int(pdf["rank_sum"].idxmax())


def kmeans_multi_seed(
    df: DataFrame,
    k: int,
    seeds: list[int] | None = None,
    features_col: str = FEATURES,
    max_workers: int = 8,
) -> dict | None:
    """Fan 10 seeds out as concurrent MLlib jobs, drop unbalanced fits,
    pick the best by rank-sum (clustering.py:627-713)."""
    seeds = seeds or SEEDS
    # cache the VECTORIZED frame: every seed's fit (and every metric
    # pass) reads _v, so converting once saves 10 array->vector
    # re-executions
    vdf = _to_vec(df, features_col).cache()
    try:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            fits = list(
                pool.map(
                    lambda s: kmeans_fit(
                        vdf, k, seed=s, features_col=features_col
                    ),
                    seeds,
                )
            )
        # balance pre-filter BEFORE the metric passes: unbalanced fits
        # are dropped anyway, so their silhouette/DB/CH would be wasted
        # jobs (the reference computes-then-filters; same surviving
        # set either way — metrics of dropped fits are never used)
        # balance probes are collect jobs too — same pool, order kept
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            ok = list(
                pool.map(
                    lambda f: Q.balance_ok(
                        f["labels"], PREDICTION, BALANCE_LO, BALANCE_HI
                    ),
                    fits,
                )
            )
        balanced_fits = [f for f, good in zip(fits, ok) if good]
        if not balanced_fits:
            return None
        # metric passes are independent DataFrame jobs — run them on the
        # same thread pool as the fits (Spark's scheduler interleaves
        # the stages; results are per-fit, so order is preserved by map)
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            metrics = list(
                pool.map(lambda f: fit_quality(f, features_col), balanced_fits)
            )
        # no second remove_unbalanced pass: balance_ok above already
        # enforced the identical (0.02, 0.55) share predicate on the
        # identical counts, so re-filtering the metrics could never
        # drop anything
        best = _rank_best(metrics)
        fit, m = balanced_fits[best], metrics[best]
        fit["metrics"] = m
        return fit
    finally:
        vdf.unpersist()


def elbow_index(costs: list[float]) -> int:
    """Max perpendicular distance from the cost curve to its first-last
    chord (clustering.py:446-468). Driver-side, pure python."""
    import math

    n = len(costs)
    if n < 3:
        return 0
    x0, y0 = 0.0, costs[0]
    vx, vy = float(n - 1), costs[-1] - costs[0]
    norm = math.sqrt(vx * vx + vy * vy)
    vx, vy = vx / norm, vy / norm
    best_i, best_d = 0, -1.0
    for i in range(n):
        dx, dy = i - x0, costs[i] - y0
        proj = dx * vx + dy * vy
        px, py = dx - proj * vx, dy - proj * vy
        d = math.sqrt(px * px + py * py)
        if d > best_d:
            best_i, best_d = i, d
    return best_i


def optimal_k(
    df: DataFrame,
    features_col: str = FEATURES,
    ks: list[int] | None = None,
    seed: int = 42,
    max_workers: int = 8,
) -> int:
    """Optimal-k search (clustering.py:391-478): per-k cost + metrics,
    rank-sum with a +n_points bonus for the elbow k, argmax."""
    ks = ks or list(range(MIN_K, MAX_K))
    # cache the vectorized frame once for the whole k scan
    vdf = _to_vec(df, features_col).cache()
    try:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            fits = list(
                pool.map(
                    lambda k: kmeans_fit(
                        vdf, k, seed=seed, features_col=features_col
                    ),
                    ks,
                )
            )
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            metrics = list(
                pool.map(lambda f: fit_quality(f, features_col), fits)
            )
        costs = [f["inertia"] for f in fits]
        elbow_k = ks[elbow_index(costs)]
        bonus = [
            len(costs) if m["n_clusters"] == elbow_k else 0 for m in metrics
        ]
        return int(metrics[_rank_best(metrics, bonus=bonus)]["n_clusters"])
    finally:
        vdf.unpersist()


def gmm_fit(
    df: DataFrame,
    k: int,
    seed: int = 42,
    features_col: str = FEATURES,
) -> dict | None:
    """GaussianMixture fit with manual BIC/AIC (clustering.py:921-941).

    score = mean log-likelihood; p counts means + full covariances +
    weights over EFFECTIVE components (distinct predicted labels);
    bic = -2*score*n + p*ln(n); aic = -2*score*n + 2p.
    Returns None when any class takes < 1% of rows (clustering.py:944-945).
    MLlib fits by EM (no Dirichlet prior — documented delta vs the
    reference's BayesianGaussianMixture).
    """
    import math

    from pyspark.ml.clustering import GaussianMixture

    # multi-seed callers pass one shared cached vector frame (it carries
    # ``_v``), the same device as kmeans_fit — a per-seed _to_vec +
    # cache would hold n_seeds copies of the data at once
    prevectorized = "_v" in df.columns
    vdf = df if prevectorized else _to_vec(df, features_col).cache()
    try:
        model = GaussianMixture(
            k=k, seed=seed, featuresCol="_v", predictionCol=PREDICTION
        ).fit(vdf)
        labeled = model.transform(vdf).drop("_v", "probability")
        n = labeled.count()
        counts = {
            r[PREDICTION]: r["n"]
            for r in labeled.groupBy(PREDICTION).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        if min(counts.values()) < n * 0.01:
            return None
        n_features = len(
            vdf.select(features_col).first()[features_col]
        )
        n_eff = len(counts)
        cov_params = n_eff * n_features * (n_features + 1) / 2.0
        mean_params = n_features * n_eff
        p = int(cov_params + mean_params + n_eff - 1)
        score = float(model.summary.logLikelihood) / n
        bic = -2 * score * n + p * math.log(n)
        aic = -2 * score * n + 2 * p
        return {
            "labels": labeled,
            "model": model,
            "k": k,
            "seed": seed,
            "bic": bic,
            "aic": aic,
        }
    finally:
        if not prevectorized:
            vdf.unpersist()


def gmm_multi_seed(
    df: DataFrame,
    k: int,
    seeds: list[int] | None = None,
    features_col: str = FEATURES,
    max_workers: int = 8,
) -> dict | None:
    """Per-k seed fan-out + balance filter + IC-weighted rank-sum
    (clustering.py:951-983)."""
    seeds = seeds or SEEDS
    vdf = _to_vec(df, features_col).cache()
    try:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            fits = [
                f
                for f in pool.map(
                    lambda s: gmm_fit(
                        vdf, k, seed=s, features_col=features_col
                    ),
                    seeds,
                )
                if f is not None
            ]
        if not fits:
            return None
        metrics = [fit_quality(f, features_col, information=True) for f in fits]
        keep = [
            (f, m) for f, m in zip(fits, metrics) if m in remove_unbalanced([m])
        ]
        if not keep:
            return None
        best = _rank_best([m for _, m in keep], information=True)
        fit, m = keep[best]
        fit["metrics"] = m
        return fit
    finally:
        vdf.unpersist()


def rules_based(
    df: DataFrame, rules_col: str, pred: str = PREDICTION
) -> DataFrame:
    """Rules-based segmentation: labels = sorted-value codes of one
    answer column (clustering.py:1037-1077, M9). The pipeline reads the
    same codes from its scheme's label encode instead."""
    out = label_encode(df, [rules_col], suffix="__code")
    return out.withColumn(pred, F.col(rules_col + "__code")).drop(
        rules_col + "__code"
    )
