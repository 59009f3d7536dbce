"""Cluster-quality metrics as DataFrame aggregations.

Re-implements the reference's metric layer (reference:
src/kraken/app/metrics.py:24-174,578-633) without sklearn/statsmodels:

- cluster proportions + balance predicate      (metrics.py:24-38; clustering.py:792-809)
- Davies-Bouldin / Calinski-Harabasz           (metrics.py:85-90; sklearn formulae)
- exact Euclidean silhouette                   (metrics.py:73-84)
- adjusted Rand index (closed form)            (metrics.py:268,301)
- Cochran's Q -> I^2 variability               (metrics.py:578-633)
- rank-sum model selection (pandas .rank()
  average-tie semantics, BIC x1.3 weight)      (metrics.py:127-146)
- random-baseline ratios                       (metrics.py:149-174)

Error-value semantics are replicated exactly because they feed the
rank-sum selection: silhouette -> 0, Davies-Bouldin -> 999,
Calinski-Harabasz -> 0 on degenerate inputs (metrics.py:75-90).

Scale notes (100 TB design):
- Centroids/within-dispersion come from ONE map-side-combined pass
  (`Summarizer` on a vector column — JVM-side, no explode of rows x dims).
- Davies-Bouldin needs mean *Euclidean* (not squared) distance to the
  centroid, so one more pass joins the k-row broadcast centroid table.
- Pairwise centroid arithmetic is driver-side numpy on k rows (k <= 10).
- The exact silhouette is O(n^2) BY DEFINITION (sklearn's too) — it
  exists for parity tests / small slices; the scale path is
  `silhouette_squared` (MLlib ClusteringEvaluator, O(n)).
- ARI / Cochran's Q are single aggregations (closed forms over group
  counts), independent of row count after the shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

FEATURES = "features"  # array<double>
PREDICTION = "prediction"


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance between two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cluster_sizes(df: DataFrame, pred: str = PREDICTION) -> DataFrame:
    """Per-cluster row count and share of total (metrics.py:24-38)."""
    total = Window.partitionBy()
    return (
        df.groupBy(pred)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("share", F.col("n") / F.sum("n").over(total))
    )


def balance_ok(
    df: DataFrame,
    pred: str = PREDICTION,
    lo: float = 0.02,
    hi: float = 0.55,
) -> bool:
    """Reject clustering unless every cluster share is in (lo, hi)
    (clustering.py:117-118,792-809)."""
    shares = [r["share"] for r in cluster_sizes(df, pred).collect()]
    return all(lo < s < hi for s in shares)


def _feature_dim(df: DataFrame, features: str) -> int:
    """Probe the feature-array length from one row (limit-1 scan)."""
    row = df.select(F.size(F.col(features)).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError("cluster_stats: empty input or empty feature array")
    return int(row["d"])


def cluster_stats(
    df: DataFrame, features: str = FEATURES, pred: str = PREDICTION
) -> DataFrame:
    """One-pass per-cluster sufficient statistics.

    Returns (cluster, n, centroid: array<double>, ssn: sum of squared
    norms). Within-cluster squared dispersion follows as
    ``ssn - n * ||centroid||^2`` — no second scan needed.

    The dimension is probed once (limit-1 scan) so the aggregation is
    plain per-dimension column arithmetic: ``avg(features[d])`` stays
    inside whole-stage codegen, where the previous Summarizer-on-vector +
    interpreted higher-order ``aggregate`` lambdas did not (~2x on a
    600k-row pass).

    Contract: feature arrays must be FIXED-LENGTH (every producer in
    this engine — assemble_array, the catalog projections — emits them
    so). A ragged row indexes out of bounds, which ANSI mode turns into
    a loud error rather than a silently skewed centroid.
    """
    dim = _feature_dim(df, features)
    f = F.col(features).cast("array<double>")
    sq_norm = sum((f[d] * f[d] for d in range(1, dim)), f[0] * f[0])
    return (
        df.groupBy(F.col(pred).alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.avg(f[d]).alias(f"_c{d}") for d in range(dim)],
            F.sum(sq_norm).alias("ssn"),
        )
        .select(
            "cluster",
            "n",
            F.array(*[F.col(f"_c{d}") for d in range(dim)]).alias("centroid"),
            "ssn",
        )
    )


def calinski_harabasz(
    df: DataFrame, features: str = FEATURES, pred: str = PREDICTION
) -> float:
    """CH = (B/(k-1)) / (W/(n-k)); 0 on degenerate input (metrics.py:85-90)."""
    return _calinski_harabasz_from(_stats_or_none(df, features, pred))


def _stats_or_none(df: DataFrame, features: str, pred: str) -> list | None:
    try:
        return cluster_stats(df, features, pred).collect()
    except ValueError:  # empty input / empty feature arrays
        return None


def _calinski_harabasz_from(stats: list | None) -> float:
    if stats is None:
        return 0.0
    k = len(stats)
    n = sum(r["n"] for r in stats)
    if k < 2 or n <= k:
        return 0.0
    dim = len(stats[0]["centroid"])
    gmean = [
        sum(r["n"] * r["centroid"][d] for r in stats) / n for d in range(dim)
    ]
    b = sum(
        r["n"] * sum((r["centroid"][d] - gmean[d]) ** 2 for d in range(dim))
        for r in stats
    )
    w = sum(
        r["ssn"] - r["n"] * sum(c * c for c in r["centroid"]) for r in stats
    )
    if w <= 0:
        return 0.0
    return (b / (k - 1)) / (w / (n - k))


def davies_bouldin(
    df: DataFrame,
    features: str = FEATURES,
    pred: str = PREDICTION,
    stats_rows: list | None = None,
) -> float:
    """DB = mean_i max_{j != i} (S_i+S_j)/d(c_i,c_j); 999 on degenerate
    input (metrics.py:85-90). S_i = mean Euclidean distance to centroid.

    ``stats_rows`` lets callers that already collected cluster_stats
    (cluster_quality shares one pass across all metrics) skip pass 1.
    """
    # Exact DB needs two data passes (scatter = mean distance to centroid,
    # which is not a moment): pass 1 collects the k centroids, pass 2
    # re-scans with the centroids inlined as per-dimension map LITERALS —
    # sqrt((f[d] - cent_d[cluster])^2 ...) is pure codegen arithmetic, no
    # join, no broadcast job (k and dim are both small).
    if stats_rows is None:
        stats_rows = _stats_or_none(df, features, pred)
    if stats_rows is None:
        return 999.0
    # A NULL cluster label is "unassigned": it is no cluster, so it
    # contributes neither a centroid (a NULL key would crash
    # create_map) nor scatter rows. NULL-free inputs are unaffected.
    if any(r["cluster"] is None for r in stats_rows):
        stats_rows = [r for r in stats_rows if r["cluster"] is not None]
        df = df.filter(F.col(pred).isNotNull())
    k = len(stats_rows)
    if k < 2:
        return 999.0
    dim = len(stats_rows[0]["centroid"])
    f = F.col(features).cast("array<double>")
    cent_maps = [
        F.create_map(
            *[
                lit
                for r in stats_rows
                for lit in (F.lit(r["cluster"]), F.lit(r["centroid"][d]))
            ]
        )
        for d in range(dim)
    ]
    diffs = [f[d] - cent_maps[d][F.col(pred)] for d in range(dim)]
    dist_sq = sum((dd * dd for dd in diffs[1:]), diffs[0] * diffs[0])
    scatter_rows = (
        df.groupBy(F.col(pred).alias("cluster"))
        .agg(F.avg(F.sqrt(dist_sq)).alias("scatter"))
        .collect()
    )
    s = {r["cluster"]: r["scatter"] for r in scatter_rows}
    c = {r["cluster"]: r["centroid"] for r in stats_rows}
    keys = sorted(s)
    worst = []
    for i in keys:
        best = 0.0
        for j in keys:
            if i == j:
                continue
            d = math.sqrt(sum((a - b) ** 2 for a, b in zip(c[i], c[j])))
            if d == 0:
                return 999.0
            best = max(best, (s[i] + s[j]) / d)
        worst.append(best)
    return sum(worst) / k


def silhouette_pointwise(
    df: DataFrame,
    features: str = FEATURES,
    pred: str = PREDICTION,
    id_col: str = "row_id",
) -> DataFrame:
    """Per-point exact Euclidean silhouette s(i) (sklearn semantics).

    O(n^2) self-join — parity/test path only; use `silhouette_squared`
    at scale. Singleton clusters get s(i) = 0 (sklearn convention).
    """
    a = df.select(
        F.col(id_col).alias("ia"),
        F.col(features).cast("array<double>").alias("fa"),
        F.col(pred).alias("pa"),
    )
    b = df.select(
        F.col(id_col).alias("ib"),
        F.col(features).cast("array<double>").alias("fb"),
        F.col(pred).alias("pb"),
    )
    pair_means = (
        a.join(b, F.col("ia") != F.col("ib"))
        .groupBy("ia", "pa", "pb")
        .agg(F.avg(F.sqrt(_sq_dist(F.col("fa"), F.col("fb")))).alias("mdist"))
    )
    per_point = pair_means.groupBy("ia", "pa").agg(
        F.max(F.when(F.col("pb") == F.col("pa"), F.col("mdist"))).alias("a_i"),
        F.min(F.when(F.col("pb") != F.col("pa"), F.col("mdist"))).alias("b_i"),
    )
    return per_point.select(
        F.col("ia").alias(id_col),
        F.col("pa").alias(pred),
        F.when(F.col("a_i").isNull() | F.col("b_i").isNull(), F.lit(0.0))
        .otherwise(
            (F.col("b_i") - F.col("a_i"))
            / F.greatest(F.col("a_i"), F.col("b_i"))
        )
        .alias("silhouette"),
    )


def silhouette_exact(
    df: DataFrame,
    features: str = FEATURES,
    pred: str = PREDICTION,
    id_col: str = "row_id",
) -> float:
    """Mean exact silhouette; 0 on degenerate input (metrics.py:75-84)."""
    kn = df.agg(
        F.countDistinct(pred).alias("k"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    k, n = kn["k"], kn["n"]
    if k < 2 or k >= n:
        return 0.0
    row = (
        silhouette_pointwise(df, features, pred, id_col)
        .agg(F.avg("silhouette").alias("s"))
        .collect()[0]
    )
    return float(row["s"])


def silhouette_squared(
    df: DataFrame, features: str = FEATURES, pred: str = PREDICTION
) -> float:
    """O(n) squared-Euclidean silhouette via MLlib ClusteringEvaluator.

    The scale path: mathematically the squared-distance variant, so NOT
    bit-identical to sklearn's Euclidean silhouette — documented delta;
    the rank-sum comparator only needs a consistent ordering.
    Fallback 0 on failure (metrics.py:75-84).
    """
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.functions import array_to_vector

    try:
        vdf = df.select(
            F.col(pred).cast("double").alias(PREDICTION),
            array_to_vector(F.col(features).cast("array<double>")).alias(
                FEATURES
            ),
        )
        ev = ClusteringEvaluator(
            featuresCol=FEATURES,
            predictionCol=PREDICTION,
            metricName="silhouette",
        )
        return float(ev.evaluate(vdf))
    except Exception:
        return 0.0


def pair_confusion_sums(df: DataFrame, col_a: str, col_b: str) -> dict:
    """Sufficient statistics for ARI from the label contingency table."""
    # ONE scan of the data: collect the (k_a x k_b) contingency table —
    # label-pair cardinality, tiny by construction — and fold the three
    # comb2 sums driver-side instead of re-running the groupBy per sum.
    cont = (
        df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("nij")).collect()
    )

    def comb2(c: float) -> float:
        return c * (c - 1) / 2.0

    ai: dict = {}
    bj: dict = {}
    sum_nij2 = 0.0
    n = 0
    for r in cont:
        sum_nij2 += comb2(r["nij"])
        ai[r[col_a]] = ai.get(r[col_a], 0) + r["nij"]
        bj[r[col_b]] = bj.get(r[col_b], 0) + r["nij"]
        n += r["nij"]
    row = {"n": n, "sum_nij2": sum_nij2}
    arow = {"sum_ai2": sum(comb2(v) for v in ai.values())}
    brow = {"sum_bj2": sum(comb2(v) for v in bj.values())}
    return {
        "sum_nij2": float(row["sum_nij2"]),
        "sum_ai2": float(arow["sum_ai2"]),
        "sum_bj2": float(brow["sum_bj2"]),
        "n": int(row["n"]),
    }


def adjusted_rand_index(df: DataFrame, col_a: str, col_b: str) -> float:
    """Closed-form ARI from groupBy counts (metrics.py:268,301).

    ARI = (Sum_ij C(n_ij,2) - E) / (M - E), with
    E = Sum_i C(a_i,2) * Sum_j C(b_j,2) / C(n,2),
    M = (Sum_i C(a_i,2) + Sum_j C(b_j,2)) / 2.
    Perfect-agreement degenerate case -> 1.0 (sklearn convention).
    """
    s = pair_confusion_sums(df, col_a, col_b)
    cn2 = s["n"] * (s["n"] - 1) / 2.0
    if cn2 == 0:
        return 1.0
    expected = s["sum_ai2"] * s["sum_bj2"] / cn2
    maximum = (s["sum_ai2"] + s["sum_bj2"]) / 2.0
    if maximum == expected:
        return 1.0
    return (s["sum_nij2"] - expected) / (maximum - expected)


def cochrans_q(df: DataFrame, cols: list[str]) -> tuple[float, int]:
    """Cochran's Q over k binary columns (statsmodels formula;
    metrics.py:613-617).

    Q = (k-1) * (k * Sum_j T_j^2 - N^2) / (k*N - Sum_i R_i^2),
    T_j column totals, R_i row totals, N grand total. df = k-1.
    Single aggregation pass. Raises ZeroDivisionError on a degenerate
    matrix (every row all-0/all-1) — callers skip, matching the
    reference's try/continue (metrics.py:610-612,625-627).
    """
    k = len(cols)
    rowsum = sum((F.col(c).cast("long") for c in cols), F.lit(0))
    # coalesce: an empty/all-null slice yields NULL sums, which must
    # reach the degenerate-denominator guard as zeros (a None would
    # TypeError before it and bypass callers' skip logic)
    aggs = [
        F.coalesce(F.sum(F.col(c).cast("long")), F.lit(0)).alias(f"t_{i}")
        for i, c in enumerate(cols)
    ]
    aggs += [
        F.coalesce(F.sum(rowsum), F.lit(0)).alias("n_total"),
        F.coalesce(F.sum(rowsum * rowsum), F.lit(0)).alias("sum_r2"),
    ]
    r = df.agg(*aggs).collect()[0]
    n_total = r["n_total"]
    sum_t2 = sum(r[f"t_{i}"] ** 2 for i in range(k))
    denom = k * n_total - r["sum_r2"]
    if denom == 0:
        raise ZeroDivisionError("degenerate binary matrix for Cochran's Q")
    q = (k - 1) * (k * sum_t2 - n_total * n_total) / denom
    return float(q), k - 1


def i2_score(q: float, dof: int) -> float:
    """I^2 = (Q - df)/Q * 100, rounded 3 (metrics.py:614-617)."""
    return round((q - dof) / q * 100, 3)


def variability(
    df: DataFrame,
    q_code_cols: dict[str, list[str]],
    pred: str = PREDICTION,
) -> dict:
    """Mean positive I^2 across question groups, overall and per cluster
    (metrics.py:578-633). `q_code_cols` maps question code -> its binary
    `_tgt` columns (name-registry driven, as the reference's regex)."""

    def mean_i2(frame: DataFrame) -> float:
        scores = []
        for cols in q_code_cols.values():
            try:
                q, dof = cochrans_q(frame, cols)
                # Q == 0 (equal column totals) divides by zero in I^2 —
                # same skip as the degenerate matrix, mirroring the
                # reference's try/continue around BOTH steps
                # (metrics.py:610-627)
                i2 = i2_score(q, dof)
            except ZeroDivisionError:
                continue
            if i2 > 0:
                scores.append(i2)
        return round(sum(scores) / len(scores), 3) if scores else float("nan")

    results: dict = {"all_clusters": mean_i2(df)}
    clusters = sorted(
        r[pred] for r in df.select(pred).distinct().collect()
    )
    for cl in clusters:
        results[cl] = mean_i2(df.filter(F.col(pred) == cl))
    return results


def avg_rank(col: str, ascending: bool = True) -> Column:
    """pandas ``Series.rank()`` average-tie semantics as a window expr:
    rank(v) = |{x < v}| + (|{x == v}| + 1)/2."""
    order = F.col(col).asc() if ascending else F.col(col).desc()
    rnk = F.rank().over(Window.orderBy(order))
    ties = F.count(F.lit(1)).over(Window.partitionBy(col))
    return rnk + (ties - F.lit(1)) / F.lit(2.0)


def rank_cluster_metrics(
    metrics_df: DataFrame, information_criterions: bool = False
) -> DataFrame:
    """Rank-sum model selection (metrics.py:127-146): silhouette asc,
    davies_bouldin desc, calinski asc; with ICs, bic/aic desc and the
    bic rank weighted x1.3 AFTER ranking. Winner = max rank_sum."""
    out = (
        metrics_df.withColumn("silhouette_rank", avg_rank("silhouette"))
        .withColumn("davies_bouldin_rank", avg_rank("davies_bouldin", False))
        .withColumn("calinski_harabasz_rank", avg_rank("calinski_harabasz"))
    )
    rank_cols = ["silhouette_rank", "davies_bouldin_rank", "calinski_harabasz_rank"]
    if information_criterions:
        out = (
            out.withColumn("bic_rank", avg_rank("bic", False) * F.lit(1.3))
            .withColumn("aic_rank", avg_rank("aic", False))
        )
        rank_cols += ["bic_rank", "aic_rank"]
    total = sum((F.col(c) for c in rank_cols), F.lit(0.0))
    return out.withColumn("rank_sum", total)


def cluster_quality(
    df: DataFrame,
    features: str = FEATURES,
    pred: str = PREDICTION,
    n_seed=None,
) -> dict:
    """get_cluster_metrics equivalent (metrics.py:42-124): silhouette /
    davies_bouldin / calinski_harabasz / proportions with the reference's
    exact fallback values.

    The labeled frame is cached and ONE cluster_stats pass feeds
    sizes + proportions + CH and DB's centroid side — without the
    sharing, each metric re-executed the upstream model.transform +
    scan plus its own stats pass (the dominant cost when callers like
    optimal_k / kmeans_multi_seed evaluate many fits). Four reads: the
    feature-dimension probe (a limit-1 scan), the stats aggregate,
    MLlib's ClusteringEvaluator for the silhouette, and DB's scatter
    aggregate. They are more Spark jobs than reads: AQE runs each
    aggregate's shuffle stage as a job of its own, and the evaluator
    runs several, so a traced survey counts 11 jobs for one call."""
    # a NULL prediction is "unassigned" — it is a member of no cluster,
    # so it contributes to no quality metric (same contract as
    # davies_bouldin's NULL-centroid exclusion; None cluster keys would
    # crash the sorted() below). NULL-free inputs are untouched.
    df = df.filter(F.col(pred).isNotNull()).cache()
    try:
        stats = _stats_or_none(df, features, pred)
        sizes = (
            [] if stats is None else sorted(stats, key=lambda r: r["cluster"])
        )
        n_total = sum(r["n"] for r in sizes)
        k = len(sizes)
        sil = silhouette_squared(df, features, pred)
        try:
            db = davies_bouldin(df, features, pred, stats_rows=stats)
            ch = _calinski_harabasz_from(stats)
        except Exception:
            db, ch = 999.0, 0.0
        return {
            "n_seed": n_seed if n_seed is not None else "No seed selected",
            "n_clusters": k,
            "silhouette": sil,
            "davies_bouldin": db,
            "calinski_harabasz": ch,
            "cluster_proportions": {
                r["cluster"]: r["n"] / n_total for r in sizes
            },
        }
    finally:
        df.unpersist()


def random_checker(
    df: DataFrame,
    features: str = FEATURES,
    pred: str = PREDICTION,
    cluster_metrics: dict | None = None,
    n_runs: int = 10,
    seed: int = 42,
) -> dict:
    """Random-baseline ratios (metrics.py:149-174): mean metric over
    `n_runs` random labelings; note the reference's randint(0, k) is
    INCLUSIVE — k+1 possible random labels — replicated here."""
    from concurrent.futures import ThreadPoolExecutor

    cluster_metrics = dict(cluster_metrics or {})
    k = df.select(pred).distinct().count()

    # Per-metric fallbacks: each failed run contributes its reference
    # fallback value (DB -> 999, CH -> 0.0, metrics.py:85-90), guarded
    # independently so one metric's failure can't double-count the other.
    # Runs are independent jobs — a thread pool lets the scheduler
    # interleave their stages; summation stays in run order (pool.map
    # preserves order) so the result is bit-identical to the serial loop.
    def one_run(i: int) -> tuple[float, float, float]:
        rnd = df.withColumn(
            "_rand_label",
            F.floor(F.rand(seed + i) * (k + 1)).cast("int"),
        )
        sil = silhouette_squared(rnd, features, "_rand_label")
        try:
            db = davies_bouldin(rnd, features, "_rand_label")
        except Exception:
            db = 999.0
        try:
            ch = calinski_harabasz(rnd, features, "_rand_label")
        except Exception:
            ch = 0.0
        return sil, db, ch

    with ThreadPoolExecutor(max_workers=min(8, n_runs)) as pool:
        runs = list(pool.map(one_run, range(n_runs)))
    accum = {"silhouette": 0.0, "davies_bouldin": 0.0, "calinski_harabasz": 0.0}
    for sil, db, ch in runs:
        accum["silhouette"] += sil
        accum["davies_bouldin"] += db
        accum["calinski_harabasz"] += ch
    mean = {m: v / n_runs for m, v in accum.items()}
    cluster_metrics["calinski_harabasz_random_ratio"] = (
        cluster_metrics.get("calinski_harabasz", 0.0)
        / mean["calinski_harabasz"]
        if mean["calinski_harabasz"]
        else float("nan")
    )
    cluster_metrics["davies_bouldin_random_ratio"] = (
        mean["davies_bouldin"] / cluster_metrics.get("davies_bouldin", 999.0)
        if cluster_metrics.get("davies_bouldin")
        else float("nan")
    )
    cluster_metrics["silhouette_random_ratio"] = (
        abs(cluster_metrics.get("silhouette", 0.0) / mean["silhouette"])
        if mean["silhouette"]
        else float("nan")
    )
    return cluster_metrics
