"""Catalog entries for the ML layer (SURVEY §2.7).

Planted-label queries make the quality metrics oracle-checkable: a
deterministic "clustering" (l_returnflag / c_mktsegment / price bands)
stands in for model output, so Davies-Bouldin / Calinski-Harabasz /
silhouette / ARI / Cochran's Q reduce to closed-form SQL DuckDB can run.
Actual MLlib fits (seed-dependent, not SQL-expressible) are registered
without oracles -> the driver's weaker rows-only check (per the
contract).
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.catalog import load_table, none_last_key, register
from qudo_etl_pipeline_spark.functions.rounding import ref_round_sql
from qudo_etl_pipeline_spark.ml import business as B
from qudo_etl_pipeline_spark.ml import features as FE
from qudo_etl_pipeline_spark.ml import kmodes as KM
from qudo_etl_pipeline_spark.ml import lca as LCA
from qudo_etl_pipeline_spark.ml import quality as Q
from qudo_etl_pipeline_spark.ml import signal as S
from qudo_etl_pipeline_spark.ml.clustering import (
    BALANCE_HI,
    BALANCE_LO,
    MAX_K,
    MIN_K,
    SEEDS,
    elbow_index,
    rank_best,
    remove_unbalanced,
)
from qudo_etl_pipeline_spark.ml.quality import FEATURES, PREDICTION

# --- Frame versions of the survey's table fits and metrics -------------
# The survey fits and measures the rows of its scheme table
# (ml.features, ml.kmodes, ml.lca, ml.business); these read a frame's
# own table first, for the queries below and the tests.


def pattern_table(df: DataFrame, cols: list[str]) -> list[Row]:
    """The (pattern, count ``_w``) table of ``cols``, native types kept:
    what the catalog's cluster metrics of a labelled frame read. At most
    ``PATTERN_THRESHOLD`` rows reach the driver: the probe's ``limit``
    bounds what it collects, and a table that overflows it is a
    ``features._priority_sample``."""
    table = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("_w"))
    rows = table.limit(FE.PATTERN_THRESHOLD + 1).collect()
    if len(rows) <= FE.PATTERN_THRESHOLD:
        return rows
    return [Row(**d) for d in FE._priority_sample(table, cols, "_w")[0]]


def kmodes_fit(
    df: DataFrame,
    cat_cols: list[str],
    k: int,
    num_cols: list[str] | None = None,
    gamma: float | None = None,
    max_iter: int = 20,
    id_col: str = "row_id",
) -> dict:
    """``kmodes.kmodes_table`` over ``df``'s scheme table (Cao's ties go to
    the least ``id_col``), plus ``labels``: ``df`` with `prediction`."""
    num_cols = list(num_cols or [])
    table = FE.scheme_table(df, [*cat_cols, *num_cols], id_col=id_col)
    fit = KM.kmodes_table(table.rows, cat_cols, k, num_cols, gamma, max_iter)
    fit["labels"] = fit["label"](df)
    return fit


def _on_frame(df: DataFrame, cols: list[str], num_cols: list[str], **grid) -> dict:
    """``lca.lca_table`` over ``df``'s scheme table, plus ``labels``."""
    table = FE.scheme_table(df, [*cols, *num_cols])
    fit = LCA.lca_table(table.rows, cols, num_cols=num_cols, **grid)
    fit["labels"] = fit["label"](df)
    return fit


def lca_fit(
    df: DataFrame,
    cols: list[str],
    k: int,
    seed: int = 42,
    max_iter: int = 60,
    tol: float = 1e-4,
    smoothing: float = 1e-3,
    num_cols: list[str] | None = None,
) -> dict:
    """One EM run. Returns dict(labels, pi, theta, loglik, bic, aic,
    n_params, n_iter, mu, var, k, seed).

    With ``num_cols`` this is the reference's MIXED-type branch
    (depmixS4 ``mix``, reference lca.R:54-101, dispatched when the
    feature set has numeric columns — clustering.py:862-867): an
    independent mixture whose per-class factors are multinomials for
    ``cols`` and gaussians (per-class mean/variance) for ``num_cols``.
    The gaussian sufficient statistics (sum r*x, sum r*x^2 per class)
    ride the SAME weighted arrays as the class masses, so the mixed
    model adds no Spark work.
    """
    return _on_frame(
        df, cols, list(num_cols or []), ks=[k], seeds=[seed],
        max_iter=max_iter, tol=tol, smoothing=smoothing,
    )


def lca_select(
    df: DataFrame,
    cols: list[str],
    ks: list[int] | None = None,
    n_rep: int = 3,
    seed: int = 42,
    max_iter: int = 60,
    num_cols: list[str] | None = None,
) -> dict:
    """poLCA-style selection (lca.R:13-52): refit over k x restarts
    (seeds ``seed .. seed + n_rep - 1``), keep the minimum-BIC model.
    n_rep is a scaled-down nrep=100.

    With ``num_cols`` this is the mixed-type dispatch: the reference's
    depmixS4 branch scans k in 2..8 and keeps the min-BIC mixture
    (lca.R:90-99); pass ``ks=list(range(2, 9))`` for exact parity.

    The whole grid reads one scheme table: the selection costs its
    shuffle plus the winning model's lazy labelling pass, regardless of
    |ks| x n_rep."""
    return _on_frame(
        df, cols, list(num_cols or []), ks=ks or list(range(3, 9)),
        seeds=[seed + rep for rep in range(n_rep)], max_iter=max_iter,
    )


def social_presence(
    labeled: DataFrame,
    sm_platform: str,
    pred: str = "prediction",
    marker: str = "mc_",
) -> dict | float:
    """M30 (metrics.py:364-404): per-cluster share answering exactly
    `sm_platform` on the social column, rounded 3. The social column is
    the first `marker` column, in frame order, whose values mention the
    platform (metrics.py:374-390); NaN if there is none.

    One collect of the (prediction, candidates, count) pattern table;
    the column is chosen from its rows."""
    cands = [c for c in labeled.columns if marker in c]
    if not cands:
        return float("nan")
    table = pattern_table(labeled, [pred, *cands])
    return B._presence(table, cands, sm_platform, pred, {})


def magnitude(
    deliver: B.Deliver,
    labeled: DataFrame,
    tgt_cols: list[str],
    pred: str = "prediction",
    seg_col: str = "targeting_seg",
) -> dict | float:
    """M31 (metrics.py:636-687): magnitude = cluster share (round 2) x
    (significant `_tgt` rows per segment / #tgt variables), round 3;
    plus 'all_clusters' total; NaN if total is 0 or > 1. The cluster
    sizes are one collect of the (prediction, count) table."""
    if not tgt_cols:
        return float("nan")
    sizes = B._sizes(pattern_table(labeled, [pred]), pred)
    return B._magnitude(B._rows(deliver), sizes, len(tgt_cols), seg_col)


# --- Spark quality metrics and feature encoders ------------------------
# The survey computes its cluster metrics on the driver from a pattern
# table (ml.quality); these DataFrame versions serve the oracle queries
# below and the tests as references.


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance between two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


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
    skip pass 1.
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

    O(n^2) self-join — parity/test path only; the survey's silhouette
    is `ml.quality`'s squared-Euclidean one. Singleton clusters get
    s(i) = 0 (sklearn convention).
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


def target_encode_oof(
    df: DataFrame,
    id_col: str,
    cat_col: str,
    target_col: str,
    n_folds: int = 5,
    smoothing: int = 20,
    seed: int = 0,
) -> DataFrame:
    """K-fold out-of-fold target (mean) encoding of a categorical
    column — the leakage-safe form of the classic high-cardinality
    encoder: each row's encoding uses ONLY target statistics from the
    OTHER folds, so the feature never memorizes its own row's label,
    plus additive smoothing toward the global mean for rare categories
    (encoding = (sum_other_folds + smoothing * global_mean) /
    (cnt_other_folds + smoothing)).

    Fold assignment is ``hash64(seed || id) % n_folds`` — a pure row
    function: deterministic across engines/reruns, no shuffle. The
    statistics are ONE groupBy(category, fold) over exact integer/
    DECIMAL sums; per-category totals derive from that cell frame
    (never a second scan) and out-of-fold = total - own fold, exact.
    The only IEEE steps are the final two divisions (global mean,
    encoding), each one fixed expression — engine-identical.

    Output: (id, category, fold, target, te6). NULL categories encode
    to the smoothed global mean (their statistics pool is empty).
    """
    from qudo_etl_pipeline_spark.functions.hashing import hash64
    from qudo_etl_pipeline_spark.functions.rounding import ref_round

    t = F.col(target_col).cast("bigint")
    fold = (
        hash64(
            F.concat(F.lit(f"fold:{seed}:"), F.col(id_col).cast("string"))
        )
        % n_folds
    )
    src = df.select(
        F.col(id_col).alias("_id"),
        F.col(cat_col).alias("_c"),
        t.alias("_t"),
        fold.alias("_f"),
    ).filter(F.col("_t").isNotNull())
    from qudo_etl_pipeline_spark.operators.prefix import (
        acquire_operator_cache,
    )

    # cached once ((category, fold)-bounded) so "per-category totals
    # derive from that cell frame (never a second scan)" holds
    # physically: the per-category, global and stats branches would
    # otherwise each re-run the scan + groupBy (measured: 5 scans per
    # execution; 2 remain — the cell build and the encode join-back)
    cells = acquire_operator_cache(
        src.groupBy("_c", "_f").agg(
            F.count(F.lit(1)).alias("_n"), F.sum("_t").alias("_s")
        )
    )
    per_cat = cells.groupBy("_c").agg(
        F.sum("_n").alias("_cn"), F.sum("_s").alias("_cs")
    )
    glob = cells.agg(
        F.sum("_n").alias("_gn"), F.sum("_s").alias("_gs")
    )
    stats = (
        cells.join(per_cat, "_c")
        .crossJoin(F.broadcast(glob))
        .select(
            "_c",
            "_f",
            (F.col("_cn") - F.col("_n")).alias("_on"),
            (F.col("_cs") - F.col("_s")).alias("_os"),
            "_gn",
            "_gs",
        )
    )
    gmean = F.col("_gs").cast("double") / F.col("_gn").cast("double")
    te = (
        F.col("_os").cast("double") + F.lit(float(smoothing)) * gmean
    ) / (F.col("_on").cast("double") + F.lit(float(smoothing)))
    enc = stats.select(
        "_c", "_f", ref_round(te, 6).alias("te6")
    )
    out = src.join(enc, ["_c", "_f"], "left")
    # categories absent from the stats pool (NULL category) take the
    # smoothed-empty encoding = global mean
    fallback = glob.select(
        ref_round(gmean, 6).alias("_te_fallback")
    )
    return (
        out.crossJoin(F.broadcast(fallback))
        .select(
            F.col("_id").alias(id_col),
            F.col("_c").alias(cat_col),
            F.col("_f").alias("fold"),
            F.col("_t").alias(target_col),
            F.coalesce(F.col("te6"), F.col("_te_fallback")).alias("te6"),
        )
    )


def hashed_features(
    df: DataFrame,
    id_col: str,
    cols: list[str],
    n_features: int = 1024,
) -> DataFrame:
    """The hashing trick (Weinberger et al., ICML'09): map arbitrary
    categorical columns onto a FIXED feature space with a signed hash,
    index = hash64(col || value) % n_features and sign from the hash's
    next bit — no vocabulary pass, no fit state, new categories at
    serving time land deterministically. The standard featurizer when
    label encoding's sorted-vocabulary contract can't hold (unbounded
    or drifting domains).

    Map-only (one projection + explode; no shuffle, no driver state).
    Output long form — (id, col_name, feature_index, sign) one row per
    non-NULL input cell — the shape both a sparse-vector assembler and
    the DuckDB oracle consume directly.
    """
    from qudo_etl_pipeline_spark.functions.hashing import hash64

    structs = []
    for c in cols:
        h = hash64(F.concat(F.lit(f"feat:{c}:"), F.col(c).cast("string")))
        structs.append(
            F.when(
                F.col(c).isNotNull(),
                F.struct(
                    F.lit(c).alias("col_name"),
                    (h % n_features).alias("feature_index"),
                    # sign bit = (h // n) % 2, written as the pure-
                    # modulo identity h mod 2n < n: exact BIGINT
                    # arithmetic (h / n would be a DOUBLE division in
                    # Spark — lossy past 2^53 and engine-divergent)
                    F.when(h % (2 * n_features) < n_features, F.lit(1))
                    .otherwise(F.lit(-1))
                    .cast("bigint")
                    .alias("sign"),
                ),
            )
        )
    return (
        df.select(
            F.col(id_col).alias(id_col),
            F.explode(
                F.filter(
                    F.array(*structs), lambda s: s.isNotNull()
                )
            ).alias("_f"),
        )
        .select(id_col, "_f.col_name", "_f.feature_index", "_f.sign")
    )


# --- Signal-loss samplers, slice signal and consistency checks ---------
# The survey's signal loss is ml.signal's pattern-majority classifier over
# the family's pattern table. These are the reference's other signal and
# consistency metrics (metrics.py:234-308, 407-514, 742-811), which the
# survey does not run.
#
# Samplers use `sampleBy` class fractions (RUS keeps each row with seeded
# Bernoulli probability m/n per class: approximate class sizes, WITHOUT
# replacement, a documented delta from the reference's
# RandomUnderSampler(replacement=True) exact-size draw; ROS samples every
# class up to the majority size). SMOTE is true k-NN SMOTE per class
# partition: an Arrow-batched `applyInPandas` kernel per minority class
# interpolates toward one of each sample's k nearest within-class
# neighbors at a uniform step, imblearn's synthetic-sample formula with a
# seeded RNG. The data_slicer loop is driver-controlled, but each step is
# a lazy filter + count on the executors; confusion matrices, slicer
# counts and ARIs aggregate before collecting.


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


def classification_metrics(
    scored: DataFrame, label_col: str, pred_col: str
) -> dict:
    """accuracy / weighted precision / recall / f1 / Cohen's kappa from
    the confusion matrix (sklearn 'weighted' average semantics,
    metrics.py:761-766), one groupBy collect. Rounded 3 as the
    reference."""
    return S._metrics_from_confusion(
        {
            (r[label_col], r[pred_col]): r["n"]
            for r in scored.groupBy(label_col, pred_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
            # a pair with a NULL truth or NULL prediction is
            # unscoreable: it belongs to no confusion-matrix cell
            if r[label_col] is not None and r[pred_col] is not None
        }
    )


def _resample(
    df: DataFrame,
    target_col: str,
    sampling: str | None,
    seed: int,
    max_class_rows: int = 20_000,
) -> DataFrame:
    """RUS/ROS/SMOTE-like resampling (metrics.py:742-750).
    ``max_class_rows`` caps SMOTE's per-class quadratic donor pool."""
    if sampling is None:
        return df
    counts = {
        r[target_col]: r["n"]
        for r in df.groupBy(target_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if sampling == "under":
        m = min(counts.values())
        fractions = {c: m / n for c, n in counts.items()}
        return df.sampleBy(target_col, fractions, seed=seed)
    if sampling == "over":
        m = max(counts.values())
        parts = [df]
        for c, n in counts.items():
            extra = m - n
            if extra > 0:
                parts.append(
                    df.filter(F.col(target_col) == c).sample(
                        withReplacement=True, fraction=extra / n, seed=seed
                    )
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    if sampling == "smote":
        return _smote_like(
            df, target_col, counts, seed, max_class_rows=max_class_rows
        )
    raise ValueError(f"unknown sampling {sampling!r}")


def _smote_like(
    df: DataFrame,
    target_col: str,
    counts: dict,
    seed: int,
    k: int = 5,
    max_class_rows: int = 20_000,
) -> DataFrame:
    """k-NN SMOTE (reference metrics.py:749-750, imblearn semantics):
    each synthetic minority row interpolates between a class sample and
    one of its ``k`` nearest SAME-CLASS neighbors (Euclidean), never a
    random far pair — synthetic mass stays inside the class manifold
    instead of bridging separated sub-clusters.

    Arrow-batched ``applyInPandas`` per class: the kernel sees one class
    at a time, so the neighbor search is per-class. The O(n_c^2)
    distance matrix is ENFORCED-bounded by ``max_class_rows``: a class
    larger than the cap interpolates within a seeded uniform subsample
    of the class (the donor pool), so kernel cost is O(cap^2) ≈ 3.2 GB
    of float64 distances at the 20k default, regardless of class size.
    All original rows always pass through; only the donor pool shrinks
    — the standard subsample-before-interpolate trade (oversized
    classes are the MAJORITY classes, which need few or no synthetic
    rows anyway). Classes at or under the cap take the exact un-capped
    path bit-for-bit (the subsample draw only happens above the cap,
    so the RNG stream is unchanged). Values are re-rounded to the input
    dtype because the pipeline's features are label-encoded ints.
    """
    import pandas as pd

    feature_cols = [c for c in df.columns if c != target_col]
    m = max(counts.values())
    schema = df.schema

    def interp(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        need = m - len(pdf)
        if need <= 0 or len(pdf) < 2:
            return pdf
        # md5, not hash(): Python string hashing is salted per process,
        # which would make the "seeded" kernel nondeterministic across
        # runs and task retries
        import hashlib

        label_off = int(
            hashlib.md5(str(pdf[target_col].iloc[0]).encode()).hexdigest()[:8],
            16,
        )
        rng = np.random.default_rng(seed + label_off)
        x = pdf[feature_cols].to_numpy(dtype=float)
        if len(x) > max_class_rows:
            # donor-pool subsample: caps the quadratic neighbor search
            x = x[rng.choice(len(x), max_class_rows, replace=False)]
        n = len(x)
        kk = min(k, n - 1)
        # pairwise squared distances within the (capped) donor pool;
        # self excluded via +inf diagonal, then the kk nearest per row
        d2 = ((x[:, None, :] - x[None, :, :]) ** 2).sum(axis=2)
        np.fill_diagonal(d2, np.inf)
        nn = np.argpartition(d2, kth=kk - 1, axis=1)[:, :kk]
        i = rng.integers(0, n, need)
        j = nn[i, rng.integers(0, kk, need)]
        lam = rng.random(need)[:, None]
        sx = x[i] + lam * (x[j] - x[i])
        synth = {
            c: np.rint(sx[:, ci]).astype(pdf[c].dtype)
            for ci, c in enumerate(feature_cols)
        }
        synth[target_col] = pdf[target_col].iloc[0]
        return pd.concat([pdf, pd.DataFrame(synth)], ignore_index=True)

    return df.groupBy(target_col).applyInPandas(interp, schema=schema)


def signal_loss(
    df: DataFrame,
    tgt_cols: list[str],
    target_col: str = "prediction",
    seed: int = 42,
) -> dict:
    """M33 of a labelled frame: one collect of its (`_tgt` codes,
    ``target_col``, count) table feeds ``signal.pattern_signal``."""
    if not tgt_cols:
        return {}
    table = pattern_table(
        assemble_array(df, tgt_cols), ["features", target_col]
    )
    return S.pattern_signal(
        table, "features", list(range(len(tgt_cols))), target_col, seed
    )


def best_signal_metric(
    df: DataFrame,
    tgt_cols: list[str],
    target_col: str = "prediction",
    seed: int = 42,
) -> dict:
    """The signal loss of the winning sampler: per-metric argmax vote
    over the rus/ros/none 'all' dicts (metrics.py:782-811; pandas idxmax
    ties -> first column 'rus'). Each variant resamples the complete
    rows BEFORE the train/test split, as the reference does
    (metrics.py:742-758: fit_resample then train_test_split), so
    duplicated rows can land in the holdout."""
    base = df.select(*tgt_cols, target_col).na.drop()
    order = ["rus", "ros", "none"]
    variants = {
        name: signal_loss(
            _resample(base, target_col, s, seed), tgt_cols, target_col, seed
        )
        for name, s in zip(order, ["under", "over", None])
    }
    votes: dict[str, int] = {k: 0 for k in order}
    for metric in ["signal", "f1_score", "precision", "recall_score", "cohen_kappa_score"]:
        best = max(order, key=lambda k: (variants[k]["all"][metric], -order.index(k)))
        votes[best] += 1
    winner = max(order, key=lambda k: (votes[k], -order.index(k)))
    return variants[winner]


def data_slicer(
    df: DataFrame, tgt_cols: list[str], pop_modes: list
) -> tuple[DataFrame, list[str], list[str], float]:
    """M34 iterative mode-filter (metrics.py:407-437), replicated with
    the reference's exact control flow (incl. min_count rebinding to the
    CURRENT sliced size each sweep)."""
    percent_retained = 0.25
    min_count = percent_retained * df.count()
    core_cols: list[str] = []
    sub_cols: list[str] = []
    # Each accepted filter is cached (and the previous cache released):
    # the next candidate's count reads ONE cached frame + one filter
    # instead of re-scanning the whole compounding filter chain from the
    # base table — O(accepted) passes, not O(accepted^2).
    data = df
    prev_cache = None
    while len(core_cols) < 6:
        if percent_retained < 0.15:
            break
        core_cols = []
        sub_cols = []
        for col, mode in zip(tgt_cols, pop_modes):
            # cache BEFORE counting so the count materializes the cache,
            # and only then release the parent — evicting first would
            # force the next candidate to recompute the whole filter
            # chain from the base table
            filtered = data.filter(F.col(col).eqNullSafe(F.lit(mode))).cache()
            if filtered.count() < min_count:
                filtered.unpersist()
                sub_cols.append(col)
            else:
                if prev_cache is not None:
                    prev_cache.unpersist()
                data = prev_cache = filtered
                core_cols.append(col)
        percent_retained -= 0.01
        min_count = percent_retained * data.count()
    return data, core_cols, sub_cols, percent_retained


def chi_square_signal(
    sliced: DataFrame, original: DataFrame, seg, label_col: str = "prediction"
) -> dict:
    """TP/FP/FN/TN accuracy of a slice as a segment predictor
    (metrics.py:440-460). Zeros on an empty slice."""
    is_seg = (F.col(label_col) == seg).cast("long")
    s = sliced.agg(
        F.count(F.lit(1)).alias("n"), F.sum(is_seg).alias("tp")
    ).collect()[0]
    n_slice = s["n"]
    if n_slice == 0:
        return {"signal": 0, "precision": 0, "recall_score": 0, "f1_score": 0}
    # sum over an all-NULL slice (labels all NULL) is NULL, not 0
    tp = s["tp"] or 0
    # NULL labels belong to neither count (the filter forms exclude them)
    o = original.agg(
        F.sum(is_seg).alias("true"),
        F.sum((F.col(label_col) != seg).cast("long")).alias("false"),
    ).collect()[0]
    true = o["true"] or 0
    false = o["false"] or 0
    fp = n_slice - tp
    fn = true - tp
    tn = false - fp
    try:
        accuracy = round((tp + tn) / (tp + tn + fp + fn), 3)
        precision = round(tp / (tp + fp), 3)
        recall = round(tp / (tp + fn), 3)
        f1 = round(2 * (precision * recall) / (precision + recall), 3)
        return {
            "signal": accuracy,
            "precision": precision,
            "recall_score": recall,
            "f1_score": f1,
        }
    except ZeroDivisionError:
        return {"signal": 0, "precision": 0, "recall_score": 0, "f1_score": 0}


def model_consistency(
    df: DataFrame,
    refit,
    label_col: str = "prediction",
    test_frac: float = 0.1,
    seed: int = 42,
) -> float:
    """M18 (metrics.py:234-270): stratified 90/10 split, `refit(train)`
    returns a scorer mapping the test frame to new labels; ARI between
    refit predictions and original test labels."""
    # stratification is undefined for an unlabeled row (and sampleBy
    # refuses a None fraction key) — unassigned rows are excluded
    df = df.filter(F.col(label_col).isNotNull())
    labels = [r[label_col] for r in df.select(label_col).distinct().collect()]
    fractions = {l: 1 - test_frac for l in labels}
    train = df.sampleBy(label_col, fractions, seed=seed)
    test = df.exceptAll(train)
    predict = refit(train)
    # the refit scorer writes `label_col`; keep the originals as _orig
    test_renamed = test.withColumnRenamed(label_col, "_orig")
    scored = predict(test_renamed)
    return adjusted_rand_index(scored, "_orig", label_col)


def label_consistency(
    df: DataFrame,
    refit,
    label_col: str = "prediction",
    train_frac: float = 0.9,
    seed: int = 42,
) -> float:
    """M20 (metrics.py:273-308): refit on a stratified 90% sample; ARI
    between refit labels and the original labels on that sample."""
    # unassigned rows excluded — see model_consistency
    df = df.filter(F.col(label_col).isNotNull())
    labels = [r[label_col] for r in df.select(label_col).distinct().collect()]
    fractions = {l: train_frac for l in labels}
    train = df.sampleBy(label_col, fractions, seed=seed)
    train_renamed = train.withColumnRenamed(label_col, "_orig")
    predict = refit(train_renamed)
    scored = predict(train_renamed)
    return adjusted_rand_index(scored, "_orig", label_col)


# shared planted features: 3-d lineitem projection, cluster = l_returnflag
_LI_FEATS = """
    SELECT l_returnflag AS cl,
           l_quantity AS f1,
           l_extendedprice / 1000.0 AS f2,
           l_discount * 10.0 AS f3
    FROM lineitem
"""


# --- MLlib fits and the frame versions of the survey's scaling, PCA,
# sizes and cluster metrics ------------------------------------------
# The survey fits kmeans and GMM on its scheme table's patterns
# (ml.clustering); the queries below and the tests fit frames in MLlib
# with these (documented deltas: MLlib's k-means|| init against
# sklearn's k-means++, and MLlib's GaussianMixture against sklearn's
# BayesianGaussianMixture).


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


def cluster_quality(
    df: DataFrame,
    features: str = FEATURES,
    pred: str = PREDICTION,
    n_seed=None,
) -> dict:
    """get_cluster_metrics equivalent (metrics.py:42-124): silhouette /
    davies_bouldin / calinski_harabasz / proportions of ``df``'s
    ``features`` array under its ``pred`` labels, with the reference's
    exact fallback values.

    One collect of the (features, pred, count) table feeds
    :func:`pattern_quality`. The feature array is a pattern key: a
    continuous feature makes about one pattern per row, and
    ``pattern_table`` keeps at most ``PATTERN_THRESHOLD`` of them (a
    priority sample above it)."""
    table = pattern_table(df, [features, pred])
    return Q.pattern_quality(table, features, pred, n_seed)


def standardize(
    df: DataFrame, cols: list[str], stats: dict | None = None
) -> tuple[DataFrame, dict]:
    """Population-std z-score (sklearn StandardScaler parity, M2).

    Constant columns pass through centered (std 0 -> divide by 1,
    sklearn's behavior). Returns (transformed df, fitted stats) so a
    train-fit can be replayed on test data (model-consistency checks).
    """
    if stats is None:
        aggs = []
        for c in cols:
            aggs.append(F.avg(F.col(c).cast("double")).alias(f"m_{c}"))
            aggs.append(F.stddev_pop(F.col(c).cast("double")).alias(f"s_{c}"))
        row = df.agg(*aggs).collect()[0]
        stats = {
            c: (row[f"m_{c}"], row[f"s_{c}"] if row[f"s_{c}"] else 1.0)
            for c in cols
        }
    out = df.select(
        *[
            ((F.col(c).cast("double") - F.lit(stats[c][0])) / F.lit(stats[c][1])).alias(c)
            if c in cols
            else F.col(c)
            for c in df.columns
        ]
    )
    return out, stats


def assemble_array(
    df: DataFrame, cols: list[str], out_col: str = "features"
) -> DataFrame:
    """Pack columns into an array<double> features column."""
    return df.withColumn(
        out_col, F.array(*[F.col(c).cast("double") for c in cols])
    )


def find_n_components(
    df: DataFrame,
    features_col: str = "features",
    var_threshold: float = 0.5,
):
    """Fit full-rank PCA; smallest n with cum. explained variance >=
    threshold (clustering.py:259-274). Returns (ideal_n, fitted model)."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    vdf = df.select(
        array_to_vector(F.col(features_col).cast("array<double>")).alias("_v")
    )
    dim = len(vdf.first()["_v"])
    model = PCA(k=dim, inputCol="_v", outputCol="_pca").fit(vdf)
    cum = 0.0
    ideal_n = dim
    for i, ratio in enumerate(model.explainedVariance):
        cum += ratio
        if cum >= var_threshold:
            ideal_n = i + 1
            break
    return ideal_n, model


def pca_transform(
    df: DataFrame,
    features_col: str = "features",
    n_components: int | None = None,
    var_threshold: float = 0.5,
) -> tuple[DataFrame, int]:
    """Project features onto the first n principal components (M3).

    Output column replaces `features_col` with the array<double>
    projection; other columns pass through.
    """
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vdf = df.withColumn(
        "_v", array_to_vector(F.col(features_col).cast("array<double>"))
    )
    if n_components is None:
        # reuse the full-rank model find_n_components already fitted:
        # PCA components are nested (same ordered eigenvectors), so the
        # first n coordinates of the full projection ARE the
        # n-component projection — a second covariance/SVD job over the
        # data would recompute the identical subspace
        n_components, model = find_n_components(
            df, features_col, var_threshold
        )
        projected = F.slice(
            vector_to_array(F.col("_pca")), 1, n_components
        )
    else:
        model = PCA(k=n_components, inputCol="_v", outputCol="_pca").fit(vdf)
        projected = vector_to_array(F.col("_pca"))
    out = (
        model.transform(vdf)
        .withColumn(features_col, projected)
        .drop("_v", "_pca")
    )
    return out, n_components


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
    m = cluster_quality(
        fit["labels"], features=features_col, pred=PREDICTION, n_seed=fit["seed"]
    )
    m["n_clusters"] = fit["k"]
    if information:
        m["bic"] = fit.get("bic")
        m["aic"] = fit.get("aic")
    return m


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
                    lambda f: balance_ok(
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
        best = rank_best(metrics)
        fit, m = balanced_fits[best], metrics[best]
        fit["metrics"] = m
        return fit
    finally:
        vdf.unpersist()


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
        return int(metrics[rank_best(metrics, bonus=bonus)]["n_clusters"])
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
        best = rank_best([m for _, m in keep], information=True)
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
    out = FE.label_encode(df, [rules_col], suffix="__code")
    return out.withColumn(pred, F.col(rules_col + "__code")).drop(
        rules_col + "__code"
    )


def _lineitem_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_returnflag").alias("cl"),
        F.array(
            F.col("l_quantity").cast("double"),
            (F.col("l_extendedprice") / 1000.0).cast("double"),
            (F.col("l_discount") * 10.0).cast("double"),
        ).alias("features"),
    )


@register(
    "cluster_centroid_stats",
    oracle=f"""
    WITH s AS ({_LI_FEATS})
    SELECT cl AS cluster, COUNT(*) AS n,
           ROUND(AVG(f1), 6) AS c1, ROUND(AVG(f2), 6) AS c2,
           ROUND(AVG(f3), 6) AS c3,
           ROUND((SUM(f1*f1 + f2*f2 + f3*f3)
                  - COUNT(*) * (AVG(f1)*AVG(f1) + AVG(f2)*AVG(f2) + AVG(f3)*AVG(f3)))
                 / COUNT(*), 4) AS wss_mean
    FROM s GROUP BY cl
    """,
    survey_ids=["M14", "M15", "A4"],
    description="Per-cluster sufficient stats: n, centroid, mean within-SS",
)
def cluster_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = cluster_stats(_lineitem_features(spark, sf_dir), pred="cl")
    return stats.select(
        F.col("cluster"),
        F.col("n"),
        F.round(F.col("centroid")[0], 6).alias("c1"),
        F.round(F.col("centroid")[1], 6).alias("c2"),
        F.round(F.col("centroid")[2], 6).alias("c3"),
        F.round(
            (
                F.col("ssn")
                - F.col("n")
                * F.aggregate(
                    F.col("centroid"), F.lit(0.0), lambda a, v: a + v * v
                )
            )
            / F.col("n"),
            4,
        ).alias("wss_mean"),
    )


@register(
    "calinski_harabasz_planted",
    oracle=f"""
    WITH s AS ({_LI_FEATS}),
    c AS (
      SELECT cl, COUNT(*) AS n, AVG(f1) AS m1, AVG(f2) AS m2, AVG(f3) AS m3,
             SUM(f1*f1 + f2*f2 + f3*f3) AS ssn
      FROM s GROUP BY cl
    ),
    g AS (
      SELECT SUM(n) AS n_tot, COUNT(*) AS k,
             SUM(n*m1)/SUM(n) AS g1, SUM(n*m2)/SUM(n) AS g2, SUM(n*m3)/SUM(n) AS g3
      FROM c
    )
    SELECT {ref_round_sql('''
      (SELECT SUM(n * ((m1-g1)*(m1-g1) + (m2-g2)*(m2-g2) + (m3-g3)*(m3-g3)))
         FROM c, g) / ((SELECT k FROM g) - 1)
      /
      ((SELECT SUM(ssn - n * (m1*m1 + m2*m2 + m3*m3)) FROM c)
         / ((SELECT n_tot FROM g) - (SELECT k FROM g)))''', 4)} AS calinski_harabasz
    """,
    survey_ids=["M15"],
    description="Calinski-Harabasz index over the planted lineitem clustering",
)
def calinski_harabasz_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = calinski_harabasz(_lineitem_features(spark, sf_dir), pred="cl")
    return spark.createDataFrame(
        [(round(ch, 4),)], "calinski_harabasz: double"
    )


@register(
    "davies_bouldin_planted",
    oracle=f"""
    WITH s AS ({_LI_FEATS}),
    c AS (
      SELECT cl, COUNT(*) AS n, AVG(f1) AS m1, AVG(f2) AS m2, AVG(f3) AS m3
      FROM s GROUP BY cl
    ),
    sc AS (
      SELECT c.cl, c.m1, c.m2, c.m3,
             AVG(sqrt((s.f1-c.m1)*(s.f1-c.m1) + (s.f2-c.m2)*(s.f2-c.m2)
                      + (s.f3-c.m3)*(s.f3-c.m3))) AS scatter
      FROM s JOIN c ON s.cl = c.cl
      GROUP BY c.cl, c.m1, c.m2, c.m3
    )
    SELECT {ref_round_sql('AVG(worst)', 6)} AS davies_bouldin FROM (
      SELECT a.cl,
             MAX((a.scatter + b.scatter)
                 / sqrt((a.m1-b.m1)*(a.m1-b.m1) + (a.m2-b.m2)*(a.m2-b.m2)
                        + (a.m3-b.m3)*(a.m3-b.m3))) AS worst
      FROM sc a JOIN sc b ON a.cl <> b.cl
      GROUP BY a.cl
    )
    """,
    survey_ids=["M14"],
    description="Davies-Bouldin index over the planted lineitem clustering",
)
def davies_bouldin_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = davies_bouldin(_lineitem_features(spark, sf_dir), pred="cl")
    return spark.createDataFrame([(round(db, 6),)], "davies_bouldin: double")


@register(
    "silhouette_exact_planted",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id, c_mktsegment AS cl,
             c_acctbal / 1000.0 AS f1, CAST(c_nationkey AS DOUBLE) AS f2
      FROM customer WHERE c_custkey <= 200
    ),
    pm AS (
      SELECT a.id AS ia, a.cl AS pa, b.cl AS pb,
             AVG(sqrt((a.f1-b.f1)*(a.f1-b.f1) + (a.f2-b.f2)*(a.f2-b.f2))) AS mdist
      FROM pts a JOIN pts b ON a.id <> b.id
      GROUP BY a.id, a.cl, b.cl
    ),
    pp AS (
      SELECT ia, pa,
             MAX(CASE WHEN pb = pa THEN mdist END) AS a_i,
             MIN(CASE WHEN pb <> pa THEN mdist END) AS b_i
      FROM pm GROUP BY ia, pa
    )
    SELECT ia AS row_id,
           ROUND(CASE WHEN a_i IS NULL OR b_i IS NULL THEN 0.0
                      ELSE (b_i - a_i) / GREATEST(a_i, b_i) END, 6) AS silhouette
    FROM pp
    """,
    survey_ids=["M13"],
    description="Per-point exact Euclidean silhouette on a planted clustering",
)
def silhouette_exact_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    df = cust.select(
        F.col("c_custkey").alias("row_id"),
        F.col("c_mktsegment").alias("cl"),
        F.array(
            (F.col("c_acctbal") / 1000.0).cast("double"),
            F.col("c_nationkey").cast("double"),
        ).alias("features"),
    )
    pts = silhouette_pointwise(df, pred="cl", id_col="row_id")
    return pts.select(
        "row_id", F.round("silhouette", 6).alias("silhouette")
    )


@register(
    "ari_planted",
    oracle=f"""
    WITH lab AS (
      SELECT o_orderpriority AS a,
             CAST(FLOOR(o_totalprice / 60000.0) AS BIGINT) AS b
      FROM orders
    ),
    cont AS (SELECT a, b, COUNT(*) AS nij FROM lab GROUP BY a, b),
    s AS (
      SELECT SUM(nij*(nij-1)/2.0) AS sum_nij2, SUM(nij) AS n FROM cont
    ),
    sa AS (SELECT SUM(ai*(ai-1)/2.0) AS sum_ai2 FROM
           (SELECT SUM(nij) AS ai FROM cont GROUP BY a)),
    sb AS (SELECT SUM(bj*(bj-1)/2.0) AS sum_bj2 FROM
           (SELECT SUM(nij) AS bj FROM cont GROUP BY b))
    SELECT {ref_round_sql('''
      (s.sum_nij2 - sa.sum_ai2 * sb.sum_bj2 / (s.n*(s.n-1)/2.0))
      / ((sa.sum_ai2 + sb.sum_bj2) / 2.0
         - sa.sum_ai2 * sb.sum_bj2 / (s.n*(s.n-1)/2.0))''', 6)} AS ari
    FROM s, sa, sb
    """,
    survey_ids=["M19"],
    description="Adjusted Rand index (closed form) between two planted labelings",
)
def ari_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("a"),
        F.floor(F.col("o_totalprice") / 60000.0).cast("long").alias("b"),
    )
    ari = adjusted_rand_index(lab, "a", "b")
    return spark.createDataFrame([(round(ari, 6),)], "ari: double")


@register(
    "cochrans_q_planted",
    oracle=f"""
    WITH b AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS b0,
             CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END AS b1,
             CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS b2,
             CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS b3
      FROM lineitem
    ),
    agg AS (
      SELECT SUM(b0) AS t0, SUM(b1) AS t1, SUM(b2) AS t2, SUM(b3) AS t3,
             SUM(b0+b1+b2+b3) AS n,
             SUM((b0+b1+b2+b3)*(b0+b1+b2+b3)) AS sum_r2
      FROM b
    )
    SELECT {ref_round_sql('''(4-1) * (4.0*(t0*t0 + t1*t1 + t2*t2 + t3*t3) - CAST(n AS DOUBLE)*n)
                 / (4.0*n - sum_r2)''', 6)} AS q,
           CAST(3 AS BIGINT) AS dof,
           {ref_round_sql('''((4-1) * (4.0*(t0*t0 + t1*t1 + t2*t2 + t3*t3) - CAST(n AS DOUBLE)*n)
                  / (4.0*n - sum_r2) - 3)
                 / ((4-1) * (4.0*(t0*t0 + t1*t1 + t2*t2 + t3*t3) - CAST(n AS DOUBLE)*n)
                    / (4.0*n - sum_r2)) * 100''', 3)} AS i2
    FROM agg
    """,
    survey_ids=["M32"],
    description="Cochran's Q + I^2 over planted binary treatment columns",
)
def cochrans_q_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # when/otherwise(0), not bool.cast(int): Cochran's Q needs COMPLETE
    # binary blocks, so an unknown (NULL) answer is a 0/No on BOTH
    # engines — a bare cast would carry NULL into the block sums and
    # silently diverge from the oracle's CASE ... ELSE 0
    def b(cond):
        return F.when(cond, 1).otherwise(0)

    li = load_table(spark, sf_dir, "lineitem").select(
        b(F.col("l_returnflag") == "R").alias("b0"),
        b(F.col("l_linestatus") == "F").alias("b1"),
        b(F.col("l_discount") > 0.05).alias("b2"),
        b(F.col("l_quantity") > 25).alias("b3"),
    )
    q, dof = cochrans_q(li, ["b0", "b1", "b2", "b3"])
    i2 = i2_score(q, dof)
    return spark.createDataFrame(
        [(round(q, 6), dof, i2)], "q: double, dof: bigint, i2: double"
    )


@register(
    "rank_sum_selection",
    oracle="""
    WITH m AS (
      SELECT s_nationkey AS nation,
             CAST(COUNT(*) AS DOUBLE) AS silhouette,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS davies_bouldin,
             CAST(MAX(s_acctbal) AS DOUBLE) AS calinski_harabasz
      FROM supplier GROUP BY s_nationkey
    ),
    r AS (
      SELECT nation,
             RANK() OVER (ORDER BY silhouette ASC)
               + (COUNT(*) OVER (PARTITION BY silhouette) - 1) / 2.0 AS silhouette_rank,
             RANK() OVER (ORDER BY davies_bouldin DESC)
               + (COUNT(*) OVER (PARTITION BY davies_bouldin) - 1) / 2.0 AS davies_bouldin_rank,
             RANK() OVER (ORDER BY calinski_harabasz ASC)
               + (COUNT(*) OVER (PARTITION BY calinski_harabasz) - 1) / 2.0 AS calinski_harabasz_rank
      FROM m
    )
    SELECT CAST(nation AS BIGINT) AS nation, silhouette_rank, davies_bouldin_rank,
           calinski_harabasz_rank,
           silhouette_rank + davies_bouldin_rank + calinski_harabasz_rank AS rank_sum
    FROM r
    """,
    survey_ids=["W1", "A10"],
    description="Rank-sum model selection with pandas average-tie semantics",
)
def rank_sum_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    m = sup.groupBy(F.col("s_nationkey").cast("long").alias("nation")).agg(
        F.count(F.lit(1)).cast("double").alias("silhouette"),
        F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("davies_bouldin"),
        F.max("s_acctbal").cast("double").alias("calinski_harabasz"),
    )
    return rank_cluster_metrics(m).select(
        "nation",
        "silhouette_rank",
        "davies_bouldin_rank",
        "calinski_harabasz_rank",
        "rank_sum",
    )


@register(
    "label_encode_codes",
    oracle="""
    -- NULL has no code (sklearn LabelEncoder fits post-fillna values;
    -- build_code_maps excludes None) — DuckDB ranks NULL last, so the
    -- non-null codes are unchanged by the CASE
    SELECT p_brand AS value,
           CASE WHEN p_brand IS NULL THEN NULL
                ELSE CAST(DENSE_RANK() OVER (ORDER BY p_brand) - 1
                          AS BIGINT) END AS code
    FROM (SELECT DISTINCT p_brand FROM part)
    """,
    survey_ids=["M1"],
    description="LabelEncoder parity: sorted-distinct-value codes",
)
def label_encode_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    enc = FE.label_encode(part, ["p_brand"], suffix="__code")
    return (
        enc.select(
            F.col("p_brand").alias("value"),
            F.col("p_brand__code").cast("long").alias("code"),
        )
        .distinct()
    )


@register(
    "standardize_zscore",
    oracle="""
    WITH s AS (
      SELECT c_mktsegment,
             (c_acctbal - AVG(c_acctbal) OVER ()) / STDDEV_POP(c_acctbal) OVER () AS z
      FROM customer
    )
    SELECT c_mktsegment, COUNT(*) AS n, ROUND(AVG(z), 6) AS mean_z
    FROM s GROUP BY c_mktsegment
    """,
    survey_ids=["M2"],
    description="Population-std z-score (sklearn StandardScaler parity)",
)
def standardize_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    scaled, _ = standardize(cust, ["c_acctbal"])
    return scaled.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("c_acctbal"), 6).alias("mean_z"),
    )


@register(
    "kmeans_assign_fixed",
    oracle="""
    WITH s AS (
      SELECT l_quantity AS f1, l_extendedprice / 1000.0 AS f2, l_discount * 10.0 AS f3
      FROM lineitem
    ),
    d AS (
      SELECT sqrt((f1-10)*(f1-10) + (f2-20)*(f2-20) + (f3-0.2)*(f3-0.2)) AS d0,
             sqrt((f1-25)*(f1-25) + (f2-50)*(f2-50) + (f3-0.5)*(f3-0.5)) AS d1,
             sqrt((f1-40)*(f1-40) + (f2-80)*(f2-80) + (f3-0.8)*(f3-0.8)) AS d2
      FROM s
    )
    SELECT CASE WHEN d0 <= d1 AND d0 <= d2 THEN 0
                WHEN d1 <= d2 THEN 1 ELSE 2 END AS cluster,
           COUNT(*) AS n,
           ROUND(AVG(LEAST(d0, d1, d2)), 4) AS mean_dist
    FROM d GROUP BY 1
    """,
    survey_ids=["M4"],
    description="KMeans assignment step against fixed literal centroids",
)
def kmeans_assign_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _lineitem_features(spark, sf_dir)
    cents = [[10.0, 20.0, 0.2], [25.0, 50.0, 0.5], [40.0, 80.0, 0.8]]
    dists = [
        F.sqrt(
            _sq_dist(
                F.col("features"),
                F.array(*[F.lit(v) for v in c]),
            )
        ).alias(f"d{i}")
        for i, c in enumerate(cents)
    ]
    d = feats.select(*dists)
    cluster = (
        F.when((F.col("d0") <= F.col("d1")) & (F.col("d0") <= F.col("d2")), 0)
        .when(F.col("d1") <= F.col("d2"), 1)
        .otherwise(2)
    )
    return (
        d.select(
            cluster.alias("cluster"),
            F.least("d0", "d1", "d2").alias("dmin"),
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("dmin"), 4).alias("mean_dist"),
        )
    )


# ---- MLlib fits: seed-dependent, not SQL-expressible -> rows-only ----


@register(
    "kmeans_embeddings",
    oracle=None,
    survey_ids=["M4", "M16"],
    description="Multi-seed KMeans on the embeddings table; best-by-rank-sum "
    "cluster sizes (rows-only check: MLlib k-means|| is seed- but not "
    "SQL-reproducible)",
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("features"),
        "label",
    )
    fit = kmeans_multi_seed(emb, k=4, seeds=[1, 42, 100], max_workers=3)
    if fit is None:
        return spark.createDataFrame([], "prediction: int, n: bigint")
    return (
        fit["labels"]
        .groupBy("prediction")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("prediction")
    )


@register(
    "optimal_k_embeddings",
    oracle=None,
    survey_ids=["M11", "M12"],
    description="Optimal-k search (elbow + rank-sum) on embeddings (rows-only)",
)
def optimal_k_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("features")
    )
    best = optimal_k(emb, ks=[3, 4, 5, 6], seed=42, max_workers=2)
    return spark.createDataFrame([(best,)], "best_k: bigint")


@register(
    "gmm_pca_embeddings",
    oracle=None,
    survey_ids=["M3", "M7"],
    description="PCA (cum-var component pick) + GaussianMixture with manual "
    "BIC/AIC on embeddings (rows-only)",
)
def gmm_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("features")
    )
    proj, n_comp = pca_transform(emb, n_components=8)
    fit = gmm_fit(proj, k=4, seed=42)
    if fit is None:
        return spark.createDataFrame(
            [], "n_components: bigint, k: bigint, n_clusters_found: bigint"
        )
    found = fit["labels"].select("prediction").distinct().count()
    return spark.createDataFrame(
        [(n_comp, 4, found)],
        "n_components: bigint, k: bigint, n_clusters_found: bigint",
    )


# one distributed KModes/KPrototypes mode update: the step math the two
# step queries below pin against their DuckDB oracles
def _update_modes(
    assigned: DataFrame,
    modes: list[dict],
    cat_cols: list[str],
    num_cols: list[str],
) -> list[dict]:
    """New modes: per-(cluster, attr) most-frequent value (count desc,
    value asc tie-break) + numeric means. One shuffle."""
    from qudo_etl_pipeline_spark.plans.melt import melt

    counts = (
        melt(
            assigned.select("prediction", *cat_cols),
            id_vars=["prediction"],
            value_vars=cat_cols,
        )
        .groupBy("prediction", "variable", "value")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("prediction", "variable").orderBy(
        F.col("n").desc(), F.col("value").asc()
    )
    top = (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    )
    new_modes = [dict(m) for m in modes]  # emptied cluster keeps its mode
    for r in top:
        new_modes[r["prediction"]][r["variable"]] = r["value"]
    if num_cols:
        means = (
            assigned.groupBy("prediction")
            .agg(*[F.avg(F.col(c).cast("double")).alias(c) for c in num_cols])
            .collect()
        )
        for r in means:
            for c in num_cols:
                new_modes[r["prediction"]][c] = float(r[c])
    return new_modes


@register(
    "kmodes_step_planted",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id, c_mktsegment AS a0,
             CAST(c_nationkey % 5 AS VARCHAR) AS a1
      FROM customer
    ),
    assigned AS (
      SELECT id, a0, a1,
             CASE WHEN (CASE WHEN a0 = 'BUILDING' THEN 0 ELSE 1 END
                        + CASE WHEN a1 = '0' THEN 0 ELSE 1 END)
                       <= (CASE WHEN a0 = 'MACHINERY' THEN 0 ELSE 1 END
                           + CASE WHEN a1 = '3' THEN 0 ELSE 1 END)
                  THEN 0 ELSE 1 END AS cluster
      FROM pts
    ),
    m0 AS (
      SELECT cluster, a0 AS mode_a0 FROM (
        SELECT cluster, a0, ROW_NUMBER() OVER (
          PARTITION BY cluster
          ORDER BY COUNT(*) DESC, a0 ASC NULLS FIRST) AS rn
        FROM assigned GROUP BY cluster, a0
      ) WHERE rn = 1
    ),
    m1 AS (
      SELECT cluster, a1 AS mode_a1 FROM (
        SELECT cluster, a1, ROW_NUMBER() OVER (
          PARTITION BY cluster ORDER BY COUNT(*) DESC, a1 ASC) AS rn
        FROM assigned GROUP BY cluster, a1
      ) WHERE rn = 1
    )
    SELECT n.cluster, n.n, m0.mode_a0, m1.mode_a1
    FROM (SELECT cluster, COUNT(*) AS n FROM assigned GROUP BY cluster) n
    JOIN m0 ON n.cluster = m0.cluster
    JOIN m1 ON n.cluster = m1.cluster
    """,
    survey_ids=["M5", "A6"],
    description="One KModes assign+update step against fixed literal modes",
)
def kmodes_step_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("row_id"),
        F.col("c_mktsegment").alias("a0"),
        (F.col("c_nationkey") % 5).cast("string").alias("a1"),
    )
    modes = [{"a0": "BUILDING", "a1": "0"}, {"a0": "MACHINERY", "a1": "3"}]
    assigned = KM._assign(pts, modes, ["a0", "a1"], [], 0.0)
    new_modes = _update_modes(assigned, modes, ["a0", "a1"], [])
    sizes = assigned.groupBy(F.col("prediction").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n")
    )
    mode_rows = spark.createDataFrame(
        [(i, m["a0"], m["a1"]) for i, m in enumerate(new_modes)],
        "cluster: int, mode_a0: string, mode_a1: string",
    )
    return sizes.join(mode_rows, "cluster")


@register(
    "kprototypes_step_planted",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS id, c_mktsegment AS a0,
             CAST(c_acctbal AS DOUBLE) / 1000.0 AS f1
      FROM customer
    ),
    assigned AS (
      -- argmin with lowest-index DEFAULT: the operator's
      -- when(d1 < d0, 1).otherwise(0) sends a NULL distance (NULL f1)
      -- to cluster 0, so the comparison is written d1 < d0 -> 1
      -- (NULL -> ELSE 0), not d0 <= d1 -> 0 (NULL -> ELSE 1)
      SELECT id, a0, f1,
             CASE WHEN ((f1 - 5.0) * (f1 - 5.0)
                        + 0.5 * (CASE WHEN a0 = 'MACHINERY' THEN 0 ELSE 1 END))
                       < ((f1 - 0.0) * (f1 - 0.0)
                          + 0.5 * (CASE WHEN a0 = 'BUILDING' THEN 0 ELSE 1 END))
                  THEN 1 ELSE 0 END AS cluster
      FROM pts
    ),
    m0 AS (
      SELECT cluster, a0 AS mode_a0 FROM (
        SELECT cluster, a0, ROW_NUMBER() OVER (
          PARTITION BY cluster
          ORDER BY COUNT(*) DESC, a0 ASC NULLS FIRST) AS rn
        FROM assigned GROUP BY cluster, a0
      ) WHERE rn = 1
    )
    SELECT n.cluster, n.n, m0.mode_a0, n.new_f1
    FROM (
      SELECT cluster, COUNT(*) AS n, {ref_round_sql('AVG(f1)', 6)} AS new_f1
      FROM assigned GROUP BY cluster
    ) n JOIN m0 ON n.cluster = m0.cluster
    """,
    survey_ids=["M6", "A6", "A8"],
    description="One KPrototypes assign+update step: mixed "
    "sq_euclid + gamma*hamming distance against fixed prototypes",
)
def kprototypes_step_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("row_id"),
        F.col("c_mktsegment").alias("a0"),
        (F.col("c_acctbal").cast("double") / 1000.0).alias("f1"),
    )
    protos = [{"a0": "BUILDING", "f1": 0.0}, {"a0": "MACHINERY", "f1": 5.0}]
    assigned = KM._assign(pts, protos, ["a0"], ["f1"], gamma=0.5)
    new_protos = _update_modes(assigned, protos, ["a0"], ["f1"])
    sizes = assigned.groupBy(F.col("prediction").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n")
    )
    proto_rows = spark.createDataFrame(
        [(i, m["a0"], round(m["f1"], 6)) for i, m in enumerate(new_protos)],
        "cluster: int, mode_a0: string, new_f1: double",
    )
    return sizes.join(proto_rows, "cluster")


@register(
    "kmodes_documents",
    oracle=None,
    survey_ids=["M5", "M6"],
    description="Full deterministic KModes fit (Cao init, Lloyd loop) on "
    "document metadata (rows-only: the iterative loop is not "
    "SQL-expressible)",
)
def kmodes_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("row_id"),
        F.col("lang").alias("a0"),
        F.col("source").alias("a1"),
        (F.col("n_chars") > 200).cast("string").alias("a2"),
    )
    fit = kmodes_fit(docs, ["a0", "a1", "a2"], k=3)
    return (
        fit["labels"]
        .groupBy(F.col("prediction").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cluster")
    )


@register(
    "lca_documents",
    oracle=None,
    survey_ids=["M8"],
    description="Multinomial-mixture EM (LCA) class sizes on document "
    "metadata (rows-only: iterative EM)",
)
def lca_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("row_id"),
        F.col("lang").alias("a0"),
        F.col("source").alias("a1"),
        (F.col("n_chars") > 200).cast("string").alias("a2"),
    )
    fit = lca_fit(docs, ["a0", "a1", "a2"], k=3, seed=42, max_iter=30)
    return (
        fit["labels"]
        .groupBy(F.col("prediction").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cluster")
    )


@register(
    "elbow_curve_embeddings",
    oracle=None,
    survey_ids=["M11", "M12"],
    description="Elbow finder over the kmeans cost curve (k in 2..6) on "
    "embeddings: per-k inertia + the max-perpendicular-distance elbow "
    "flag (rows-only: iterative kmeans training)",
)
def elbow_curve_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("row_id"),
        F.col("embedding").cast("array<double>").alias("features"),
    ).cache()
    ks = [2, 3, 4, 5, 6]
    costs = [
        kmeans_fit(feats, k=k, seed=42)["inertia"] for k in ks
    ]
    feats.unpersist()
    elbow = elbow_index(costs)
    return spark.createDataFrame(
        [
            (k, round(c, 3), int(i == elbow))
            for i, (k, c) in enumerate(zip(ks, costs))
        ],
        "k: bigint, cost: double, is_elbow: bigint",
    )


def _kmeans_refit(train):
    """Shared train->scorer closure for both consistency queries —
    one definition so the two metrics can never silently diverge."""
    model = kmeans_fit(
        train.select("row_id", "features"), k=3, seed=42
    )["model"]

    def predict(test):
        return model.transform(_to_vec(test, "features")).drop("_v")

    return predict


@register(
    "model_consistency_rows",
    oracle=None,
    survey_ids=["M18", "M19"],
    description="Model consistency: stratified 90/10 split, kmeans refit "
    "on train, ARI of refit predictions vs original labels on the test "
    "slice (rows-only: iterative refit)",
)
def model_consistency_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("row_id"),
        F.col("embedding").cast("array<double>").alias("features"),
    )
    base = kmeans_fit(feats, k=3, seed=42)["labels"].cache()

    ari = model_consistency(base, _kmeans_refit)
    base.unpersist()
    return spark.createDataFrame(
        [(round(float(ari), 6),)], "model_consistency_ari: double"
    )


@register(
    "label_consistency_rows",
    oracle=None,
    survey_ids=["M20", "M19"],
    description="Label consistency: kmeans refit on a stratified 90% "
    "sample, ARI of refit labels vs originals on that sample "
    "(rows-only: iterative refit)",
)
def label_consistency_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("row_id"),
        F.col("embedding").cast("array<double>").alias("features"),
    )
    base = kmeans_fit(feats, k=3, seed=42)["labels"].cache()

    ari = label_consistency(base, _kmeans_refit)
    base.unpersist()
    return spark.createDataFrame(
        [(round(float(ari), 6),)], "label_consistency_ari: double"
    )


@register(
    "lca_mixed_documents",
    oracle=None,
    survey_ids=["M8"],
    description="Mixed-type LCA (depmixS4-mix parity: multinomial + "
    "gaussian factors) class sizes on document metadata (rows-only: "
    "iterative EM)",
)
def lca_mixed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("row_id"),
        F.col("lang").alias("a0"),
        F.col("source").alias("a1"),
        F.col("n_chars").cast("double").alias("x0"),
        F.length("text").cast("double").alias("x1"),
    )
    fit = lca_fit(
        docs, ["a0", "a1"], k=3, seed=42, max_iter=30, num_cols=["x0", "x1"]
    )
    return (
        fit["labels"]
        .groupBy(F.col("prediction").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cluster")
    )


@register(
    "uniqueness_planted",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT l_returnflag AS seg,
             l_linestatus || '|' || CAST(CAST(l_quantity / 10 AS INT) AS VARCHAR) AS pair
      FROM lineitem
    ),
    dup AS (
      SELECT pair, CASE WHEN COUNT(DISTINCT seg) > 1 THEN 1 ELSE 0 END AS dup
      FROM pairs GROUP BY pair
    )
    SELECT seg, {ref_round_sql('1 - CAST(SUM(d.dup) AS DOUBLE) / COUNT(*)', 6)} AS uniqueness
    FROM pairs p JOIN dup d ON p.pair = d.pair
    GROUP BY seg
    """,
    survey_ids=["M28", "J3"],
    description="Uniqueness: 1 - share of (q_code,category) pairs shared "
    "with any other segment",
)
def uniqueness_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    deliver = li.select(
        F.col("l_returnflag").alias("targeting_seg"),
        F.col("l_linestatus").alias("q_code"),
        F.array(
            (F.col("l_quantity") / 10).cast("int").cast("string")
        ).alias("sig_more_category"),
    ).distinct()
    u = B.uniqueness(deliver)
    return spark.createDataFrame(
        [(seg, round(val, 6))
         for seg, val in sorted(u.items(), key=lambda kv: none_last_key(kv[0]))],
        "seg: string, uniqueness: double",
    )


@register(
    "classification_metrics_planted",
    oracle="""
    WITH scored AS (
      SELECT l_returnflag AS label,
             CASE WHEN l_quantity > 25 THEN 'R' ELSE 'A' END AS pred
      FROM lineitem
    ),
    -- NULL truth or NULL prediction is unscoreable (mirrors
    -- classification_metrics' confusion-matrix exclusion)
    conf AS (SELECT label, pred, COUNT(*) AS n FROM scored
             WHERE label IS NOT NULL AND pred IS NOT NULL
             GROUP BY label, pred),
    tot AS (SELECT SUM(n) AS n FROM conf),
    per AS (
      SELECT l.label,
             l.actual,
             COALESCE(p.predicted, 0) AS predicted,
             COALESCE(t.tp, 0) AS tp
      FROM (SELECT label, SUM(n) AS actual FROM conf GROUP BY label) l
      LEFT JOIN (SELECT pred, SUM(n) AS predicted FROM conf GROUP BY pred) p
        ON l.label = p.pred
      LEFT JOIN (SELECT label, n AS tp FROM conf WHERE label = pred) t
        ON l.label = t.label
    ),
    w AS (
      SELECT
        (SELECT CAST(SUM(tp) AS DOUBLE) / (SELECT n FROM tot) FROM per) AS acc,
        (SELECT SUM(actual * CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE)/predicted ELSE 0 END)
           / (SELECT n FROM tot) FROM per) AS prec_w,
        (SELECT SUM(actual * CAST(tp AS DOUBLE)/actual) / (SELECT n FROM tot) FROM per) AS rec_w,
        (SELECT SUM(actual *
            CASE WHEN (CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE)/predicted ELSE 0 END
                       + CAST(tp AS DOUBLE)/actual) > 0
                 THEN 2 * (CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE)/predicted ELSE 0 END)
                        * (CAST(tp AS DOUBLE)/actual)
                      / ((CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE)/predicted ELSE 0 END)
                         + CAST(tp AS DOUBLE)/actual)
                 ELSE 0 END)
           / (SELECT n FROM tot) FROM per) AS f1_w,
        (SELECT SUM(CAST(actual AS DOUBLE) * predicted) / ((SELECT n FROM tot) * (SELECT n FROM tot))
           FROM per) AS pe
    )
    SELECT ROUND(acc, 3) AS signal,
           ROUND(f1_w, 3) AS f1_score,
           ROUND(prec_w, 3) AS precision,
           ROUND(rec_w, 3) AS recall_score,
           ROUND((acc - pe) / (1 - pe), 3) AS cohen_kappa_score
    FROM w
    """,
    survey_ids=["M33"],
    description="Weighted classification metrics + Cohen's kappa from a "
    "planted confusion matrix",
)
def classification_metrics_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("label"),
        F.when(F.col("l_quantity") > 25, "R").otherwise("A").alias("pred"),
    )
    m = classification_metrics(scored, "label", "pred")
    return spark.createDataFrame(
        [(m["signal"], m["f1_score"], m["precision"], m["recall_score"],
          m["cohen_kappa_score"])],
        "signal: double, f1_score: double, precision: double, "
        "recall_score: double, cohen_kappa_score: double",
    )


@register(
    "communicability_planted",
    oracle="""
    SELECT c_mktsegment AS seg,
           CAST(COUNT(DISTINCT c_name) AS BIGINT) AS communicability
    FROM customer
    WHERE regexp_matches(c_name, '7|13')
    GROUP BY c_mktsegment
    """,
    survey_ids=["M29", "A7"],
    description="Communicability: distinct regex-matching codes per segment",
)
def communicability_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    deliver = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("targeting_seg"),
        F.col("c_name").alias("q_code"),
    )
    c = B.communicability(deliver, pattern="7|13")
    return spark.createDataFrame(
        [(seg, int(n))
         for seg, n in sorted(c["data"].items(), key=lambda kv: none_last_key(kv[0]))],
        "seg: string, communicability: bigint",
    )


@register(
    "signal_loss_rf",
    oracle=None,
    survey_ids=["M33", "M18"],
    description="Pattern-majority signal loss on planted tgt features "
    "(rows-only: the seeded binomial holdout split is not SQL-expressible)",
)
def signal_loss_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity") > 25).cast("int").alias("q1_tgt"),
        (F.col("l_discount") > 0.05).cast("int").alias("q2_tgt"),
        (F.col("l_tax") > 0.04).cast("int").alias("q3_tgt"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("prediction"),
    )
    out = signal_loss(li, ["q1_tgt", "q2_tgt", "q3_tgt"])
    rows = [
        (k, v["signal"], v["f1_score"], v["precision"], v["recall_score"],
         v["cohen_kappa_score"])
        for k, v in sorted(out.items(), key=lambda kv: none_last_key(kv[0]))
    ]
    return spark.createDataFrame(
        rows,
        "segment: string, signal: double, f1_score: double, precision: double, "
        "recall_score: double, cohen_kappa_score: double",
    )


@register(
    "equidepth_price_buckets",
    oracle="""
    WITH b AS (
      -- price IS NOT NULL mirrors the bucketizer's NULL-value drop
      SELECT l_extendedprice AS v,
             NTILE(8) OVER (ORDER BY l_extendedprice,
                            l_orderkey, l_linenumber) AS bucket
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
           MIN(v) AS lo, MAX(v) AS hi
    FROM b GROUP BY bucket
    """,
    survey_ids=["M2", "A8", "W3"],
    description="Equi-depth discretization summarized per bucket, "
    "size-dispatched (r8 verdict task 5): EXACT NTILE over a "
    "deterministic total order up to 2M input rows (every oracle-"
    "gated SF), the map-only approx-boundary sketch path above "
    "(tolerance-tested against exact, the heaviest device ratio "
    "retired from SCALING.md)",
)
def equidepth_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.ml.discretize import auto_bucketize

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    b = auto_bucketize(
        li, "l_extendedprice", 8, ["l_orderkey", "l_linenumber"]
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )


def _te_oracle() -> str:
    from qudo_etl_pipeline_spark.functions.hashing import hash64_sql
    from qudo_etl_pipeline_spark.functions.rounding import ref_round_sql

    h = hash64_sql("('fold:0:' || CAST(o_orderkey AS VARCHAR))")
    gmean = "CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)"
    te = (
        f"(CAST(os AS DOUBLE) + 20.0 * ({gmean}))"
        f" / (CAST(onn AS DOUBLE) + 20.0)"
    )
    return f"""
    WITH src AS (
      -- CAST(bool), not CASE-ELSE-0: a NULL price is an UNKNOWN label
      -- and the encoder drops unlabeled rows (they can neither
      -- contribute statistics nor be scored) — r11 NULL-salt parity
      SELECT o_orderkey AS id, o_orderpriority AS c,
             CAST(o_totalprice > 150000 AS BIGINT) AS t,
             ({h} % 5) AS f
      FROM orders
      WHERE o_totalprice IS NOT NULL
    ),
    cells AS (
      SELECT c, f, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS s
      FROM src GROUP BY c, f
    ),
    per_cat AS (
      SELECT c, CAST(SUM(n) AS BIGINT) AS cn,
             CAST(SUM(s) AS BIGINT) AS cs
      FROM cells GROUP BY c
    ),
    gtot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS gn,
             CAST(SUM(s) AS BIGINT) AS gs
      FROM cells
    ),
    stats AS (
      SELECT cells.c, cells.f,
             (cn - n) AS onn, (cs - s) AS os, gn, gs
      FROM cells JOIN per_cat ON cells.c = per_cat.c CROSS JOIN gtot
    )
    -- LEFT JOIN + global-mean fallback mirrors the encoder: a NULL
    -- category/fold never equi-matches its stats cell (the join is
    -- null-UNSAFE on both engines by design), so those rows encode to
    -- the smoothed-empty value = global mean
    SELECT src.id AS o_orderkey, src.c AS o_orderpriority,
           src.f AS fold, src.t AS converted,
           COALESCE({ref_round_sql(te, 6)},
                    (SELECT {ref_round_sql(gmean, 6)} FROM gtot)) AS te6
    FROM src LEFT JOIN stats ON src.c = stats.c AND src.f = stats.f
    """


@register(
    "target_encoding_oof_orders",
    oracle=_te_oracle(),
    survey_ids=["M1", "J5", "A5"],
    description="K-fold out-of-fold target encoding of order priority "
    "against a planted conversion label: per-row encodings use ONLY "
    "the other folds' statistics (total-minus-own-fold on the exact "
    "integer cell frame, one groupBy) with additive smoothing toward "
    "the global mean - the leakage-safe high-cardinality encoder; "
    "fold = pure-row-function hash, no shuffle for assignment",
)
def target_encoding_oof_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice") > 150000).cast("bigint").alias("converted"),
    )
    return target_encode_oof(
        orders,
        "o_orderkey",
        "o_orderpriority",
        "converted",
        n_folds=5,
        smoothing=20,
        seed=0,
    )


def _hashed_oracle(n: int = 64) -> str:
    from qudo_etl_pipeline_spark.functions.hashing import hash64_sql

    parts = []
    for c in ("o_orderstatus", "o_orderpriority"):
        h = hash64_sql(f"('feat:{c}:' || CAST({c} AS VARCHAR))")
        parts.append(f"""
      SELECT o_orderkey, '{c}' AS col_name,
             ({h} % {n}) AS feature_index,
             CAST(CASE WHEN ({h} % {2 * n}) < {n} THEN 1 ELSE -1 END
                  AS BIGINT) AS sign
      FROM orders WHERE {c} IS NOT NULL""")
    return " UNION ALL ".join(parts)


@register(
    "hashed_features_orders",
    oracle=_hashed_oracle(),
    survey_ids=["M1", "P10"],
    description="The hashing trick (Weinberger ICML'09) over two "
    "categorical order columns onto a fixed 64-dim space: signed "
    "index from the shared md5-prefix hash, sign bit via the exact "
    "h mod 2n < n identity (pure BIGINT - no lossy double division), "
    "map-only with no vocabulary state; long-form output a sparse "
    "assembler consumes directly",
)
def hashed_features_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return hashed_features(
        orders,
        "o_orderkey",
        ["o_orderstatus", "o_orderpriority"],
        n_features=64,
    )


def hierarchical_segmentation(
    df: DataFrame,
    pivot_col: str,
    features_col: str = FEATURES,
    ignore_value=None,
    seed: int = 42,
    hier_ks: list[int] | None = None,
    fitter=None,
) -> DataFrame:
    """Two-level segmentation (clustering.py:140-155,567-625, M10):
    group rows by `pivot_col`; per group pick optimal k in 2..3, run
    KMeans, offset labels so ids are globally unique; rows of the
    ignored group get label -99. Groups are FEW (pivot cardinality):
    the loop is driver-side; each fit is a distributed MLlib job.

    ``fitter``: optional ``sub_df -> (labeled_df, k)`` replacing the
    default optimal-k + KMeans per group — the reference dispatches any
    family into the hierarchical wrapper (e.g. LCA via
    ``lca_with_timer(hierarchical=...)``, clustering.py:841-845); pass
    e.g. a closure over :func:`lca_fit` for that behavior.
    """
    hier_ks = hier_ks or [2, 3]
    # every group runs |ks| optimal-k fits + 1 final fit, each an
    # iterative scan of its slice — cache the input once so those reads
    # hit memory instead of re-scanning the source per (group, k, iter);
    # released after the eager fits (the returned lazy union then pays
    # one uncached pass per group for the cheap transforms)
    df = df.cache()
    try:
        groups = sorted(
            r[pivot_col]
            for r in df.select(pivot_col).distinct().collect()
            if r[pivot_col] is not None
        )
        # per-group fits are independent slice jobs — run them on a
        # thread pool (pool.map preserves group order); the label
        # offsets, which depend on every earlier group's k, are applied
        # afterwards in the same sorted-group order as the serial loop,
        # so the output labels are identical
        def fit_group(g):
            sub = df.filter(F.col(pivot_col) == g)
            if ignore_value is not None and g == ignore_value:
                return sub.withColumn(PREDICTION, F.lit(-99)), 0
            if fitter is not None:
                return fitter(sub)
            best_k = optimal_k(sub, features_col, ks=hier_ks, seed=seed)
            labeled = kmeans_fit(
                sub, best_k, seed=seed, features_col=features_col
            )["labels"]
            return labeled, best_k

        if not groups:  # all-null pivot / empty input: empty labeling
            return df.withColumn(PREDICTION, F.lit(None).cast("int")).filter(
                F.lit(False)
            )
        with ThreadPoolExecutor(max_workers=min(4, max(1, len(groups)))) as pool:
            fitted = list(pool.map(fit_group, groups))
        parts: list[DataFrame] = []
        offset = 0
        for (labeled, best_k), g in zip(fitted, groups):
            if ignore_value is not None and g == ignore_value:
                parts.append(labeled)
                continue
            parts.append(
                labeled.withColumn(
                    PREDICTION, F.col(PREDICTION) + F.lit(offset)
                )
            )
            offset += best_k
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    finally:
        df.unpersist()
