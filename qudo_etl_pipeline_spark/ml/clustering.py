"""Clustering on the scheme table: kmeans after PCA, and Gaussian
mixtures with BIC/AIC. The rules-based codes are the scheme's label
encode; the MLlib fits that catalog queries run are ``catalog.ml_q``'s.

Re-implements the reference's clustering engine (reference:
src/kraken/app/clustering.py):

- fixed seed list [1,42,100,200,404,500,1000,123,321,78]  (clustering.py:116)
- k range 3..8 (range(3, 9))                              (clustering.py:111-112,1003)
- balance filter: reject unless every share in (0.02,0.55)(clustering.py:117-118,792-809)
- rank-sum best-seed/best-k selection                     (metrics.py:127-146)
- elbow: max perpendicular distance to the first-last
  chord of the cost curve, +n_points rank bonus           (clustering.py:446-478)
- StandardScaler (population std) + PCA: the fewest
  components whose explained variance adds up to 0.5      (clustering.py:236-291)
- KMeans: k-means++ init (sklearn's greedy one), Lloyd    (clustering.py:627-713)
- GMM BIC/AIC computed manually from the log-likelihood
  and EFFECTIVE component count                           (clustering.py:921-941)
- reject mixtures with any class < 1% of rows             (clustering.py:944-945)

One fit device, the one ``ml.kmodes`` and ``ml.lca`` share: a fit is a
function of the (answer pattern, count) rows of a
``features.scheme_table``, the exact table up to its threshold, a
priority sample with Horvitz-Thompson weights above it.
:func:`kmeans_table` and :func:`gmm_table` fit those rows in numpy,
zero Spark jobs, each pattern weighted by its row count, and return the
fitted row expression ``label``: Column arithmetic that standardises and
projects a row's codes, then takes the argmin of squared distance
(kmeans) or the argmax of log-density (GMM), lowest index on ties. A row
with a NULL code is left out of the fit and gets a NULL label.

Documented deltas (SURVEY §7 "known hard spots"): one k-means++ init per
seed (sklearn's n_init restarts are the seed list here); an emptied
cluster keeps its centre; the mixture is full-covariance EM with
sklearn's ``reg_covar`` (1e-6) on every covariance diagonal, started
from the seed's Lloyd labels, not BayesianGaussianMixture's Dirichlet
prior. Tests compare structure (ARI, metric bands), not labels.

Scale notes (100 TB design): a fit costs the scheme table's shuffle;
the driver holds at most ``features.PATTERN_THRESHOLD`` patterns of the
scheme's columns at any input size, and labelling is map-only.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.ml import features as FE
from qudo_etl_pipeline_spark.ml import quality as Q
from qudo_etl_pipeline_spark.ml.lca import _sql_d

SEEDS = [1, 42, 100, 200, 404, 500, 1000, 123, 321, 78]
MIN_K, MAX_K = 3, 9  # range(3, 9) -> ks 3..8
BALANCE_LO, BALANCE_HI = 0.02, 0.55
FEATURES = "features"
PREDICTION = "prediction"
REG_COVAR = 1e-6  # sklearn GaussianMixture's default
_LOG_2PI = math.log(2.0 * math.pi)


def remove_unbalanced(metrics: list[dict]) -> list[dict]:
    """Drop clusterings whose any cluster share is outside (0.02, 0.55)
    (clustering.py:792-809)."""
    kept = []
    for m in metrics:
        shares = list(m["cluster_proportions"].values())
        if all(BALANCE_LO < s < BALANCE_HI for s in shares):
            kept.append(m)
    return kept


def rank_best(
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


def elbow_index(costs: list[float]) -> int:
    """Max perpendicular distance from the cost curve to its first-last
    chord (clustering.py:446-468). Driver-side, pure python."""
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


# --- the weighted fits, over a pattern matrix X with row counts w ------


def _patterns(rows: list[dict], cols: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """(X, w): the distinct ``cols`` patterns of scheme-table rows that
    have no NULL code, as a float matrix in first-seen order, and the
    rows each stands for."""
    pat = [
        p
        for p in FE.group_patterns(rows, cols)
        if all(p[c] is not None for c in cols)
    ]
    if not pat:
        raise ValueError("no answer pattern without a NULL code to fit")
    X = np.array([[float(p[c]) for c in cols] for p in pat])
    return X, np.array([float(p["_w"]) for p in pat])


def _standard_pca(X: np.ndarray, w: np.ndarray) -> tuple:
    """(mean, std, axes) of weighted points: the population mean and std
    of each column (a constant column's std is 1, as sklearn's), and the
    fewest principal axes of the z-scores' covariance whose explained
    variance adds up to at least 0.5 (clustering.py:259-291)."""
    mean = w @ X / w.sum()
    std = np.sqrt(w @ (X - mean) ** 2 / w.sum())
    std[std == 0] = 1.0
    Z = (X - mean) / std
    vals, vecs = np.linalg.eigh((Z * w[:, None]).T @ Z / w.sum())
    order = np.argsort(-vals, kind="stable")
    vals, vecs = vals[order], vecs[:, order]
    # a fixed sign per axis (its largest entry positive) keeps the
    # projection the same wherever eigh runs
    vecs *= np.sign(vecs[np.abs(vecs).argmax(axis=0), np.arange(len(vals))])
    total = vals.sum()
    explained = np.cumsum(vals) / total if total > 0 else np.ones(len(vals))
    return mean, std, vecs[:, : int(np.argmax(explained >= 0.5)) + 1]


def _sq_dists(X: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """(points, centres) squared Euclidean distances."""
    return np.stack([((X - c) ** 2).sum(axis=1) for c in centers], axis=1)


def _pick(cum: np.ndarray, u) -> np.ndarray:
    """The points a uniform ``u`` in [0, 1) draws from the cumulative
    weights ``cum``: a point of weight 0 is never drawn. A weighted draw
    lands on the same point as the draw over the expanded rows."""
    return np.minimum(np.searchsorted(cum, u * cum[-1], side="right"), len(cum) - 1)


def _kmeans_pp(X: np.ndarray, w: np.ndarray, k: int, seed: int) -> np.ndarray:
    """sklearn's greedy k-means++ init over weighted points: the first
    centre is drawn by weight, each next one is the best (least
    potential) of 2 + ln k candidates drawn by weight x squared distance
    to the centres so far."""
    rng = np.random.default_rng(seed)
    trials = 2 + int(math.log(k))
    centers = [X[_pick(np.cumsum(w), rng.random())]]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        cand = _pick(np.cumsum(w * d2), rng.random(trials))
        cand_d2 = np.minimum(d2, _sq_dists(X, X[cand]).T)
        best = int(np.argmin(cand_d2 @ w))
        centers.append(X[cand[best]])
        d2 = cand_d2[best]
    return np.array(centers)


def _kmeans(
    X: np.ndarray, w: np.ndarray, k: int, seed: int, max_iter: int = 300
) -> dict:
    """Weighted Lloyd from the seed's k-means++ centres, until no point
    changes cluster; an emptied cluster keeps its centre. Returns
    dict(centers, labels, inertia, k, seed): ``labels`` the argmin of
    the final centres (lowest index on ties), ``inertia`` the weighted
    sum of squared distances to them."""
    centers = _kmeans_pp(X, w, k, seed)
    labels = None
    for _ in range(max_iter):
        new = _sq_dists(X, centers).argmin(axis=1)
        if labels is not None and (new == labels).all():
            break
        labels = new
        mass = np.bincount(labels, weights=w, minlength=k)
        for j in np.flatnonzero(mass):
            own = labels == j
            centers[j] = w[own] @ X[own] / mass[j]
    d2 = _sq_dists(X, centers)
    labels = d2.argmin(axis=1)
    return {
        "centers": centers,
        "labels": labels,
        "inertia": float(w @ d2[np.arange(len(X)), labels]),
        "k": k,
        "seed": seed,
    }


def _gaussians(X: np.ndarray, w: np.ndarray, resp: np.ndarray) -> dict:
    """The M-step: mixture weights, means and full covariances of the
    weighted responsibilities, ``REG_COVAR`` on every covariance
    diagonal, and each covariance's inverse Cholesky factor and log
    determinant."""
    rw = resp * w[:, None]
    # sklearn's guard: an empty component divides by 10 eps, not by 0
    nk = rw.sum(axis=0) + 10 * np.finfo(float).eps
    means = rw.T @ X / nk[:, None]
    prec, logdet = [], []
    for j in range(len(nk)):
        diff = X - means[j]
        cov = (rw[:, j, None] * diff).T @ diff / nk[j]
        cov[np.diag_indices_from(cov)] += REG_COVAR
        chol = np.linalg.cholesky(cov)
        prec.append(np.linalg.inv(chol))
        logdet.append(2.0 * np.log(np.diag(chol)).sum())
    return {
        "weights": nk / nk.sum(),
        "means": means,
        "prec_chol": np.array(prec),
        "logdet": np.array(logdet),
    }


def _log_joint(X: np.ndarray, g: dict) -> tuple[np.ndarray, np.ndarray]:
    """The (points, components) log(weight) + log-density, and each
    point's log-likelihood (their log-sum-exp)."""
    d = X.shape[1]
    lj = np.empty((len(X), len(g["weights"])))
    for j in range(len(g["weights"])):
        y = (X - g["means"][j]) @ g["prec_chol"][j].T
        lj[:, j] = (
            math.log(g["weights"][j])
            - 0.5 * (d * _LOG_2PI + g["logdet"][j])
            - 0.5 * (y * y).sum(axis=1)
        )
    top = lj.max(axis=1)
    return lj, top + np.log(np.exp(lj - top[:, None]).sum(axis=1))


def _gmm(
    X: np.ndarray,
    w: np.ndarray,
    k: int,
    seed: int,
    max_iter: int = 100,
    tol: float = 1e-3,
) -> dict | None:
    """Weighted full-covariance EM from the seed's Lloyd labels, until
    the mean log-likelihood improves by less than ``tol`` (sklearn's
    rule). BIC/AIC as the reference computes them (clustering.py:
    921-941): score = mean log-likelihood; p counts means + full
    covariances + weights over the EFFECTIVE components (labels that
    occur); bic = -2*score*n + p*ln(n); aic = -2*score*n + 2p, n the
    total weight. None when any occurring class takes < 1% of it
    (clustering.py:944-945)."""
    n, d = w.sum(), X.shape[1]
    g = _gaussians(X, w, np.eye(k)[_kmeans(X, w, k, seed)["labels"]])
    prev = None
    for _ in range(max_iter):
        lj, norm = _log_joint(X, g)
        loglik = float(w @ norm)
        if prev is not None and abs(loglik - prev) < tol * n:
            break
        prev = loglik
        g = _gaussians(X, w, np.exp(lj - norm[:, None]))
    else:  # the labels and likelihood of the last M-step's parameters
        lj, norm = _log_joint(X, g)
        loglik = float(w @ norm)
    labels = lj.argmax(axis=1)
    counts = np.bincount(labels, weights=w, minlength=k)
    if counts[counts > 0].min() < n * 0.01:
        return None
    n_eff = int((counts > 0).sum())
    p = int(n_eff * d * (d + 1) / 2.0 + d * n_eff + n_eff - 1)
    score = loglik / n
    return g | {
        "labels": labels,
        "loglik": loglik,
        "bic": -2 * score * n + p * math.log(n),
        "aic": -2 * score * n + 2 * p,
        "k": k,
        "seed": seed,
    }


def _quality(X: np.ndarray, w: np.ndarray, fit: dict, information: bool = False) -> dict:
    """get_cluster_metrics of one fit's labelled patterns
    (``quality.pattern_quality``), with its k and, for a mixture, its
    BIC/AIC."""
    rows = [
        {FEATURES: tuple(x), PREDICTION: int(lab), "_w": wt}
        for x, lab, wt in zip(X, fit["labels"], w)
    ]
    m = Q.pattern_quality(rows, FEATURES, PREDICTION, fit["seed"])
    m["n_clusters"] = fit["k"]
    if information:
        m["bic"], m["aic"] = fit["bic"], fit["aic"]
    return m


def _select(X: np.ndarray, w: np.ndarray, fits: list, information: bool = False) -> dict | None:
    """The best of ``fits`` (None entries skipped) by rank-sum, with its
    metrics, after dropping unbalanced ones; None when none is left."""
    keep = [
        (f, m)
        for f, m in ((f, _quality(X, w, f, information)) for f in fits if f is not None)
        if remove_unbalanced([m])
    ]
    if not keep:
        return None
    fit, m = keep[rank_best([m for _, m in keep], information)]
    return fit | {"metrics": m}


def optimal_k(X: np.ndarray, w: np.ndarray, ks: list[int], seed: int = 42) -> int:
    """Optimal-k search (clustering.py:391-478): per-k cost + metrics,
    rank-sum with a +n_points bonus for the elbow k, argmax."""
    fits = [_kmeans(X, w, k, seed) for k in ks]
    metrics = [_quality(X, w, f) for f in fits]
    elbow_k = ks[elbow_index([f["inertia"] for f in fits])]
    bonus = [len(ks) if m["n_clusters"] == elbow_k else 0 for m in metrics]
    return int(metrics[rank_best(metrics, bonus=bonus)]["n_clusters"])


# --- the fitted row expressions -----------------------------------------


def _x(c: str) -> str:
    """A column's code as a SQL double."""
    return "CAST(`" + c.replace("`", "``") + "` AS DOUBLE)"


def _argbest(df: DataFrame, scores: list[Column], lowest: bool) -> DataFrame:
    """``df`` with ``prediction``: the index of the least (``lowest``)
    or greatest score, lowest index on ties; NULL where a code is NULL
    (every score is then NULL)."""
    out = df.select("*", *[s.alias(f"_s{i}") for i, s in enumerate(scores)])
    pred, best = F.lit(0), F.col("_s0")
    for i in range(1, len(scores)):
        s = F.col(f"_s{i}")
        pred = F.when(s < best if lowest else s > best, i).otherwise(pred)
        best = F.least(best, s) if lowest else F.greatest(best, s)
    return out.withColumn(
        PREDICTION, F.when(F.col("_s0").isNotNull(), pred)
    ).drop(*[f"_s{i}" for i in range(len(scores))])


def _kmeans_label(cols, mean, std, axes, centers):
    """The kmeans row expression: z-score, project onto ``axes``, argmin
    squared distance to ``centers``."""
    z = [
        f"({_x(c)} - {_sql_d(m)}) / {_sql_d(s)}"
        for c, m, s in zip(cols, mean.tolist(), std.tolist())
    ]
    proj = [
        " + ".join(f"{zc} * {_sql_d(a)}" for zc, a in zip(z, axis))
        for axis in axes.T.tolist()
    ]

    def label(df: DataFrame) -> DataFrame:
        out = df.select("*", *[F.expr(p).alias(f"_p{j}") for j, p in enumerate(proj)])
        dists = [
            F.expr(
                " + ".join(
                    f"(`_p{j}` - {_sql_d(v)}) * (`_p{j}` - {_sql_d(v)})"
                    for j, v in enumerate(center)
                )
            )
            for center in centers.tolist()
        ]
        return _argbest(out, dists, lowest=True).drop(
            *[f"_p{j}" for j in range(len(proj))]
        )

    return label


def _gmm_label(cols, g):
    """The mixture's row expression: argmax over components of
    log(weight) + log-density, each a quadratic form in the row's
    codes through the inverse Cholesky factor."""
    d = len(cols)
    scores = []
    for j, (mean, prec) in enumerate(zip(g["means"].tolist(), g["prec_chol"].tolist())):
        const = math.log(g["weights"][j]) - 0.5 * (d * _LOG_2PI + g["logdet"][j])
        diff = [f"({_x(c)} - {_sql_d(m)})" for c, m in zip(cols, mean)]
        ys = [
            " + ".join(f"{_sql_d(prec[r][i])} * {diff[i]}" for i in range(r + 1))
            for r in range(d)
        ]
        quad = " + ".join(f"({y}) * ({y})" for y in ys)
        scores.append(f"{_sql_d(float(const))} - 0.5 * ({quad})")

    def label(df: DataFrame) -> DataFrame:
        return _argbest(df, [F.expr(s) for s in scores], lowest=False)

    return label


# --- the families ---------------------------------------------------------


def kmeans_table(
    rows: list[dict],
    cols: list[str],
    ks: list[int] | None = None,
    seeds: list[int] | None = None,
) -> dict | None:
    """kmeans+PCA over scheme-table ``rows`` (coded), grouped to their
    ``cols`` patterns. Zero Spark jobs.

    The codes are z-scored with the patterns' weighted mean and
    population std (a constant column's std is 1, as sklearn's) and
    projected onto the fewest principal axes of their weighted
    covariance whose explained variance adds up to at least 0.5. k is
    :func:`optimal_k` over ``ks`` (seed 42), then every seed fits that
    k; unbalanced fits are dropped and the best by rank-sum is kept
    (clustering.py:627-713). Returns None when no fit is balanced, else
    dict(label, centers, labels, inertia, k, seed, n_components,
    metrics): ``label`` maps a frame holding ``cols`` to the frame with a
    ``prediction`` column; ``labels`` are the patterns' labels."""
    X, w = _patterns(rows, cols)
    mean, std, axes = _standard_pca(X, w)
    P = (X - mean) / std @ axes
    k = optimal_k(P, w, ks or list(range(MIN_K, MAX_K)))
    best = _select(P, w, [_kmeans(P, w, k, s) for s in seeds or SEEDS])
    if best is None:
        return None
    return best | {
        "label": _kmeans_label(cols, mean, std, axes, best["centers"]),
        "n_components": axes.shape[1],
    }


def gmm_table(
    rows: list[dict],
    cols: list[str],
    k: int,
    seeds: list[int] | None = None,
) -> dict | None:
    """Gaussian mixture over scheme-table ``rows`` (coded), grouped to
    their ``cols`` patterns, on the codes as they are. Zero Spark jobs.

    Every seed fits k components (:func:`_gmm`); fits with a class under
    1% and unbalanced fits are dropped, and the best by the BIC/AIC-
    weighted rank-sum is kept (clustering.py:951-983). Returns None when
    none is left, else dict(label, labels, weights, means, loglik, bic,
    aic, k, seed, metrics) with ``label`` as :func:`kmeans_table`'s."""
    X, w = _patterns(rows, cols)
    best = _select(X, w, [_gmm(X, w, k, s) for s in seeds or SEEDS], information=True)
    return None if best is None else best | {"label": _gmm_label(cols, best)}
