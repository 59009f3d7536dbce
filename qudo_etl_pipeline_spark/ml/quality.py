"""Cluster-quality metrics.

Re-implements the reference's metric layer (reference:
src/kraken/app/metrics.py:24-124) without sklearn:

- cluster proportions                          (metrics.py:24-38)
- silhouette / Davies-Bouldin / Calinski-Harabasz (metrics.py:73-90)

Error-value semantics are replicated exactly because they feed the
rank-sum selection: silhouette -> 0, Davies-Bouldin -> 999,
Calinski-Harabasz -> 0 on degenerate inputs (metrics.py:75-90).

Scale notes (100 TB design):
- Every quality metric is a function of the (features, prediction,
  count) table, whose size is the number of distinct feature vectors,
  not the row count. :func:`pattern_quality` computes all the metrics
  from its rows in numpy: per-cluster count, feature sum and
  squared-norm sum give the centroids, CH and the silhouette; DB's
  scatter is one more pass over the same rows. The survey passes its
  labelled scheme-table patterns; ``catalog.ml_q.cluster_quality``
  collects the table of a labelled frame.
- The silhouette is MLlib ClusteringEvaluator's squared-Euclidean one
  (O(patterns x k)), not sklearn's O(n^2) Euclidean one: a documented
  delta; the rank-sum comparator only needs a consistent ordering.
- Above ``features.PATTERN_THRESHOLD`` patterns the table is a priority
  sample whose weights are Horvitz-Thompson weights, and the metrics
  are estimates over it.

The adjusted Rand index (metrics.py:268,301), which only the consistency
checks use, and the frame versions of the sizes and the balance
predicate are catalog-side: ``catalog/ml_q.py``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Row

FEATURES = "features"  # array<double>
PREDICTION = "prediction"


def _silhouette(X, w, idx, sqn, n, S, Q) -> float:
    """MLlib's squared-Euclidean silhouette, weighted by ``w``: a point x
    has the mean squared distance d(x, C) = |x|^2 + Q_C/n_C - 2 x.S_C/n_C
    to cluster C. Its own cluster's is rescaled by n_A/(n_A - 1) to
    leave x out, and a point alone in its cluster scores 0."""
    D = sqn[:, None] + Q / n - 2 * (X @ S.T) / n
    pts = np.arange(len(idx))
    own_n = n[idx]
    with np.errstate(divide="ignore", invalid="ignore"):
        a = D[pts, idx] * own_n / (own_n - 1)
        D[pts, idx] = np.inf
        b = D.min(axis=1)
        s = np.where(a < b, 1 - a / b, np.where(a > b, b / a - 1, 0.0))
    s[own_n == 1] = 0.0
    return float(w @ s / w.sum())


def _davies_bouldin(X, w, idx, n, C) -> float:
    """mean_i max_{j != i} (s_i + s_j) / |c_i - c_j|, with s_i the mean
    Euclidean distance of cluster i's rows to its centroid; 999 when two
    centroids coincide."""
    k = len(n)
    dist = np.sqrt(((X - C[idx]) ** 2).sum(axis=1))
    s = np.bincount(idx, weights=w * dist, minlength=k) / n
    gap = np.sqrt(((C[:, None, :] - C[None, :, :]) ** 2).sum(axis=2))
    off = ~np.eye(k, dtype=bool)
    if (gap[off] == 0).any():
        return 999.0
    pair = (s[:, None] + s[None, :]) / np.where(off, gap, 1.0)
    return float(np.where(off, pair, 0.0).max(axis=1).mean())


def _calinski_harabasz(n, C, Q) -> float:
    """(B/(k-1)) / (W/(n-k)) from the per-cluster counts, centroids and
    squared-norm sums; 0 when n <= k or W <= 0."""
    k, total = len(n), n.sum()
    if total <= k:
        return 0.0
    gmean = (n[:, None] * C).sum(axis=0) / total
    b = (n * ((C - gmean) ** 2).sum(axis=1)).sum()
    w = (Q - n * (C * C).sum(axis=1)).sum()
    if w <= 0:
        return 0.0
    return float((b / (k - 1)) / (w / (total - k)))


def pattern_quality(
    rows: list[Row],
    features: str = FEATURES,
    pred: str = PREDICTION,
    n_seed=None,
) -> dict:
    """get_cluster_metrics (metrics.py:42-124) over a pattern table: each
    row holds a feature vector, its label and the number of rows ``_w``
    it stands for (a ``catalog.ml_q.pattern_table``, or in the survey the
    family's labelled scheme-table patterns). Returns silhouette,
    davies_bouldin, calinski_harabasz and the proportions, with the
    reference's fallbacks: 0 / 999 / 0 below two clusters.

    A NULL label is "unassigned": its rows belong to no cluster and
    count in no metric."""
    rows = [r for r in rows if r[pred] is not None]
    ids = sorted({r[pred] for r in rows})
    k = len(ids)
    out = {
        "n_seed": n_seed if n_seed is not None else "No seed selected",
        "n_clusters": k,
        "silhouette": 0.0,
        "davies_bouldin": 999.0,
        "calinski_harabasz": 0.0,
        "cluster_proportions": {},
    }
    if not rows:
        return out
    pos = {c: j for j, c in enumerate(ids)}
    idx = np.array([pos[r[pred]] for r in rows])
    X = np.array([r[features] for r in rows], dtype=np.float64)
    w = np.array([r["_w"] for r in rows], dtype=np.float64)
    # a fixed row order (label, then features) makes every sum below
    # independent of the order the table was collected in
    order = np.lexsort([*X.T[::-1], idx])
    idx, X, w = idx[order], X[order], w[order]
    # per cluster: row count n, feature sum S, squared-norm sum Q
    n = np.bincount(idx, weights=w, minlength=k)
    S = np.zeros((k, X.shape[1]))
    np.add.at(S, idx, w[:, None] * X)
    sqn = (X * X).sum(axis=1)
    Q = np.bincount(idx, weights=w * sqn, minlength=k)
    total = n.sum()
    out["cluster_proportions"] = {
        c: float(n[j] / total) for j, c in enumerate(ids)
    }
    if k < 2:
        return out
    C = S / n[:, None]
    out["silhouette"] = _silhouette(X, w, idx, sqn, n, S, Q)
    out["davies_bouldin"] = _davies_bouldin(X, w, idx, n, C)
    out["calinski_harabasz"] = _calinski_harabasz(n, C, Q)
    return out
