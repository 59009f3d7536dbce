"""KModes / KPrototypes as weighted Lloyd loops over answer patterns.

Spark has no categorical clustering; the reference uses the `kmodes`
library (reference: src/kraken/app/clustering.py:348-363,480-539 —
KModes(init='Cao'), KPrototypes(init='Cao', n_init=1)). One entry point,
``kmodes_table``, fits both: KPrototypes is the ``num_cols`` case.

One fit device, the one ``ml.lca`` shares: the whole Cao init + Lloyd
loop is a function of the (answer pattern, count, min id) table, read
off the rows of a ``features.scheme_table`` — the exact table up to its
threshold, a priority sample with Horvitz-Thompson weights above it.
``kmodes_table`` fits those rows in numpy, zero Spark jobs, and returns
the fitted row expression ``label``; ``catalog.ml_q.kmodes_fit`` is one
scheme-table read of a frame, that fit, and ``label`` over every row
(lazy).

- **Cao init** (deterministic, no seed): density(x) = mean over
  attributes of freq(x_attr)/n; first mode = argmax density; mode j =
  argmax density(x) * min hamming distance to chosen modes; ties go to
  the lowest min id. A pattern with a NULL attribute has no density and
  is never picked.
- **Assign**: distance to k literal modes (sum of value mismatches;
  squared Euclidean + gamma * mismatches for KPrototypes) — argmin with
  lowest-index tie-break (kmodes lib argmin semantics). The labelling
  pass is the same distance as a codegen'd column expression: NO
  SHUFFLE.
- **Update**: per (cluster, attribute) the value of largest weight
  (value asc tie-break, nulls first — np.unique order); numeric
  centroids are weighted means.
- **Converge**: stop when no pattern changes cluster or max_iter.
- cost_ = weighted sum of distances to own mode (kmodes lib .cost_).

gamma (KPrototypes) defaults to 0.5 * mean population std of the
numeric columns (kmodes lib default).

Documented deltas: an emptied cluster keeps its previous mode (the lib
re-seeds from a random point); KPrototypes numeric init takes the
Cao-selected pattern's numeric values.

Scale notes (100 TB design): a fit costs the scheme table's shuffle;
the driver holds at most ``features.PATTERN_THRESHOLD`` patterns at any
input size, and labelling is embarrassingly parallel.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.ml import features as FE


def _hamming(cols: list[str], mode: dict) -> Column:
    """Number of attributes differing from a literal mode row."""
    terms = [
        F.when(
            F.col(c).cast("string").eqNullSafe(F.lit(mode[c])), 0
        ).otherwise(1)
        for c in cols
    ]
    return sum(terms[1:], terms[0])


def _sq_euclid(cols: list[str], center: dict) -> Column:
    terms = [
        (F.col(c).cast("double") - F.lit(center[c]))
        * (F.col(c).cast("double") - F.lit(center[c]))
        for c in cols
    ]
    return sum(terms[1:], terms[0])


def _assign(
    df: DataFrame,
    modes: list[dict],
    cat_cols: list[str],
    num_cols: list[str],
    gamma: float,
) -> DataFrame:
    """Label every row with the argmin-distance mode (lowest-index ties)."""
    dists = []
    for i, m in enumerate(modes):
        d = _hamming(cat_cols, m).cast("double")
        if num_cols:
            d = _sq_euclid(num_cols, m) + F.lit(gamma) * d
        dists.append(d.alias(f"_d{i}"))
    out = df.select("*", *dists)
    pred = F.lit(0)
    best = F.col("_d0")
    for i in range(1, len(modes)):
        pred = F.when(F.col(f"_d{i}") < best, i).otherwise(pred)
        best = F.least(best, F.col(f"_d{i}"))
    return out.withColumn("prediction", pred).withColumn("_dist", best).drop(
        *[f"_d{i}" for i in range(len(modes))]
    )


def _kmodes_patterns(
    pat: list,
    cat_cols: list[str],
    num_cols: list[str],
    k: int,
    gamma: float,
    max_iter: int,
) -> tuple[list[dict], list[dict], float, int]:
    """Cao init + Lloyd loop over weighted patterns (module docstring:
    density formula and float order, score/id tie-breaks, argmin
    lowest-index assignment, mode update weight-desc/value-asc with
    nulls first, emptied clusters keep their mode). Zero Spark jobs.

    Returns (label_modes, final_modes, cost, n_iter): ``label_modes``
    are the modes of the LAST assignment (what labels/cost are measured
    under — on a non-converged exit the returned modes are one update
    ahead of the labels)."""
    P = len(pat)
    w = np.array([r["_w"] for r in pat], dtype=np.float64)
    # None-safe id tie-break, NULLS FIRST like Spark's
    # ``.orderBy(id.asc())``: a pattern whose every id is NULL has
    # _mid = NULL and must sort before any real id, not raise Python's
    # None-vs-int TypeError (hit by the r11 NULL-salt sweep)
    mid = [
        (r["_mid"] is not None, 0 if r["_mid"] is None else r["_mid"])
        for r in pat
    ]
    n = float(w.sum())

    # string forms + integer codes per categorical column (None is its
    # own code — eqNullSafe semantics)
    S = {
        c: [None if r[c] is None else str(r[c]) for r in pat]
        for c in cat_cols
    }
    code_of: dict[str, dict] = {}
    codes: dict[str, np.ndarray] = {}
    for c in cat_cols:
        m: dict = {}
        for v in S[c]:
            if v not in m:
                m[v] = len(m)
        code_of[c] = m
        codes[c] = np.array([m[v] for v in S[c]], dtype=np.int64)
    XN = {
        c: np.array([float(r[c]) for r in pat]) for c in num_cols
    }

    # --- Cao init (density: per-part cnt/n python floats, summed left
    # to right, / len(cat_cols); null attr -> null density -> never
    # picked). The density needs a categorical column: like the kmodes
    # lib's KPrototypes, refuse an input with none
    if not cat_cols:
        raise ValueError(
            "kprototypes needs at least one categorical column;"
            " every column is numeric (kmeans fits such an input)"
        )
    freq: dict[str, dict] = {c: {} for c in cat_cols}
    for c in cat_cols:
        f = freq[c]
        for v, wt in zip(S[c], w):
            if v is not None:
                f[v] = f.get(v, 0.0) + float(wt)
    dens = []
    for p in range(P):
        total = None
        dead = False
        for c in cat_cols:
            v = S[c][p]
            if v is None:
                dead = True
                break
            part = freq[c][v] / n
            total = part if total is None else total + part
        dens.append(None if dead else total / len(cat_cols))

    def _ham_to(mode: dict, p: int) -> int:
        return sum(1 for c in cat_cols if S[c][p] != mode[c])

    alive = [p for p in range(P) if dens[p] is not None]
    if len(alive) < k:
        raise ValueError(
            f"kmodes_fit: {len(alive)} answer patterns without a NULL,"
            f" fewer than k={k} initial modes"
        )
    first = min(alive, key=lambda p: (-dens[p], mid[p]))
    modes = [
        {c: S[c][first] for c in cat_cols}
        | {c: float(XN[c][first]) for c in num_cols}
    ]
    for _ in range(1, k):
        best = min(
            alive,
            key=lambda p: (
                -(dens[p] * min(_ham_to(m, p) for m in modes)),
                mid[p],
            ),
        )
        modes.append(
            {c: S[c][best] for c in cat_cols}
            | {c: float(XN[c][best]) for c in num_cols}
        )

    # --- Lloyd loop
    def _dists(ms: list[dict]) -> np.ndarray:
        D = np.zeros((k, P))
        for i, m in enumerate(ms):
            d = np.zeros(P)
            for c in cat_cols:
                mc = code_of[c].get(m[c], -1)
                d += (codes[c] != mc).astype(float)
            if num_cols:
                sq = np.zeros(P)
                for c in num_cols:
                    sq += (XN[c] - m[c]) ** 2
                d = sq + gamma * d
            D[i] = d
        return D

    prev_assign = None
    label_modes = modes
    n_iter = 0
    D = None
    assign = None
    for _ in range(max_iter):
        label_modes = [dict(m) for m in modes]
        D = _dists(modes)
        assign = D.argmin(axis=0)  # first-min tie = lowest index
        n_iter += 1
        if prev_assign is not None and w[assign != prev_assign].sum() == 0:
            break
        prev_assign = assign
        # mode update: per (cluster, col) weight desc, value asc with
        # nulls FIRST (Spark ORDER BY value ASC); emptied keeps mode
        new_modes = [dict(m) for m in modes]
        for c in cat_cols:
            ncodes = len(code_of[c])
            cnt = np.zeros((k, ncodes))
            np.add.at(cnt, (assign, codes[c]), w)
            decode = {i: v for v, i in code_of[c].items()}
            for i in range(k):
                if cnt[i].sum() == 0:
                    continue
                best_code = min(
                    range(ncodes),
                    key=lambda j: (
                        -cnt[i][j],
                        decode[j] is not None,
                        decode[j] or "",
                    ),
                )
                if cnt[i][best_code] > 0:
                    new_modes[i][c] = decode[best_code]
        for c in num_cols:
            for i in range(k):
                mask = assign == i
                tot = w[mask].sum()
                if tot > 0:
                    new_modes[i][c] = float(
                        (w[mask] * XN[c][mask]).sum() / tot
                    )
        modes = new_modes

    cost = float((w * D[assign, np.arange(P)]).sum())
    return label_modes, modes, cost, n_iter


def default_gamma(pat: list[dict], num_cols: list[str]) -> float:
    """kmodes lib default: 0.5 * mean population std of the numeric
    columns over the weighted patterns (NULLs skipped, as
    ``stddev_pop`` skips them; a column with no value counts 0)."""
    if not num_cols:
        return 0.0
    stds = []
    for c in num_cols:
        x = np.array([float(r[c]) for r in pat if r[c] is not None])
        w = np.array([float(r["_w"]) for r in pat if r[c] is not None])
        if not w.sum():
            stds.append(0.0)
            continue
        mean = (w * x).sum() / w.sum()
        stds.append(float(np.sqrt((w * (x - mean) ** 2).sum() / w.sum())))
    return 0.5 * sum(stds) / len(num_cols)


def kmodes_table(
    rows: list[dict],
    cat_cols: list[str],
    k: int,
    num_cols: list[str] | None = None,
    gamma: float | None = None,
    max_iter: int = 20,
) -> dict:
    """KModes (num_cols empty) / KPrototypes (num_cols given: mixed
    distance sq_euclid(num) + gamma * hamming(cat), clustering.py:328-346)
    over scheme-table rows (``features.SchemeTable.rows``, raw or coded),
    grouped to their (``cat_cols``, ``num_cols``) patterns. Zero Spark
    jobs.

    Returns dict(label, modes, cost, n_iter, k, gamma): ``label`` maps a
    frame holding those columns to the frame with a ``prediction``
    column. Deterministic: Cao init, fixed tie-breaks, no randomness.
    """
    num_cols = list(num_cols or [])
    pat = FE.group_patterns(rows, [*cat_cols, *num_cols])
    if gamma is None:
        gamma = default_gamma(pat, num_cols)
    label_modes, modes, cost, n_iter = _kmodes_patterns(
        pat, cat_cols, num_cols, k, gamma, max_iter
    )
    return {
        "label": lambda df: _assign(
            df, label_modes, cat_cols, num_cols, gamma
        ).drop("_dist"),
        "modes": modes,
        "cost": cost,
        "n_iter": n_iter,
        "k": k,
        "gamma": gamma,
    }
