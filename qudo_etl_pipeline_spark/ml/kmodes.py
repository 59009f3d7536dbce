"""KModes / KPrototypes as DataFrame-native Lloyd loops.

Spark has no categorical clustering; the reference uses the `kmodes`
library (reference: src/kraken/app/clustering.py:348-363,480-539 —
KModes(init='Cao'), KPrototypes(init='Cao', n_init=1)). One entry point,
``kmodes_fit``, fits both: KPrototypes is the ``num_cols`` case.

Two execution strategies, with the pattern device ``ml.lca`` shares:

- **Pattern path**: the whole Cao init + Lloyd loop is a function of the
  (answer pattern, count, min id) table that
  ``features.pattern_table`` collects in one shuffle (categorical-only
  inputs always probe; mixed inputs only when the row count fits under
  the threshold). The loop runs in numpy over weighted patterns with
  the distributed operators' exact semantics (cross-path tests pin
  modes, cost, iterations and labels equal); labels are one lazy
  assignment pass.
- **Distributed path** (too many patterns, a mixed input above the
  threshold, or a table with fewer than k NULL-free patterns): the
  iterative DataFrame program below.

- **Cao init** (deterministic, no seed): density(x) = mean over
  attributes of freq(x_attr)/n; first mode = argmax density; mode j =
  argmax density(x) * min hamming distance to chosen modes. Frequencies
  come from ONE melt+groupBy pass, applied back as broadcast map
  literals for low-cardinality columns and as (broadcast) joins against
  the frequency table above ``_CAO_MAP_MAX`` distincts — plan size and
  driver memory stay bounded at any cardinality; each selection step is
  a map-only scan + limit(1).
- **Assign**: distance of every row to k literal modes is a codegen'd
  column expression (sum of value mismatches; squared Euclidean + gamma
  * mismatches for KPrototypes) — argmin with lowest-index tie-break
  (kmodes lib argmin semantics). NO SHUFFLE.
- **Update**: per (cluster, attribute) mode via groupBy count + window
  row_number (count desc, value asc tie-break — np.unique order);
  numeric centroids via avg. ONE shuffle per iteration, output
  cardinality k x attrs x values (tiny).
- **Converge**: stop when no row changes cluster or max_iter.
- cost_ = sum of distances to own mode (kmodes lib .cost_).

gamma (KPrototypes) defaults to 0.5 * mean population std of the
numeric columns (kmodes lib default).

Documented deltas: an emptied cluster keeps its previous mode (the lib
re-seeds from a random point); KPrototypes numeric init takes the
Cao-selected row's numeric values.

Scale notes (100 TB design): per iteration exactly one shuffle (the
mode-count aggregation, map-side combined); assignment is embarrassingly
parallel; modes live driver-side (k x attrs literals). Iterations cap at
`max_iter` — wall-clock is O(iterations) full scans, the same asymptotic
shape as MLlib's own KMeans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.ml.features import PATTERN_THRESHOLD, pattern_table


# per-column distinct-count ceiling for the create_map density lookup;
# wider columns switch to a broadcast-join density (a 50k-entry literal
# map would bloat the plan/driver — round-3 VERDICT hardening item)
_CAO_MAP_MAX = 1000
# freq tables up to this many rows get an explicit broadcast hint;
# larger ones fall back to a shuffle join (the scale-correct shape for
# a column with e.g. billions of distincts)
_CAO_BROADCAST_MAX = 2_000_000


def _freq_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """(variable, value, n) frequencies in one melt+groupBy pass."""
    from qudo_etl_pipeline_spark.plans.melt import melt

    return (
        melt(df.select(cols), id_vars=[], value_vars=cols)
        .groupBy("variable", "value")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _density_frame(
    df: DataFrame, cols: list[str], n: int, map_max: int = _CAO_MAP_MAX
) -> tuple[DataFrame, "object"]:
    """``df`` + Cao density column ``_dens`` (mean over attributes of
    freq(value)/n), plus a release() callable.

    Low-cardinality columns resolve through collected ``create_map``
    literals (no join, no shuffle); columns with more than ``map_max``
    distinct values resolve through a join against the frequency table
    instead — broadcast when the table is small enough, shuffle join
    beyond ``_CAO_BROADCAST_MAX`` — so plan size and driver memory stay
    bounded at ANY cardinality."""
    freq = _freq_table(df, cols)
    card = {
        r["variable"]: r["cnt"]
        for r in freq.groupBy("variable")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    small = [c for c in cols if card.get(c, 0) <= map_max]
    big = [c for c in cols if c not in small]

    cached = None
    if big:
        cached = freq.cache()
        freq = cached

    maps: dict[str, dict] = {c: {} for c in small}
    if small:
        for r in freq.filter(F.col("variable").isin(small)).collect():
            # skip NULL values: F.lit(None) as a create_map KEY throws
            # NULL_MAP_KEY at runtime; a null attribute then looks up
            # nothing -> null density -> never picked, the same
            # semantics the join path produces for unmatched nulls
            if r["value"] is not None:
                maps[r["variable"]][r["value"]] = r["n"]

    parts: list[Column] = []
    out = df
    for ci, c in enumerate(big):
        f_c = freq.filter(F.col("variable") == c).select(
            F.col("value").alias(f"_cao_v{ci}"),
            F.col("n").alias(f"_cao_n{ci}"),
        )
        if card[c] <= _CAO_BROADCAST_MAX:
            f_c = F.broadcast(f_c)
        out = out.join(
            f_c,
            out[c].cast("string") == F.col(f"_cao_v{ci}"),
            "left",
        ).drop(f"_cao_v{ci}")
        parts.append(F.col(f"_cao_n{ci}") / F.lit(n))
    for c in small:
        entries = []
        for v, cnt in maps[c].items():
            entries += [F.lit(v), F.lit(cnt / n)]
        parts.append(F.create_map(*entries)[F.col(c).cast("string")])

    total = parts[0]
    for p in parts[1:]:
        total = total + p
    out = out.withColumn("_dens", total / F.lit(len(cols))).drop(
        *[f"_cao_n{ci}" for ci in range(len(big))]
    )

    def release() -> None:
        if cached is not None:
            cached.unpersist()

    return out, release


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


def cao_init(
    df: DataFrame,
    cat_cols: list[str],
    k: int,
    num_cols: list[str] | None = None,
    id_col: str = "row_id",
) -> list[dict]:
    """Deterministic Cao initialization; returns k mode rows as dicts."""
    num_cols = num_cols or []
    n = df.count()
    dens, release = _density_frame(df, cat_cols, n)
    sel_cols = [id_col, "_dens", *cat_cols, *num_cols]
    try:
        first = (
            dens.select(sel_cols)
            .orderBy(F.col("_dens").desc(), F.col(id_col).asc())
            .first()
        )
        modes = [
            {c: str(first[c]) for c in cat_cols}
            | {c: float(first[c]) for c in num_cols}
        ]
        for _ in range(1, k):
            min_dist = F.least(
                *[_hamming(cat_cols, m) for m in modes]
            ) if len(modes) > 1 else _hamming(cat_cols, modes[0])
            cand = (
                dens.select(
                    *sel_cols, (F.col("_dens") * min_dist).alias("_score")
                )
                .orderBy(F.col("_score").desc(), F.col(id_col).asc())
                .first()
            )
            modes.append(
                {c: str(cand[c]) for c in cat_cols}
                | {c: float(cand[c]) for c in num_cols}
            )
        return modes
    finally:
        release()


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


def _kmodes_patterns(
    pat: list,
    cat_cols: list[str],
    num_cols: list[str],
    k: int,
    gamma: float,
    max_iter: int,
) -> tuple[list[dict], list[dict], float, int] | None:
    """Cao init + Lloyd loop over weighted patterns, mirroring the
    distributed operators' exact semantics (density formula and float
    order, score/id tie-breaks, argmin lowest-index assignment, mode
    update count-desc/value-asc with nulls first, emptied clusters keep
    their mode). Zero Spark jobs.

    Returns (label_modes, final_modes, cost, n_iter): ``label_modes``
    are the modes of the LAST assignment (what labels/cost are measured
    under — on a non-converged exit the distributed loop's returned
    modes are one update ahead of its labels, mirrored here)."""
    import numpy as np

    P = len(pat)
    w = np.array([r["_w"] for r in pat], dtype=np.int64)
    # None-safe tie-break mirroring the distributed path's Spark
    # ``.orderBy(id.asc())`` (NULLS FIRST): a pattern whose every id is
    # NULL has _mid = NULL and must sort before any real id, not raise
    # Python's None-vs-int TypeError (hit by the r11 NULL-salt sweep)
    mid = [
        (r["_mid"] is not None, 0 if r["_mid"] is None else r["_mid"])
        for r in pat
    ]
    n = int(w.sum())

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

    # --- Cao init (density formula and float association order match
    # _density_frame: per-part cnt/n python floats, summed left to
    # right, / len(cat_cols); null attr -> null density -> never picked)
    freq: dict[str, dict] = {c: {} for c in cat_cols}
    for c in cat_cols:
        f = freq[c]
        for v, wt in zip(S[c], w):
            if v is not None:
                f[v] = f.get(v, 0) + int(wt)
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
        return None  # degenerate (nulls everywhere) — distributed path
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

    # --- Lloyd loop (same convergence + update order as kmodes_fit)
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
        if prev_assign is not None and int(
            w[assign != prev_assign].sum()
        ) == 0:
            break
        prev_assign = assign
        # mode update: per (cluster, col) count desc, value asc with
        # nulls FIRST (Spark ORDER BY value ASC); emptied keeps mode
        new_modes = [dict(m) for m in modes]
        for c in cat_cols:
            ncodes = len(code_of[c])
            cnt = np.zeros((k, ncodes), dtype=np.int64)
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
                tot = int(w[mask].sum())
                if tot > 0:
                    new_modes[i][c] = float(
                        (w[mask] * XN[c][mask]).sum() / tot
                    )
        modes = new_modes

    cost = float((w * D[assign, np.arange(P)]).sum())
    return label_modes, modes, cost, n_iter


def default_gamma(df: DataFrame, num_cols: list[str]) -> float:
    """kmodes lib default: 0.5 * mean population std of numeric cols."""
    if not num_cols:
        return 0.0
    row = df.agg(
        *[F.stddev_pop(F.col(c).cast("double")).alias(c) for c in num_cols]
    ).collect()[0]
    return 0.5 * sum(row[c] or 0.0 for c in num_cols) / len(num_cols)


def kmodes_fit(
    df: DataFrame,
    cat_cols: list[str],
    k: int,
    num_cols: list[str] | None = None,
    gamma: float | None = None,
    max_iter: int = 20,
    id_col: str = "row_id",
    pattern_threshold: int = PATTERN_THRESHOLD,
) -> dict:
    """Full KModes (num_cols empty) / KPrototypes (num_cols given: mixed
    distance sq_euclid(num) + gamma * hamming(cat), clustering.py:328-346)
    fit.

    Returns dict(labels=DataFrame with `prediction`, modes, cost, n_iter).
    Deterministic: Cao init, fixed tie-breaks, no randomness.
    """
    num_cols = num_cols or []
    if gamma is None:
        gamma = default_gamma(df, num_cols)

    # Pattern fast path (the device ml.lca shares): the whole Cao init +
    # Lloyd loop is a function of the (pattern, count, min-id) table
    pat, _ = pattern_table(
        df, cat_cols, num_cols, min_col=id_col, threshold=pattern_threshold
    )
    if pat is not None:
        fitted = _kmodes_patterns(
            pat, cat_cols, num_cols, k, gamma, max_iter
        )
        if fitted is not None:
            label_modes, modes, cost, n_iter = fitted
            labels = _assign(df, label_modes, cat_cols, num_cols, gamma)
            return {
                "labels": labels.drop("_dist"),
                "modes": modes,
                "cost": cost,
                "n_iter": n_iter,
                "k": k,
                "gamma": gamma,
            }

    df = df.cache()
    try:
        modes = cao_init(df, cat_cols, k, num_cols=num_cols, id_col=id_col)
        prev = None
        assigned = None
        n_iter = 0
        for it in range(max_iter):
            assigned = _assign(df, modes, cat_cols, num_cols, gamma).cache()
            n_iter = it + 1
            if prev is not None:
                moved = (
                    assigned.select(id_col, "prediction")
                    .join(
                        prev.select(
                            F.col(id_col).alias("_id"),
                            F.col("prediction").alias("_p"),
                        ),
                        F.col(id_col) == F.col("_id"),
                    )
                    .filter(F.col("prediction") != F.col("_p"))
                    .count()
                )
                prev.unpersist()
                if moved == 0:
                    break
            prev = assigned
            modes = _update_modes(assigned, modes, cat_cols, num_cols)
        cost = assigned.agg(F.sum("_dist").alias("c")).collect()[0]["c"]
        # release the loop cache before returning: consumers that read
        # `labels` recompute ONE deterministic assignment pass from the
        # final modes; keeping it cached leaked one full-table entry per
        # fit in long-lived drivers (many schemes x algorithms)
        assigned.unpersist()
        return {
            "labels": assigned.drop("_dist"),
            "modes": modes,
            "cost": float(cost),
            "n_iter": n_iter,
            "k": k,
            "gamma": gamma,
        }
    finally:
        df.unpersist()

