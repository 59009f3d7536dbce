"""Latent Class Analysis: multinomial-mixture EM over DataFrames.

The reference runs R's poLCA for all-categorical inputs (reference:
src/kraken/app/lca.R:13-52 — k in 3..8, nrep random restarts, min-BIC
pick) and depmixS4's ``mix`` for MIXED numeric+categorical inputs
(lca.R:54-101: independent mixture with multinomial factors for
categoricals and gaussian mean/variance factors for numerics, k in
2..8, min BIC — dispatched at clustering.py:862-867 when the feature
set is the kprototypes kind). Both are invoked via rpy2 from
clustering.py:834-904. There is no JVM/MLlib equivalent; this module
implements both models — a finite mixture of independent per-column
factors — as EM over one of two loops.

One path fits and selects: ``lca_fit`` is the one-model case of
``lca_select``. A private prepare step normalizes the input once
(categorical answers as strings, rows with a NULL numeric dropped) and
probes the (answer pattern, count) table through
``features.pattern_table``, the device ``ml.kmodes`` shares. Every
(k, seed) of the grid then runs one of two EM loops with the same seeded
init and update formulas, and only the min-BIC model is labeled:

- **Pattern EM** (the table was collected — categorical-only inputs
  always probe; mixed inputs probe when their ROW count fits under the
  threshold): the row likelihood depends on the row only through its
  pattern, so every iteration's sufficient statistics are exact
  functions of the weighted table. The loop runs driver-side in
  vectorized numpy, zero Spark jobs (poLCA iterates over the pattern
  table for the same reason); gaussian factors ride the same weighted
  arrays. The whole k x restart grid costs one shuffle.
- **Distributed EM** (too many patterns, or a mixed input above the
  threshold): code maps and n are computed and the input cached once
  per selection. Per iteration ONE map-only job: E-step, log-sum-exp
  responsibilities and every M-step sufficient statistic (class masses,
  per-(col, value) conditional masses, gaussian sum r*x / sum r*x^2)
  are one SQL string ending in a single-row map-side-combined aggregate
  (~10 py4j round-trips, vs ~6.5k for a Column-API build — profiled);
  parameter literals are codegen-stable (folded maps + _sql_dw) so the
  compiled loop body is reused. A width guard falls back to a melt +
  groupBy M-step when k * total answer options would make the aggregate
  row pathologically wide.
- **One E-step**: ``_estep_sql`` is the per-class log-joint of the
  distributed loop, of its final log-likelihood (the loop's SQL
  log-sum-exp under the post-update parameters) and of the winner's
  labels (``F.expr`` over the same text: a lazy, map-only argmax).
- **Converge**: stop when the total log-likelihood improves < tol.
- **Selection**: min BIC over k x seeded restarts (poLCA semantics),
  first wins ties. BIC = -2 logL + p ln n with p = (k-1) +
  k * sum_col(|values_col| - 1) + 2k * |num_cols|.

Documented delta: poLCA's EM + Newton-Raphson hybrid and R's RNG are
not reproducible bit-for-bit; tests assert model recovery on planted
mixtures (ARI) and BIC monotonicity, not label identity (SURVEY §7).

Scale notes (100 TB design): the pattern path does one shuffle TOTAL
with schema-bound output; the distributed path does one map-only
single-row aggregate per iteration (map-side combined, nothing
row-scale reaches the driver). Driver holds only theta (KB) and, in
the pattern path, the pattern table (bounded by ``pattern_threshold``).
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.ml import features as FE
from qudo_etl_pipeline_spark.plans.melt import melt


_VAR_FLOOR = 1e-6
_LOG_2PI = math.log(2.0 * math.pi)


def _sql_d(v: float) -> str:
    """Exact double literal as SQL text (string cast round-trips)."""
    return f"CAST('{v!r}' AS DOUBLE)"


def _sql_s(v) -> str:
    """Escaped SQL string literal."""
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def _sql_dw(v: float) -> str:
    """Double literal WRAPPED so codegen treats it as a reference
    object: a primitive literal is inlined into the generated Java
    source, so a plan whose only change is a parameter value recompiles
    (~0.4 s of Janino per EM iteration); a constant-folded ARRAY
    literal lands in the plan's references array instead, keeping the
    generated source byte-identical across iterations — Janino's
    source-keyed cache then compiles the EM loop body once per fit."""
    return f"element_at(array({_sql_d(v)}), 1)"


def _estep_sql(
    cols: list[str],
    num_cols: list[str],
    k: int,
    pi: list[float],
    theta: list[dict[str, dict[str, float]]],
    mu: list[dict[str, float]],
    var: list[dict[str, float]],
    floor: float,
) -> list[str]:
    """The per-class log-joint as SQL text — the driver emits ONE string
    per EM iteration instead of thousands of py4j Column calls (the
    profiled cost of the literal-expression E-step was ~6.5k JVM
    round-trips per iteration). All parameter literals are emitted in
    codegen-stable form (folded map literals for theta, _sql_dw-wrapped
    scalars) so every iteration reuses one compiled loop body."""
    out = []
    log_floor = _sql_d(math.log(floor))
    for c_i in range(k):
        parts = [_sql_dw(math.log(max(pi[c_i], floor)))]
        for c in cols:
            entries = ", ".join(
                f"{_sql_s(v)}, {_sql_d(math.log(max(p, floor)))}"
                for v, p in theta[c_i][c].items()
            )
            parts.append(
                f"coalesce(element_at(map({entries}),"
                f" CAST(`{c}` AS STRING)), {log_floor})"
            )
        for c in num_cols:
            v = max(var[c_i][c], _VAR_FLOOR)
            const = _sql_dw(-0.5 * (_LOG_2PI + math.log(v)))
            m = _sql_dw(mu[c_i][c])
            tv = _sql_dw(2.0 * v)
            x = f"CAST(`{c}` AS DOUBLE)"
            parts.append(f"({const} - ({x} - {m}) * ({x} - {m}) / {tv})")
        out.append(" + ".join(parts))
    return out


def _lse_sql(k: int) -> str:
    """Numerically-stable log-sum-exp over the _lp0.._lp{k-1} columns."""
    mx = "greatest(" + ", ".join(f"_lp{i}" for i in range(k)) + ")"
    return (
        f"({mx} + ln("
        + " + ".join(f"exp(_lp{i} - {mx})" for i in range(k))
        + "))"
    )


def _init_theta(
    rng: np.random.Generator, cols: list[str], values: dict[str, list], k: int
) -> list[dict[str, dict[str, float]]]:
    """Seeded random multinomial init — identical rng consumption order
    on both execution paths so pattern EM and distributed EM start from
    the same parameters for the same seed."""
    theta: list[dict[str, dict[str, float]]] = []
    for _ in range(k):
        cls = {}
        for c in cols:
            raw = rng.random(len(values[c])) + 0.5
            raw /= raw.sum()
            cls[c] = {v: float(p) for v, p in zip(values[c], raw)}
        theta.append(cls)
    return theta


def _values_from_patterns(pat: list, cols: list[str]) -> dict[str, list]:
    """Distinct non-null values per column from the pattern table —
    same key set and sort order as the sorted code maps of
    ``build_code_maps(df, cols)`` (one fewer Spark job)."""
    vals: dict[str, set] = {c: set() for c in cols}
    for r in pat:
        for c in cols:
            v = r[c]
            if v is not None:
                vals[c].add(v)
    return {c: sorted(vals[c]) for c in cols}


def _em_patterns(
    pat: list,
    cols: list[str],
    values: dict[str, list],
    k: int,
    seed: int,
    max_iter: int,
    tol: float,
    smoothing: float,
    floor: float,
    num_cols: list[str] | None = None,
) -> dict:
    """Vectorized EM over weighted patterns — exactly the row-wise EM's
    sufficient statistics (each pattern stands for ``_w`` identical
    rows), so it converges to the same parameters as the distributed
    loop up to float association order. Zero Spark jobs.

    With ``num_cols`` (the mixed model, dispatched when the full
    pattern table including the numeric columns fit under the
    threshold) the per-class gaussian factors ride the same weighted
    arrays: quantile-spread init and sum r*x / sum r*x^2 updates mirror
    the distributed path's formulas."""
    num_cols = list(num_cols or [])
    P = len(pat)
    w = np.array([r["_w"] for r in pat], dtype=float)
    n = float(w.sum())
    idx = {c: {v: i for i, v in enumerate(values[c])} for c in cols}
    # slot |values[c]| encodes null/unseen -> log(floor), mass discarded
    X = {
        c: np.array(
            [idx[c].get(r[c], len(values[c])) for r in pat], dtype=np.int64
        )
        for c in cols
    }
    XN = {
        c: np.array(
            [float(r[c]) if r[c] is not None else np.nan for r in pat]
        )
        for c in num_cols
    }
    rng = np.random.default_rng(seed)
    pi = np.full(k, 1.0 / k)
    theta0 = _init_theta(rng, cols, values, k)
    T = {
        c: np.array([[theta0[i][c][v] for v in values[c]] for i in range(k)])
        for c in cols
    }
    # gaussian init: weighted-quantile spread + seeded jitter — same
    # formula (and rng consumption order) as the distributed loop's
    # percentile_approx/var_pop init
    MU = np.zeros((k, len(num_cols)))
    VAR = np.ones((k, len(num_cols)))
    if num_cols:
        probs = [(2 * i + 1) / (2 * k) for i in range(k)]
        for ci, c in enumerate(num_cols):
            x = XN[c]
            mean = float((w * x).sum() / n)
            g_var = max(float((w * (x - mean) ** 2).sum() / n), _VAR_FLOOR)
            order = np.argsort(x)
            cum = np.cumsum(w[order])
            quants = [
                float(x[order][np.searchsorted(cum, q * n)]) for q in probs
            ]
            jitter = 0.1 * math.sqrt(g_var)
            for c_i in range(k):
                MU[c_i][ci] = quants[c_i] + float(rng.normal()) * jitter
                VAR[c_i][ci] = g_var

    def _logp() -> np.ndarray:
        lp = np.repeat(
            np.log(np.maximum(pi, floor))[:, None], P, axis=1
        )
        for c in cols:
            L = np.concatenate(
                [
                    np.log(np.maximum(T[c], floor)),
                    np.full((k, 1), math.log(floor)),
                ],
                axis=1,
            )
            lp = lp + L[:, X[c]]
        for ci, c in enumerate(num_cols):
            v = np.maximum(VAR[:, ci], _VAR_FLOOR)  # (k,)
            lp = lp + (
                -0.5 * (_LOG_2PI + np.log(v))[:, None]
                - (XN[c][None, :] - MU[:, ci][:, None]) ** 2
                / (2.0 * v)[:, None]
            )
        return lp

    loglik = -math.inf
    n_iter = 0
    for it in range(max_iter):
        n_iter = it + 1
        lp = _logp()
        mx = lp.max(axis=0)
        lse = mx + np.log(np.exp(lp - mx).sum(axis=0))
        resp = np.exp(lp - lse)  # (k, P)
        new_ll = float((w * lse).sum())
        mass = resp * w
        class_mass = mass.sum(axis=1)
        pi = class_mass / n
        denom = np.maximum(class_mass, floor)
        for ci, c in enumerate(num_cols):
            sx = (mass * XN[c][None, :]).sum(axis=1)
            sxx = (mass * (XN[c] ** 2)[None, :]).sum(axis=1)
            new_mu = sx / denom
            MU[:, ci] = new_mu
            VAR[:, ci] = np.maximum(sxx / denom - new_mu**2, _VAR_FLOOR)
        for c in cols:
            V = len(values[c])
            M = np.vstack(
                [
                    np.bincount(X[c], weights=mass[i], minlength=V + 1)
                    for i in range(k)
                ]
            )
            T[c] = (M[:, :V] + smoothing) / (
                class_mass[:, None] + smoothing * V
            )
        if new_ll - loglik < tol and it > 0:
            loglik = new_ll
            break
        loglik = new_ll

    # final loglik under the POST-update parameters (same convention as
    # the distributed path: BIC/AIC match the returned model)
    lp = _logp()
    mx = lp.max(axis=0)
    lse = mx + np.log(np.exp(lp - mx).sum(axis=0))
    loglik = float((w * lse).sum())

    theta = [
        {
            c: {v: float(T[c][i][vi]) for vi, v in enumerate(values[c])}
            for c in cols
        }
        for i in range(k)
    ]
    return {
        "pi": [float(p) for p in pi],
        "theta": theta,
        "mu": [
            {c: float(MU[i][ci]) for ci, c in enumerate(num_cols)}
            for i in range(k)
        ],
        "var": [
            {c: float(VAR[i][ci]) for ci, c in enumerate(num_cols)}
            for i in range(k)
        ],
        "loglik": loglik,
        "n_iter": n_iter,
    }


# above this many (class x answer-option) conditional-sum aggregates the
# fused single-row M-step falls back to the melt + groupBy shape
_FUSED_CELLS_MAX = 2000


def _em_distributed(
    df: DataFrame,
    view: str,
    cols: list[str],
    num_cols: list[str],
    values: dict[str, list],
    n: int,
    k: int,
    seed: int,
    max_iter: int,
    tol: float,
    smoothing: float,
    floor: float,
) -> dict:
    """Row-wise EM over the cached input ``df`` (its loop layout
    registered as ``view``): one Spark job per iteration (module
    docstring). Same seeded init and update formulas as _em_patterns,
    and the same returned parameter dict."""
    spark = df.sparkSession
    rng = np.random.default_rng(seed)
    pi = [1.0 / k] * k
    theta = _init_theta(rng, cols, values, k)

    # gaussian init: class means spread over the per-column quantiles
    # (one map-side-combined pass; k x |num_cols| driver-side floats).
    # Quantile spread beats mean-jitter for well-separated components —
    # two inits in one basin is a local optimum EM cannot escape.
    mu: list[dict[str, float]] = [{} for _ in range(k)]
    var: list[dict[str, float]] = [{} for _ in range(k)]
    if num_cols:
        probs = [(2 * i + 1) / (2 * k) for i in range(k)]
        g = df.agg(
            *[
                F.var_pop(F.col(c).cast("double")).alias(f"v_{c}")
                for c in num_cols
            ],
            *[
                F.percentile_approx(
                    F.col(c).cast("double"), probs, 10000
                ).alias(f"q_{c}")
                for c in num_cols
            ],
        ).collect()[0]
        for c in num_cols:
            g_var = max(float(g[f"v_{c}"] or 1.0), _VAR_FLOOR)
            quants = g[f"q_{c}"] or [0.0] * k
            jitter = 0.1 * math.sqrt(g_var)
            for c_i in range(k):
                mu[c_i][c] = float(quants[c_i]) + float(rng.normal()) * jitter
                var[c_i][c] = g_var

    # Fused M-step is viable when the single aggregate row stays narrow;
    # pathologically wide answer spaces fall back to melt + groupBy.
    fused = k * sum(len(values[c]) for c in cols) <= _FUSED_CELLS_MAX

    # Iteration-constant SQL fragments: E-step responsibilities + every
    # M-step sufficient statistic as conditional sums in a single-row,
    # map-side-combined aggregate — ONE Spark job and a handful of py4j
    # calls per EM round. No melt shuffle, no per-iteration cache churn.
    base_cols = ", ".join(f"`{c}`" for c in [*cols, *num_cols])
    lse = _lse_sql(k)
    rs = ", ".join(f"exp(_lp{i} - _ll) AS _r{i}" for i in range(k))
    aggs = ["sum(_ll) AS ll"]
    aggs += [f"sum(_r{i}) AS n{i}" for i in range(k)]
    for i in range(k):
        for c in num_cols:
            x = f"CAST(`{c}` AS DOUBLE)"
            aggs.append(f"sum(_r{i} * {x}) AS `sx_{i}_{c}`")
            aggs.append(f"sum(_r{i} * {x} * {x}) AS `sxx_{i}_{c}`")
    if fused:
        for ci, c in enumerate(cols):
            cs = f"CAST(`{c}` AS STRING)"
            for vi, v in enumerate(values[c]):
                cond = f"{cs} = {_sql_s(v)}"
                for i in range(k):
                    aggs.append(
                        f"sum(CASE WHEN {cond} THEN _r{i} END)"
                        f" AS m_{i}_{ci}_{vi}"
                    )
    agg_list = ", ".join(aggs)

    loglik = -math.inf
    n_iter = 0
    for it in range(max_iter):
        n_iter = it + 1
        lp = _estep_sql(cols, num_cols, k, pi, theta, mu, var, floor)
        lp_sel = ", ".join(f"({s}) AS _lp{i}" for i, s in enumerate(lp))
        inner_sql = (
            f"SELECT {base_cols}, _ll, {rs} FROM ("
            f"  SELECT *, {lse} AS _ll FROM ("
            f"    SELECT {base_cols + ', ' if base_cols else ''}"
            f"           {lp_sel} FROM {view}))"
        )
        agg_row = spark.sql(
            f"SELECT {agg_list} FROM ({inner_sql})"
        ).collect()[0]
        new_ll = agg_row["ll"]
        class_mass = [agg_row[f"n{i}"] for i in range(k)]
        for c_i in range(k):
            m = max(class_mass[c_i], floor)
            for c in num_cols:
                new_mu = agg_row[f"sx_{c_i}_{c}"] / m
                mu[c_i][c] = new_mu
                var[c_i][c] = max(
                    agg_row[f"sxx_{c_i}_{c}"] / m - new_mu * new_mu,
                    _VAR_FLOOR,
                )
        mass: dict[tuple[int, str, str], float] = {}
        if fused:
            for ci, c in enumerate(cols):
                for vi, v in enumerate(values[c]):
                    for i in range(k):
                        got = agg_row[f"m_{i}_{ci}_{vi}"]
                        if got is not None:
                            mass[(i, c, v)] = got
        elif cols:
            # fallback M-step for very wide answer spaces: melt + one
            # groupBy shuffle (cell-table output cardinality) — a second
            # job per iteration, but only on inputs whose answer space
            # exceeds _FUSED_CELLS_MAX
            long = melt(
                spark.sql(inner_sql).select(
                    *[f"_r{i}" for i in range(k)], *cols
                ),
                id_vars=[f"_r{i}" for i in range(k)],
                value_vars=cols,
            )
            cell_rows = (
                long.groupBy("variable", "value")
                .agg(*[F.sum(f"_r{i}").alias(f"m{i}") for i in range(k)])
                .collect()
            )
            for r in cell_rows:
                for c_i in range(k):
                    mass[(c_i, r["variable"], str(r["value"]))] = r[f"m{c_i}"]
        pi = [m / n for m in class_mass]
        for c_i in range(k):
            for c in cols:
                denom = class_mass[c_i] + smoothing * len(values[c])
                theta[c_i][c] = {
                    v: (mass.get((c_i, c, v), 0.0) + smoothing) / denom
                    for v in values[c]
                }
        if new_ll - loglik < tol and it > 0:
            break
        loglik = new_ll

    # final log-likelihood under the POST-update parameters (the loop's
    # running loglik is measured under the pre-update ones), so the BIC
    # that selects a model matches the returned model
    lp = _estep_sql(cols, num_cols, k, pi, theta, mu, var, floor)
    loglik = (
        df.selectExpr(*[f"({s}) AS _lp{i}" for i, s in enumerate(lp)])
        .selectExpr(f"sum({lse}) AS ll")
        .collect()[0]["ll"]
    )
    return {
        "pi": pi,
        "theta": theta,
        "mu": mu,
        "var": var,
        "loglik": loglik,
        "n_iter": n_iter,
    }


def _prepare(
    df: DataFrame, cols: list[str], num_cols: list[str], threshold: int
) -> tuple[DataFrame, list | None, dict[str, list], int]:
    """Entry normalization and the pattern probe, once per selection.

    Categorical values are modeled AS STRINGS on both execution paths
    (a raw pattern collect would keep native types, giving a different
    value sort order — int 10 < 2 lexicographically — and therefore
    different seeded inits across the path threshold). poLCA/depmixS4
    drop incomplete rows (na.rm); a NULL numeric would otherwise NaN the
    pattern fit and bias pi on the distributed path. Returns (df, pat,
    values, n): ``pat`` is None on the distributed path, where the
    values come from one code-map pass and ``n`` from one count."""
    if not cols and not num_cols:
        raise ValueError("lca_fit: no columns to model")
    cat_set = set(cols)
    df = df.select(
        *[
            F.col(c).cast("string").alias(c) if c in cat_set else F.col(c)
            for c in df.columns
        ]
    )
    for c in num_cols:
        df = df.filter(F.col(c).isNotNull())
    pat, n = FE.pattern_table(df, cols, num_cols, threshold=threshold)
    if pat is not None:
        values = _values_from_patterns(pat, cols)
        n = sum(r["_w"] for r in pat)
    else:
        values = (
            {c: sorted(m) for c, m in FE.build_code_maps(df, cols)[0].items()}
            if cols
            else {}
        )
        if n is None:
            n = df.count()
    if n == 0:
        raise ValueError("lca_fit: empty input")
    return df, pat, values, n


def _select(
    df: DataFrame,
    cols: list[str],
    num_cols: list[str],
    ks: list[int],
    seeds: list[int],
    max_iter: int,
    tol: float,
    smoothing: float,
    threshold: int,
) -> dict:
    """Fit every (k, seed) over ONE prepared input and finalize the
    min-BIC model (first wins ties) — ``lca_fit`` is the one-model case."""
    floor = 1e-12
    df, pat, values, n = _prepare(df, cols, num_cols, threshold)
    view = None
    if pat is None:
        df = df.cache()
        # The per-iteration aggregate is latency-bound, not throughput-
        # bound, on small inputs: near-empty tasks per job cost more than
        # the arithmetic. Tiny cached inputs collapse to one partition for
        # the loop (row-independent sums — semantics unchanged); large
        # inputs keep their layout and scale across executors. (Measured
        # dead end: running the small loop interpreted to skip per-
        # iteration Janino compiles is 2.5x SLOWER than compiled eval.)
        view = f"_lca_in_{id(df)}"
        (df.coalesce(1) if n <= 200_000 else df).createOrReplaceTempView(view)
    try:
        best = None
        for k in ks:
            # free parameters of the (multinomial x gaussian) mixture
            n_params = (
                (k - 1)
                + k * sum(len(values[c]) - 1 for c in cols)
                + k * 2 * len(num_cols)
            )
            for seed in seeds:
                if pat is not None:
                    em = _em_patterns(
                        pat, cols, values, k, seed, max_iter, tol,
                        smoothing, floor, num_cols=num_cols,
                    )
                else:
                    em = _em_distributed(
                        df, view, cols, num_cols, values, n, k, seed,
                        max_iter, tol, smoothing, floor,
                    )
                bic = -2 * em["loglik"] + n_params * math.log(n)
                if best is None or bic < best["bic"]:
                    best = em | {
                        "bic": bic, "n_params": n_params, "k": k, "seed": seed
                    }
    finally:
        if view is not None:
            df.sparkSession.catalog.dropTempView(view)
            df.unpersist()
    return _finalize(df, cols, num_cols, best, floor)


def _finalize(
    df: DataFrame, cols: list[str], num_cols: list[str], fit: dict, floor: float
) -> dict:
    """The winning model's labels — a lazy, map-only argmax over the
    SAME SQL E-step the distributed loop runs — plus AIC."""
    k = fit["k"]
    lp = _estep_sql(
        cols, num_cols, k, fit["pi"], fit["theta"], fit["mu"], fit["var"],
        floor,
    )
    scored = df.select(
        "*", *[F.expr(s).alias(f"_lp{i}") for i, s in enumerate(lp)]
    )
    pred = F.lit(0)
    best = F.col("_lp0")
    for i in range(1, k):
        pred = F.when(F.col(f"_lp{i}") > best, i).otherwise(pred)
        best = F.greatest(best, F.col(f"_lp{i}"))
    labels = scored.withColumn("prediction", pred).drop(
        *[f"_lp{i}" for i in range(k)]
    )
    return {
        "labels": labels,
        "pi": fit["pi"],
        "theta": fit["theta"],
        "mu": fit["mu"],
        "var": fit["var"],
        "loglik": fit["loglik"],
        "bic": fit["bic"],
        "aic": -2 * fit["loglik"] + 2 * fit["n_params"],
        "n_params": fit["n_params"],
        "n_iter": fit["n_iter"],
        "k": k,
        "seed": fit["seed"],
    }


def lca_fit(
    df: DataFrame,
    cols: list[str],
    k: int,
    seed: int = 42,
    max_iter: int = 60,
    tol: float = 1e-4,
    smoothing: float = 1e-3,
    num_cols: list[str] | None = None,
    pattern_threshold: int = FE.PATTERN_THRESHOLD,
) -> dict:
    """One EM run. Returns dict(labels, pi, theta, loglik, bic, aic,
    n_params, n_iter, mu, var, k, seed).

    With ``num_cols`` this is the reference's MIXED-type branch
    (depmixS4 ``mix``, reference lca.R:54-101, dispatched when the
    feature set has numeric columns — clustering.py:862-867): an
    independent mixture whose per-class factors are multinomials for
    ``cols`` and gaussians (per-class mean/variance) for ``num_cols``.
    The gaussian sufficient statistics (sum r*x, sum r*x^2 per class)
    ride the SAME weighted arrays / single M-step aggregation as the
    class masses, so the mixed model adds no Spark work per iteration.
    """
    return _select(
        df, cols, list(num_cols or []), [k], [seed], max_iter, tol,
        smoothing, pattern_threshold,
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

    The input is prepared once for the whole grid: on the pattern path
    the full selection costs one Spark shuffle plus the winning model's
    lazy labeling pass, regardless of |ks| x n_rep."""
    return _select(
        df, cols, list(num_cols or []), ks or list(range(3, 9)),
        [seed + rep for rep in range(n_rep)], max_iter, 1e-4, 1e-3,
        FE.PATTERN_THRESHOLD,
    )
