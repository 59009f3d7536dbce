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
factors — as an EM loop where each step is a Spark plan:

Two execution strategies, picked by the data shape:

- **Pattern EM** (all-categorical inputs — the poLCA case): the row
  likelihood depends on the row only through its answer PATTERN, so the
  sufficient statistics of every EM iteration are exact functions of
  the (pattern, count) table. ONE distributed shuffle builds that table
  (`groupBy(*cols).count()` — output cardinality is bounded by the
  product of answer-option counts, independent of row count), then the
  whole EM loop runs driver-side in vectorized numpy over weighted
  patterns — mathematically identical to row-wise EM, zero per-
  iteration Spark jobs. poLCA itself iterates over the pattern table
  for the same reason. Restarts/k-scan (`lca_select`) reuse the ONE
  collected table, so model selection adds no Spark jobs at all beyond
  labeling the winning model. A cardinality guard
  (``pattern_threshold``) falls back to the distributed loop when the
  pattern space is too large to collect. MIXED inputs reuse the same
  machinery when the ROW count fits under the threshold (continuous
  columns join the pattern key, so patterns ~ rows there — the n-gate
  means no wasted probe shuffle at scale); gaussian factors ride the
  same weighted arrays.
- **Distributed EM** (mixed numeric+categorical above the threshold,
  or too many patterns): per iteration ONE map-only job — the whole
  round (E-step log-likelihoods, log-sum-exp responsibilities, and
  every M-step sufficient statistic: loglik, class masses,
  per-(col,value) conditional masses, gaussian sum r*x / sum r*x^2)
  is emitted as a single SQL string ending in a single-row map-side-
  combined aggregate of conditional sums. One ``spark.sql`` call per
  round (~10 py4j round-trips, vs ~6.5k for the Column-API build —
  profiled), no melt shuffle, no per-iteration cache churn; parameter
  literals are emitted codegen-stable (folded maps + _sql_dw) to reuse
  compiled loop bodies. A width guard falls back to the melt + groupBy
  M-step when k * total-answer-options would make the aggregate row
  pathologically wide.
- **Converge**: stop when the total log-likelihood improves < tol.
- **Restarts/selection**: `lca_select` refits over k in 3..8 x nrep
  seeded random initializations and keeps the min-BIC model
  (poLCA semantics). BIC = -2 logL + p ln n with
  p = (k-1) + k * sum_col(|values_col| - 1).

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.ml.features import build_code_maps
from qudo_etl_pipeline_spark.plans.melt import melt


def _log_theta_col(col: str, table: dict[str, float], floor: float) -> Column:
    entries = []
    for v, p in table.items():
        entries += [F.lit(v), F.lit(math.log(max(p, floor)))]
    m = F.create_map(*entries)
    return F.coalesce(
        m[F.col(col).cast("string")], F.lit(math.log(floor))
    )


_VAR_FLOOR = 1e-6
_LOG_2PI = math.log(2.0 * math.pi)


def _gauss_logpdf(col: str, mu: float, var: float) -> Column:
    """Per-row gaussian log-density as a column expression."""
    v = max(var, _VAR_FLOOR)
    x = F.col(col).cast("double")
    return (
        F.lit(-0.5 * (_LOG_2PI + math.log(v)))
        - (x - F.lit(mu)) * (x - F.lit(mu)) / F.lit(2.0 * v)
    )


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


def _estep_exprs(
    cols: list[str],
    num_cols: list[str],
    k: int,
    pi: list[float],
    theta: list[dict[str, dict[str, float]]],
    mu: list[dict[str, float]],
    var: list[dict[str, float]],
    floor: float,
) -> list[Column]:
    """Per-class log-joint column expressions (the Spark-side E-step)."""
    logp = []
    for c_i in range(k):
        expr = F.lit(math.log(max(pi[c_i], floor)))
        for c in cols:
            expr = expr + _log_theta_col(c, theta[c_i][c], floor)
        for c in num_cols:
            expr = expr + _gauss_logpdf(c, mu[c_i][c], var[c_i][c])
        logp.append(expr.alias(f"_lp{c_i}"))
    return logp


def _lse_col(k: int) -> Column:
    """Numerically-stable log-sum-exp over the _lp0.._lp{k-1} columns."""
    mx = F.greatest(*[F.col(f"_lp{i}") for i in range(k)])
    return mx + F.log(
        sum(
            (F.exp(F.col(f"_lp{i}") - mx) for i in range(1, k)),
            F.exp(F.col("_lp0") - mx),
        )
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


def _collect_patterns(
    df: DataFrame, cols: list[str], threshold: int
) -> list | None:
    """The (answer-pattern, count) table — the complete sufficient
    statistic of all-categorical LCA. One shuffle, output cardinality
    bounded by the answer-option product (row-count independent); the
    ``limit`` caps what can ever reach the driver, and an overflow
    returns None (caller falls back to distributed EM)."""
    rows = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("_w"))
        .limit(threshold + 1)
        .collect()
    )
    if len(rows) > threshold:
        return None
    return rows


def _values_from_patterns(pat: list, cols: list[str]) -> dict[str, list]:
    """Distinct non-null values per column from the pattern table —
    same key set and sort order as ``sorted(build_code_maps(df, cols))``
    (one fewer Spark job)."""
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
        "n": int(round(n)),
    }


def _n_params(
    k: int, values: dict[str, list], cols: list[str], num_cols: list[str]
) -> int:
    """Free-parameter count of the (multinomial x gaussian) mixture —
    ONE definition shared by _finalize and the model-selection loops so
    the BIC used to pick a model always matches the BIC it reports."""
    return (
        (k - 1)
        + k * sum(len(values[c]) - 1 for c in cols)
        + k * 2 * len(num_cols)
    )


def _finalize(
    df: DataFrame,
    cols: list[str],
    num_cols: list[str],
    values: dict[str, list],
    k: int,
    seed: int,
    pi: list[float],
    theta: list[dict[str, dict[str, float]]],
    mu: list[dict[str, float]],
    var: list[dict[str, float]],
    loglik: float,
    n: int,
    n_iter: int,
    floor: float,
) -> dict:
    """Labels (lazy, map-only argmax over the final E-step) + BIC/AIC."""
    logp = _estep_exprs(cols, num_cols, k, pi, theta, mu, var, floor)
    scored = df.select("*", *logp)
    pred = F.lit(0)
    best = F.col("_lp0")
    for i in range(1, k):
        pred = F.when(F.col(f"_lp{i}") > best, i).otherwise(pred)
        best = F.greatest(best, F.col(f"_lp{i}"))
    labels = scored.withColumn("prediction", pred).drop(
        *[f"_lp{i}" for i in range(k)]
    )
    n_params = _n_params(k, values, cols, num_cols)
    return {
        "labels": labels,
        "pi": pi,
        "theta": theta,
        "mu": mu,
        "var": var,
        "loglik": loglik,
        "bic": -2 * loglik + n_params * math.log(n),
        "aic": -2 * loglik + 2 * n_params,
        "n_params": n_params,
        "n_iter": n_iter,
        "k": k,
        "seed": seed,
    }


# above this many (class x answer-option) conditional-sum aggregates the
# fused single-row M-step falls back to the melt + groupBy shape
_FUSED_CELLS_MAX = 2000
# pattern tables larger than this are not collected (distributed EM runs
# instead) — bounds driver memory at any input cardinality
_PATTERN_THRESHOLD = 200_000


def lca_fit(
    df: DataFrame,
    cols: list[str],
    k: int,
    seed: int = 42,
    max_iter: int = 60,
    tol: float = 1e-4,
    smoothing: float = 1e-3,
    num_cols: list[str] | None = None,
    pattern_threshold: int = _PATTERN_THRESHOLD,
) -> dict:
    """One EM run. Returns dict(labels, pi, theta, loglik, bic, aic,
    n_params, n_iter[, mu, var]).

    All-categorical inputs dispatch to pattern EM (module docstring):
    one shuffle total, EM in numpy over the weighted pattern table.

    With ``num_cols`` this is the reference's MIXED-type branch
    (depmixS4 ``mix``, reference lca.R:54-101, dispatched when the
    feature set has numeric columns — clustering.py:862-867): an
    independent mixture whose per-class factors are multinomials for
    ``cols`` and gaussians (per-class mean/variance) for ``num_cols``.
    The gaussian sufficient statistics (sum r*x, sum r*x^2 per class)
    ride the SAME single M-step aggregation as the class masses, so the
    mixed model adds zero shuffles over the categorical one.
    """
    floor = 1e-12
    num_cols = list(num_cols or [])
    if not cols and not num_cols:
        raise ValueError("lca_fit: no columns to model")
    # categorical values are modeled AS STRINGS on both execution paths:
    # the distributed path melts (string casts) while the raw pattern
    # collect would keep native types, giving a different value sort
    # order (int 10 < 2 lexicographically) and therefore different
    # seeded inits across the path threshold
    cat_set = set(cols)
    df = df.select(
        *[
            F.col(c).cast("string").alias(c) if c in cat_set else F.col(c)
            for c in df.columns
        ]
    )
    # poLCA/depmixS4 drop incomplete rows (na.rm); a NULL numeric would
    # otherwise NaN the whole pattern-path fit and silently bias pi on
    # the distributed path (the row leaves the statistics but not n)
    for c in num_cols:
        df = df.filter(F.col(c).isNotNull())

    n = None
    pat = None
    if cols and not num_cols:
        # categorical-only: the pattern space is bounded by the
        # answer-option product, so probing it is always safe
        pat = _collect_patterns(df, cols, pattern_threshold)
    elif num_cols:
        # mixed model: continuous columns make the pattern count ~n, so
        # only attempt the pattern path when the ROW count already fits
        # the threshold — no wasted probe shuffle at scale
        n = df.count()
        if n <= pattern_threshold:
            pat = _collect_patterns(
                df, [*cols, *num_cols], pattern_threshold
            )
    if pat is not None:
        if not pat:
            raise ValueError("lca_fit: empty input")
        values = _values_from_patterns(pat, cols) if cols else {}
        em = _em_patterns(
            pat, cols, values, k, seed, max_iter, tol, smoothing, floor,
            num_cols=num_cols,
        )
        return _finalize(
            df, cols, num_cols, values, k, seed,
            em["pi"], em["theta"], em["mu"], em["var"],
            em["loglik"], em["n"], em["n_iter"], floor,
        )

    values = (
        {c: sorted(m) for c, m in build_code_maps(df, cols).items()}
        if cols
        else {}
    )
    if n is None:
        n = df.count()
    if n == 0:
        raise ValueError("lca_fit: empty input")
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
    n_cell_aggs = k * sum(len(values[c]) for c in cols)
    fused = n_cell_aggs <= _FUSED_CELLS_MAX
    col_list = list(cols)

    df = df.cache()
    spark = df.sparkSession
    # The per-iteration aggregate is latency-bound, not throughput-bound,
    # on small inputs: 32 near-empty tasks per job cost more than the
    # arithmetic. Collapse tiny cached inputs to one partition for the
    # loop (row-independent sums — semantics unchanged); large inputs
    # keep their layout and scale across executors. (Measured dead end:
    # running the small loop interpreted to skip per-iteration Janino
    # compiles is 2.5x SLOWER than compiled eval here — interpreted
    # element_at/exp per row costs more than the compile it saves.)
    small = n <= 200_000
    loop_df = df.coalesce(1) if small else df
    view = f"_lca_in_{abs(hash((id(df), seed, k))) % 10**9}"
    loop_df.createOrReplaceTempView(view)

    # Iteration-constant SQL fragments: E-step responsibilities + every
    # M-step sufficient statistic as conditional sums in a single-row,
    # map-side-combined aggregate — ONE Spark job and a handful of py4j
    # calls per EM round. No melt shuffle, no per-iteration cache churn.
    base_cols = ", ".join(f"`{c}`" for c in [*col_list, *num_cols])
    mx = "greatest(" + ", ".join(f"_lp{i}" for i in range(k)) + ")"
    lse = (
        f"({mx} + ln("
        + " + ".join(f"exp(_lp{i} - {mx})" for i in range(k))
        + "))"
    )
    rs = ", ".join(f"exp(_lp{i} - _ll) AS _r{i}" for i in range(k))
    aggs = ["sum(_ll) AS ll"]
    aggs += [f"sum(_r{i}) AS n{i}" for i in range(k)]
    for i in range(k):
        for c in num_cols:
            x = f"CAST(`{c}` AS DOUBLE)"
            aggs.append(f"sum(_r{i} * {x}) AS `sx_{i}_{c}`")
            aggs.append(f"sum(_r{i} * {x} * {x}) AS `sxx_{i}_{c}`")
    if fused:
        for ci, c in enumerate(col_list):
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
    try:
        for it in range(max_iter):
            n_iter = it + 1
            lp = _estep_sql(cols, num_cols, k, pi, theta, mu, var, floor)
            lp_sel = ", ".join(
                f"({s}) AS _lp{i}" for i, s in enumerate(lp)
            )
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
                for ci, c in enumerate(col_list):
                    for vi, v in enumerate(values[c]):
                        for i in range(k):
                            got = agg_row[f"m_{i}_{ci}_{vi}"]
                            if got is not None:
                                mass[(i, c, v)] = got
            elif cols:
                # fallback M-step for very wide answer spaces: melt +
                # one groupBy shuffle (cell-table output cardinality) —
                # a second job per iteration, but only on inputs whose
                # answer space exceeds _FUSED_CELLS_MAX
                long = melt(
                    spark.sql(inner_sql).select(
                        *[f"_r{i}" for i in range(k)], *cols
                    ),
                    id_vars=[f"_r{i}" for i in range(k)],
                    value_vars=cols,
                )
                cell_rows = (
                    long.groupBy("variable", "value")
                    .agg(
                        *[F.sum(f"_r{i}").alias(f"m{i}") for i in range(k)]
                    )
                    .collect()
                )
                for r in cell_rows:
                    for c_i in range(k):
                        mass[(c_i, r["variable"], str(r["value"]))] = r[
                            f"m{c_i}"
                        ]
            pi = [m / n for m in class_mass]
            for c_i in range(k):
                for c in cols:
                    denom = class_mass[c_i] + smoothing * len(values[c])
                    theta[c_i][c] = {
                        v: (mass.get((c_i, c, v), 0.0) + smoothing) / denom
                        for v in values[c]
                    }
            if new_ll - loglik < tol and it > 0:
                loglik = new_ll
                break
            loglik = new_ll

        # Final E-step under the post-M-step parameters: labels AND the
        # reported log-likelihood come from the SAME parameter set, so the
        # BIC/AIC used by lca_select matches the returned model (the loop's
        # running loglik is measured under the pre-update parameters).
        logp = _estep_exprs(cols, num_cols, k, pi, theta, mu, var, floor)
        scored = df.select("*", *logp)
        loglik = scored.agg(F.sum(_lse_col(k)).alias("ll")).collect()[0]["ll"]
        return _finalize(
            df, cols, num_cols, values, k, seed, pi, theta, mu, var,
            loglik, n, n_iter, floor,
        )
    finally:
        spark.catalog.dropTempView(view)
        df.unpersist()


def lca_select(
    df: DataFrame,
    cols: list[str],
    ks: list[int] | None = None,
    n_rep: int = 3,
    seed: int = 42,
    max_iter: int = 60,
    num_cols: list[str] | None = None,
) -> dict:
    """poLCA-style selection (lca.R:13-52): refit over k x restarts,
    keep the minimum-BIC model. n_rep is a scaled-down nrep=100.

    With ``num_cols`` this is the mixed-type dispatch: the reference's
    depmixS4 branch scans k in 2..8 and keeps the min-BIC mixture
    (lca.R:90-99); pass ``ks=list(range(2, 9))`` for exact parity.

    All-categorical inputs collect the pattern table ONCE and fit the
    whole k x restart grid driver-side (pattern EM): the full model
    selection costs one Spark shuffle plus the winning model's lazy
    labeling pass, regardless of |ks| x n_rep."""
    ks = ks or list(range(3, 9))
    num_cols = list(num_cols or [])
    floor = 1e-12

    # the same entry normalization lca_fit applies (string cats, NULL
    # numerics dropped) so the pattern collected here feeds identical EM
    cat_set = set(cols)
    df = df.select(
        *[
            F.col(c).cast("string").alias(c) if c in cat_set else F.col(c)
            for c in df.columns
        ]
    )
    for c in num_cols:
        df = df.filter(F.col(c).isNotNull())

    # pattern path for BOTH model families: collect the sufficient
    # statistic ONCE and fit the whole k x restart grid driver-side —
    # per-(k, rep) lca_fit calls would redo the identical count +
    # pattern collect |ks| x n_rep times
    pat = None
    if cols and not num_cols:
        pat = _collect_patterns(df, cols, _PATTERN_THRESHOLD)
    elif num_cols and df.count() <= _PATTERN_THRESHOLD:
        pat = _collect_patterns(df, [*cols, *num_cols], _PATTERN_THRESHOLD)
    if pat:
        values = _values_from_patterns(pat, cols) if cols else {}
        best_em = None
        best_key = None
        for k in ks:
            for rep in range(n_rep):
                em = _em_patterns(
                    pat, cols, values, k, seed + rep, max_iter,
                    1e-4, 1e-3, floor, num_cols=num_cols,
                )
                bic = -2 * em["loglik"] + _n_params(
                    k, values, cols, num_cols
                ) * math.log(em["n"])
                if best_em is None or bic < best_em_bic:
                    best_em, best_em_bic = em, bic
                    best_key = (k, seed + rep)
        k, s = best_key
        return _finalize(
            df, cols, num_cols, values, k, s,
            best_em["pi"], best_em["theta"],
            best_em.get("mu") or [{} for _ in range(k)],
            best_em.get("var") or [{} for _ in range(k)],
            best_em["loglik"], best_em["n"], best_em["n_iter"], floor,
        )

    best = None
    for k in ks:
        for rep in range(n_rep):
            fit = lca_fit(
                df, cols, k, seed=seed + rep, max_iter=max_iter,
                num_cols=num_cols,
            )
            if best is None or fit["bic"] < best["bic"]:
                best = fit
    return best
