"""Latent Class Analysis: multinomial-mixture EM over answer patterns.

The reference runs R's poLCA for all-categorical inputs (reference:
src/kraken/app/lca.R:13-52 — k in 3..8, nrep random restarts, min-BIC
pick) and depmixS4's ``mix`` for MIXED numeric+categorical inputs
(lca.R:54-101: independent mixture with multinomial factors for
categoricals and gaussian mean/variance factors for numerics, k in
2..8, min BIC — dispatched at clustering.py:862-867 when the feature
set is the kprototypes kind). Both are invoked via rpy2 from
clustering.py:834-904. There is no JVM/MLlib equivalent; this module
implements both models — a finite mixture of independent per-column
factors — as one EM loop over weighted answer patterns.

One path fits and selects: ``lca_table`` fits a (k, seed) grid over the
rows of a ``features.scheme_table``, the table ``ml.kmodes`` reads too:
the exact table up to its threshold, a priority sample with
Horvitz-Thompson weights above it. The rows are grouped to their
(answer pattern, count) table once, categorical answers as strings and
rows with a NULL numeric dropped (poLCA/depmixS4 na.rm). Every (k, seed)
runs the same EM, and the min-BIC model comes back with its row
expression ``label``. ``catalog.ml_q.lca_select`` and ``lca_fit`` (its
one-model case) are one scheme-table read of a frame, that fit and its
labels:

- **Pattern EM**: the row likelihood depends on the row only through
  its pattern, so every iteration's sufficient statistics are exact
  functions of the weighted table. The loop runs driver-side in
  vectorized numpy, zero Spark jobs (poLCA iterates over the pattern
  table for the same reason); gaussian factors ride the same weighted
  arrays. The whole k x restart grid costs the table's shuffle.
- **Labels**: ``_estep_sql`` is the per-class log-joint as SQL text;
  ``label`` is ``F.expr`` over it, a map-only argmax over any frame
  with the model's columns — every row lazily, or a pattern table.
- **Converge**: stop when the total log-likelihood improves < tol.
- **Selection**: min BIC over k x seeded restarts (poLCA semantics),
  first wins ties. BIC = -2 logL + p ln n with p = (k-1) +
  k * sum_col(|values_col| - 1) + 2k * |num_cols|, n the table's total
  weight.

Documented delta: poLCA's EM + Newton-Raphson hybrid and R's RNG are
not reproducible bit-for-bit; tests assert model recovery on planted
mixtures (ARI) and BIC monotonicity, not label identity (SURVEY §7).

Scale notes (100 TB design): a selection costs the scheme table's
shuffle, with schema-bound output; the driver holds theta (KB) and at
most ``features.PATTERN_THRESHOLD`` patterns at any input size.
Labelling is one map-only pass.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.ml import features as FE


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
    (~0.4 s of Janino each); a constant-folded ARRAY literal lands in
    the plan's references array instead, keeping the generated source
    byte-identical across fitted parameters — Janino's source-keyed
    cache then compiles the labelling pass once per model shape."""
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
    per class instead of thousands of py4j Column calls (the profiled
    cost of a literal-expression E-step was ~6.5k JVM round-trips).
    All parameter literals are emitted in codegen-stable form (folded
    map literals for theta, _sql_dw-wrapped scalars)."""
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


def _init_theta(
    rng: np.random.Generator, cols: list[str], values: dict[str, list], k: int
) -> list[dict[str, dict[str, float]]]:
    """Seeded random multinomial init, in value sort order."""
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
    """Sorted distinct non-null values per column of the pattern table."""
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
    rows). Zero Spark jobs.

    With ``num_cols`` (the mixed model) the per-class gaussian factors
    ride the same weighted arrays: quantile-spread init and
    sum r*x / sum r*x^2 updates."""
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
    # gaussian init: weighted-quantile spread + seeded jitter. Quantile
    # spread beats mean-jitter for well-separated components — two inits
    # in one basin is a local optimum EM cannot escape.
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

    # final loglik under the POST-update parameters (the loop's running
    # loglik is measured under the pre-update ones), so the BIC that
    # selects a model matches the returned model
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


def _patterns(
    rows: list[dict], cols: list[str], num_cols: list[str]
) -> tuple[list[dict], dict[str, list], float]:
    """The (pattern, ``_w``) table of scheme-table rows, once per
    selection: rows with a NULL numeric dropped (poLCA/depmixS4 drop
    incomplete rows, na.rm; a NULL numeric would NaN the fit) and
    categorical values as strings, as the labelling pass casts them
    (native values would sort differently — int 10 < 2 as strings — and
    so seed different inits). Returns (pat, values, n), ``n`` the
    table's total weight."""
    if not cols and not num_cols:
        raise ValueError("lca_fit: no columns to model")
    complete = [r for r in rows if all(r[c] is not None for c in num_cols)]
    pat = FE.group_patterns(complete, [*cols, *num_cols])
    for p in pat:
        for c in cols:
            p[c] = None if p[c] is None else str(p[c])
    n = sum(p["_w"] for p in pat)
    if n == 0:
        raise ValueError("lca_fit: empty input")
    return pat, _values_from_patterns(pat, cols), n


def lca_table(
    rows: list[dict],
    cols: list[str],
    ks: list[int],
    seeds: list[int],
    max_iter: int = 60,
    tol: float = 1e-4,
    smoothing: float = 1e-3,
    num_cols: list[str] | None = None,
) -> dict:
    """Fit every (k, seed) over the scheme-table ``rows`` (raw or coded)
    and keep the min-BIC model (first wins ties). Zero Spark jobs.
    Returns dict(label, pi, theta, loglik, bic, aic, n_params, n_iter,
    mu, var, k, seed); ``label`` maps a frame holding the model's
    columns to its complete rows with a ``prediction`` column."""
    floor = 1e-12
    num_cols = list(num_cols or [])
    pat, values, n = _patterns(rows, cols, num_cols)
    best = None
    for k in ks:
        # free parameters of the (multinomial x gaussian) mixture
        n_params = (
            (k - 1)
            + k * sum(len(values[c]) - 1 for c in cols)
            + k * 2 * len(num_cols)
        )
        for seed in seeds:
            em = _em_patterns(
                pat, cols, values, k, seed, max_iter, tol, smoothing, floor,
                num_cols=num_cols,
            )
            bic = -2 * em["loglik"] + n_params * math.log(n)
            if best is None or bic < best["bic"]:
                best = em | {
                    "bic": bic, "n_params": n_params, "k": k, "seed": seed
                }
    return best | {
        "label": _labeller(cols, num_cols, best, floor),
        "aic": -2 * best["loglik"] + 2 * best["n_params"],
    }


def _labeller(cols: list[str], num_cols: list[str], fit: dict, floor: float):
    """The model's labelling pass: the frame's complete rows, categorical
    columns as strings, with the argmax of the SQL E-step."""
    k = fit["k"]
    lp = _estep_sql(
        cols, num_cols, k, fit["pi"], fit["theta"], fit["mu"], fit["var"],
        floor,
    )
    cat_set = set(cols)

    def label(df: DataFrame) -> DataFrame:
        df = df.select(
            *[
                F.col(c).cast("string").alias(c) if c in cat_set else F.col(c)
                for c in df.columns
            ]
        )
        for c in num_cols:
            df = df.filter(F.col(c).isNotNull())
        scored = df.select(
            "*", *[F.expr(s).alias(f"_lp{i}") for i, s in enumerate(lp)]
        )
        pred = F.lit(0)
        best = F.col("_lp0")
        for i in range(1, k):
            pred = F.when(F.col(f"_lp{i}") > best, i).otherwise(pred)
            best = F.greatest(best, F.col(f"_lp{i}"))
        return scored.withColumn("prediction", pred).drop(
            *[f"_lp{i}" for i in range(k)]
        )

    return label
