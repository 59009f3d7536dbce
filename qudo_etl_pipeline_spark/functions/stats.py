"""Statistical scalar functions with no scipy dependency.

The reference computes chi-squared p-values with
``scipy.stats.chi2_contingency`` (reference chisquared_tester.py:331-379).
scipy is not available here, so the survival function is implemented from
the regularized incomplete gamma function (series + continued-fraction
evaluation, the classic public-domain approach from Abramowitz & Stegun
§6.5 / Numerical Recipes). Vectorized with numpy; a plain driver-side
callable over small aggregated tables.

Accuracy: relative error < 1e-10 vs scipy on the tested grid
(tests/test_stats.py) — far below the 0.05/Bonferroni decision
thresholds the pipeline uses.
"""

from __future__ import annotations

import math

import numpy as np

_MAX_ITER = 500
_EPS = 3.0e-12


def _gamma_series(a: float, x: float) -> float:
    """Lower regularized incomplete gamma P(a, x) by series expansion (x < a+1)."""
    if x <= 0.0:
        return 0.0
    ap = a
    total = 1.0 / a
    delta = total
    for _ in range(_MAX_ITER):
        ap += 1.0
        delta *= x / ap
        total += delta
        if abs(delta) < abs(total) * _EPS:
            break
    return total * math.exp(-x + a * math.log(x) - math.lgamma(a))


def _gamma_cf(a: float, x: float) -> float:
    """Upper regularized incomplete gamma Q(a, x) by continued fraction (x >= a+1)."""
    tiny = 1.0e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, _MAX_ITER + 1):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _EPS:
            break
    return h * math.exp(-x + a * math.log(x) - math.lgamma(a))


def gammainc_upper(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x) = 1 - P(a, x)."""
    if x < 0.0 or a <= 0.0:
        return float("nan")
    if x == 0.0:
        return 1.0
    if x < a + 1.0:
        return 1.0 - _gamma_series(a, x)
    return _gamma_cf(a, x)


def chi2_sf(x, df):
    """Survival function of the chi-squared distribution: P(X >= x) with df dof.

    Accepts scalars or array-likes; returns float or np.ndarray. Degenerate
    inputs (df <= 0 or non-finite stat) return p = 1.0, matching the
    reference's p->1.0 fallback on failed tests (chisquared_tester.py:376-377).
    """
    x_arr, df_arr = np.broadcast_arrays(
        np.atleast_1d(np.asarray(x, dtype=np.float64)),
        np.atleast_1d(np.asarray(df, dtype=np.float64)),
    )
    out_shape = x_arr.shape
    out = np.ones_like(x_arr)
    for i in range(x_arr.size):
        xi, ki = x_arr.flat[i], df_arr.flat[i]
        if not (np.isfinite(xi) and ki > 0):
            out.flat[i] = 1.0
        elif xi <= 0:
            out.flat[i] = 1.0
        else:
            out.flat[i] = min(1.0, max(0.0, gammainc_upper(ki / 2.0, xi / 2.0)))
    if np.isscalar(x) and np.isscalar(df):
        return float(out[0])
    return out.reshape(out_shape)


def z_threshold(target: float, lo: float = 0.0, hi: float = 50.0) -> float:
    """Smallest |z| with ``chi2_sf(z^2, 1) <= target`` by bisection.

    The dof=1 cell-significance test ``chi2_sf(z^2, 1) <= alpha/m`` is
    monotone in |z|, so it is equivalent to ``|z| >= z_threshold(alpha/m)``
    — one threshold shared by the driver-side finalizer and the DuckDB
    oracles, which have no erfc. 200 iterations give a ~1e-13-wide
    bracket, far below the 3-decimal rounding of the residuals compared
    against it.
    """
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if chi2_sf(mid * mid, 1.0) > target:
            lo = mid
        else:
            hi = mid
    return hi
