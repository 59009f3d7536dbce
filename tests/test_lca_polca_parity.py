"""LCA semantic parity with poLCA's published EM map (no R needed).

The reference pipeline fits LCA through R (reference:
src/kraken/app/lca.R:1-15 — poLCA with nrep=100), whose engine is poLCA.
R/rpy2 are absent in this environment, so exact numeric parity can't
be asserted — but the SEMANTIC delta can be bounded to zero: poLCA's
basic (no-covariate) model is defined by two published update
equations (Linzer & Lewis, "poLCA: An R Package for Polytomous
Variable Latent Class Analysis", J. Stat. Software 42(10), 2011,
eqs. 6-8):

    E-step:  resp[i,h] ∝ pi[i] * prod_j theta[i,j, y[h,j]]
    M-step:  pi[i]        = sum_h w[h] resp[i,h] / N
             theta[i,j,v] = sum_{h: y[h,j]=v} w[h] resp[i,h]
                            / sum_h w[h] resp[i,h]

This file implements those equations LITERALLY — per-observation,
probability-domain, no vectorization, no code shared with ml/lca.py —
and asserts that ``_em_patterns`` (the sufficient-statistic EM that
every ``lca_fit`` / ``lca_select`` runs, on the exact pattern table or
on its weighted priority sample) follows the same EM map from the same
start point: identical mixing weights, conditional probabilities, and
log-likelihood trajectory at float tolerance.

So pattern EM == the poLCA paper's update map. Known, documented
deltas vs poLCA remain: NULL answers
(poLCA drops the missing FACTOR contribution per row; lca_fit maps
null to a floored log-probability, discarding that row's mass from
the affected factor) — this differential therefore runs on complete
data, which is also the reference pipeline's input contract (NA fill
happens upstream in the reference's cleaning stage).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from qudo_etl_pipeline_spark.ml.lca import _em_patterns, _init_theta

K = 3
COLS = ["qa", "qb", "qc", "qd"]
SEED = 42
MAX_ITER = 25
TOL = 1e-10
FLOOR = 1e-300  # never binds on complete, non-degenerate data


def _planted_patterns():
    """A weighted pattern table with three planted answer classes —
    the exact sufficient statistic both implementations consume."""
    rng = np.random.default_rng(7)
    values = {c: ["v0", "v1", "v2"] for c in COLS}
    # class-conditional multinomials with a dominant answer per class
    true_theta = []
    for i in range(K):
        cls = {}
        for ci, c in enumerate(COLS):
            p = np.full(3, 0.15)
            # deterministic dominant slot (never hash(): PYTHONHASHSEED
            # would make the planted structure vary across processes)
            p[(i + ci) % 3] = 0.7
            cls[c] = p / p.sum()
        true_theta.append(cls)
    counts: dict[tuple, int] = {}
    for _ in range(600):
        i = rng.integers(K)
        row = tuple(
            values[c][rng.choice(3, p=true_theta[i][c])] for c in COLS
        )
        counts[row] = counts.get(row, 0) + 1
    pat = [
        dict(zip(COLS, row), _w=w) for row, w in sorted(counts.items())
    ]
    return pat, values


def _polca_em(pat, values, pi0, theta0):
    """Linzer-Lewis EM, straight from the paper: probability-domain
    per-pattern posteriors, count-weighted M-step, the same
    improvement-based stop rule and post-update final loglik
    convention as lca_fit documents."""
    pi = list(pi0)
    theta = [
        {c: dict(theta0[i][c]) for c in COLS} for i in range(K)
    ]
    w = [float(r["_w"]) for r in pat]
    n = sum(w)

    def joint_row(r):
        js = []
        for i in range(K):
            p = pi[i]
            for c in COLS:
                p *= theta[i][c][r[c]]
            js.append(p)
        return js

    def full_loglik():
        return sum(
            wh * math.log(sum(joint_row(r))) for r, wh in zip(pat, w)
        )

    loglik = -math.inf
    lls = []
    for it in range(MAX_ITER):
        # E-step (eq. 7): normalized posterior class membership
        resp = []
        new_ll = 0.0
        for r, wh in zip(pat, w):
            js = joint_row(r)
            tot = sum(js)
            new_ll += wh * math.log(tot)
            resp.append([j / tot for j in js])
        # M-step (eq. 8): weighted shares
        class_mass = [
            sum(wh * resp[h][i] for h, wh in enumerate(w))
            for i in range(K)
        ]
        pi = [m / n for m in class_mass]
        for i in range(K):
            for c in COLS:
                for v in values[c]:
                    num = sum(
                        wh * resp[h][i]
                        for h, (r, wh) in enumerate(zip(pat, w))
                        if r[c] == v
                    )
                    theta[i][c][v] = num / class_mass[i]
        lls.append(new_ll)
        if new_ll - loglik < TOL and it > 0:
            loglik = new_ll
            break
        loglik = new_ll
    return {
        "pi": pi,
        "theta": theta,
        "loglik": full_loglik(),
        "trajectory": lls,
    }


def test_pattern_em_implements_polca_update_map():
    pat, values = _planted_patterns()
    # shared start point: the library's seeded init, consumed once per
    # implementation with the same rng protocol
    theta0 = _init_theta(np.random.default_rng(SEED), COLS, values, K)
    pi0 = [1.0 / K] * K

    ours = _em_patterns(
        pat,
        COLS,
        values,
        K,
        seed=SEED,
        max_iter=MAX_ITER,
        tol=TOL,
        smoothing=0.0,  # poLCA does not smooth
        floor=FLOOR,
    )
    ref = _polca_em(pat, values, pi0, theta0)

    assert ours["n_iter"] == len(ref["trajectory"])
    assert ours["loglik"] == pytest.approx(ref["loglik"], rel=1e-9)
    for i in range(K):
        assert ours["pi"][i] == pytest.approx(ref["pi"][i], abs=1e-9)
        for c in COLS:
            for v in values[c]:
                assert ours["theta"][i][c][v] == pytest.approx(
                    ref["theta"][i][c][v], abs=1e-9
                ), (i, c, v)


def test_polca_mirror_recovers_planted_classes():
    """Sanity on the mirror itself: the literal poLCA EM recovers the
    planted dominant answers, so the parity above is a comparison
    between two working estimators, not two broken ones."""
    pat, values = _planted_patterns()
    theta0 = _init_theta(np.random.default_rng(SEED), COLS, values, K)
    ref = _polca_em(pat, values, [1.0 / K] * K, theta0)
    # each recovered class has ONE dominant value per column (>0.5)
    for i in range(K):
        for c in COLS:
            assert max(ref["theta"][i][c].values()) > 0.5
    # and the three classes are distinct in their dominant answers
    sigs = {
        tuple(
            max(ref["theta"][i][c], key=ref["theta"][i][c].get)
            for c in COLS
        )
        for i in range(K)
    }
    assert len(sigs) == K
