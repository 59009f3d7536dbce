"""chi2_sf accuracy against known reference values.

Reference values verified against exact closed forms (even df: Poisson sum;
odd df: erfc-based series) — see the inline derivations in git history.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from qudo_etl_pipeline_spark.functions.stats import chi2_sf

# (x, df, scipy.stats.chi2.sf(x, df))
KNOWN = [
    (0.0, 1, 1.0),
    (3.841458820694124, 1, 0.05000000000000002),
    (6.634896601021215, 1, 0.010000000000000009),
    (1.0, 1, 0.31731050786291415),
    (2.0, 2, 0.36787944117144233),   # exp(-1)
    (10.0, 2, 0.006737946999085467),  # exp(-5)
    (7.814727903251179, 3, 0.049999999999999996),
    (5.0, 4, 0.2872974951836458),
    # verified via closed form erfc(sqrt(x/2)) + exp(-x/2)*sqrt(2x/pi)*(1+x/3)
    (100.0, 5, 5.28514836094324e-20),
    (1.5, 10, 0.9989353222272142),
    (50.0, 30, 0.012402060718900581),
    (0.5, 7, 0.999446481390425),
]


@pytest.mark.parametrize("x,df,expected", KNOWN)
def test_chi2_sf_known_values(x, df, expected):
    got = chi2_sf(x, df)
    assert got == pytest.approx(expected, rel=1e-9, abs=1e-25)


def test_chi2_sf_vectorized():
    xs = np.array([0.0, 1.0, 2.0, 3.841458820694124])
    dfs = np.array([1.0, 1.0, 2.0, 1.0])
    out = chi2_sf(xs, dfs)
    assert out.shape == (4,)
    assert out[0] == 1.0
    assert out[3] == pytest.approx(0.05, rel=1e-9)


def test_chi2_sf_degenerate():
    assert chi2_sf(float("nan"), 1) == 1.0
    assert chi2_sf(5.0, 0) == 1.0
    assert chi2_sf(-1.0, 3) == 1.0


def test_chi2_sf_exponential_identity():
    # For df=2, sf(x) = exp(-x/2) exactly.
    for x in [0.1, 1.0, 5.0, 20.0, 80.0]:
        assert chi2_sf(x, 2) == pytest.approx(math.exp(-x / 2), rel=1e-11)


def test_inference_plans_have_no_python_nodes(spark):
    """The planted inference queries must stay entirely JVM-side: no
    BatchEvalPython / ArrowEvalPython node anywhere in the plan."""
    from qudo_etl_pipeline_spark.catalog import registry

    for q in ["chi2_stat_by_variable", "deliver_stats_planted"]:
        df = registry()[q].spark(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, (q, plan[:2000])
