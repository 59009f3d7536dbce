"""Property-based tests (hypothesis) for the contingency/inference core.

Random small categorical tables are pushed through the Spark plan and
compared cell-for-cell against the numpy mirror in reference_stats.py —
the differential strategy SURVEY §5 prescribes, without fixture bias.
Example counts are kept small because every example runs Spark jobs.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from qudo_etl_pipeline_spark.catalog.contingency_q import chi2_by_variable
from qudo_etl_pipeline_spark.operators.contingency import (
    contingency_tables,
    deliver_stats,
)
from tests.reference_stats import chi2_contingency

CLUSTERS = ["c0", "c1", "c2"]
VALUES = ["va", "vb", "vc"]

rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(CLUSTERS),
        st.sampled_from(VALUES),
        st.sampled_from(VALUES),
    ),
    min_size=12,
    max_size=40,
)


def _spark_df(spark, rows):
    return spark.createDataFrame(rows, "cluster string, q_x string, q_y string")


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=rows_strategy)
def test_chi2_matches_numpy_mirror(spark, rows):
    t = contingency_tables(_spark_df(spark, rows), "cluster")
    out = {r["variable"]: r for r in chi2_by_variable(t).collect()}
    t.unpersist()
    for var_idx, var in enumerate(["q_x", "q_y"]):
        vals = sorted({r[1 + var_idx] for r in rows})
        cls = sorted({r[0] for r in rows})
        observed = np.zeros((len(vals), len(cls)))
        for r in rows:
            observed[vals.index(r[1 + var_idx]), cls.index(r[0])] += 1
        # scipy semantics: Yates only when dof == 1 AND requested; the
        # engine requests it when any cell <= 5
        correction = observed.min() <= 5
        stat, p, dof, _ = chi2_contingency(observed, correction=correction)
        got = out[var]
        assert got["dof"] == dof
        if dof > 0:
            assert got["chi2_stat"] == pytest.approx(stat, rel=1e-9)
            assert got["p_value"] == pytest.approx(p, rel=1e-7, abs=1e-12)
        else:
            assert got["p_value"] == 1.0
        assert 0.0 <= got["p_value"] <= 1.0


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=rows_strategy)
def test_deliver_stats_invariants(spark, rows):
    t = contingency_tables(_spark_df(spark, rows), "cluster")
    # alpha=1.0 keeps every variable so the invariants see output even on
    # independent random tables
    d = deliver_stats(t, alpha=1.0).collect()
    t.unpersist()
    ps = [r["chi_2_result"] for r in d]
    assert ps == sorted(ps)  # globally sorted by p
    for r in d:
        assert len(r["sig_more_category"]) > 0
        assert len(r["category_percentages"]) == len(r["sig_more_category"])
        assert 0.0 < r["mode_pop_perc"] <= 100.0
        assert 0.0 <= r["response_rate"] <= 100.0
