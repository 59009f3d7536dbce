"""Property test: full deliver_stats output vs a pure-python mirror.

Random categorical tables (with sentinel values) are pushed through the
Spark single-shuffle inference plan AND a direct re-implementation of
the reference's deliver semantics (chisquared_tester.py:1434-1589):
crosstab with "Not shown" exclusion, Yates-gated chi-squared, rounded
adjusted residuals, Bonferroni cell test, value_counts denominators,
modes with pandas tie order, Python-``round`` percentages, and the
weighted mode and shares (NULL weights, an all-zero-weight cluster). This is
the differential check that catches rounding-semantics drift in every
reference-visible deliver column (the popmodes property test's big
sibling).

Count-derived fields (percentages, modes) compare EXACTLY — integer
counts make the double arithmetic and ref_round bit-deterministic.
The chi-squared p/stat compare to 1e-7/1e-6. The mirror sums the
statistic in the finalizer's value-major order, because a rounded value
on an exact midpoint flips with another order's last-ulp drift.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from qudo_etl_pipeline_spark.functions.stats import chi2_sf, z_threshold
from qudo_etl_pipeline_spark.operators.contingency import (
    contingency_tables,
    deliver_stats,
)

CLUSTERS = ["c0", "c1", "c2"]
VALUES = ["va", "vb", "vc", "not selected", "Not shown"]
# dyadic weights: every weighted sum is exact in any order, so the
# weighted columns compare exactly too. NULL weights count as 0, and
# ZERO_W's weights are all zero (its weighted shares are NULL).
WEIGHTS = [None, 0.25, 1.0, 2.5]
ZERO_W = "c2"

rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(CLUSTERS),
        st.sampled_from(VALUES),
        st.sampled_from(VALUES),
        st.sampled_from(WEIGHTS),
    ).map(lambda r: r[:3] + ((0.0,) if r[0] == ZERO_W else r[3:])),
    min_size=15,
    max_size=45,
)

ALPHA = 1.0  # keep every variable so percentages/modes always surface


def _mirror(rows):
    n_rows = len(rows)
    out = []
    cluster_w = {}
    for r in rows:
        cluster_w[r[0]] = cluster_w.get(r[0], 0.0) + (r[3] or 0.0)
    for vi, var in enumerate(["q_x", "q_y"]):
        cells = {}  # (cluster, value) -> n
        w_cells = {}  # (cluster, value) -> total weight
        for r in rows:
            key = (r[0], r[1 + vi])
            cells[key] = cells.get(key, 0) + 1
            w_cells[key] = w_cells.get(key, 0.0) + (r[3] or 0.0)
        # observed grid: "Not shown" excluded from EITHER axis
        obs_vals = sorted(
            {v for (_, v) in cells if v != "Not shown"}
        )
        obs_cls = sorted({c for (c, v) in cells if v != "Not shown"})
        grid = {
            (c, v): cells.get((c, v), 0)
            for c in obs_cls
            for v in obs_vals
        }
        row_tot = {v: sum(grid[(c, v)] for c in obs_cls) for v in obs_vals}
        col_tot = {c: sum(grid[(c, v)] for v in obs_vals) for c in obs_cls}
        n = sum(grid.values())
        dof = (len(obs_vals) - 1) * (len(obs_cls) - 1)
        if dof <= 0:
            continue  # p = 1.0 > any alpha < 1; with ALPHA=1.0 a
            # degenerate table yields no pos cells anyway (all residuals 0)
        yates = min(grid.values()) <= 5
        stat = 0.0
        # value-major, the finalizer's order: the stat is compared after
        # rounding, and at an exact midpoint (117/8) a cluster-major sum
        # drifts by an ulp and rounds the other way
        for v in obs_vals:
            for c in obs_cls:
                e = row_tot[v] * col_tot[c] / n
                d = grid[(c, v)] - e
                if yates and dof == 1:
                    d = math.copysign(max(abs(d) - 0.5, 0.0), d)
                stat += d * d / e
        p = chi2_sf(stat, float(dof))
        if p > ALPHA:
            continue
        m = len(obs_vals) * len(obs_cls)
        thr = z_threshold(ALPHA / m)
        # per-(cluster, value): adjusted residual, rounded 3
        for c in obs_cls:
            pos = []
            for v in obs_vals:
                e = row_tot[v] * col_tot[c] / n
                den = math.sqrt(
                    e * (1 - row_tot[v] / n) * (1 - col_tot[c] / n)
                )
                if den == 0:
                    continue
                z = round((grid[(c, v)] - e) / den, 3)
                if (
                    abs(z) >= 1.96
                    and abs(z) >= thr
                    and z > 0
                    and v != "not selected"
                ):
                    pos.append(v)
            if not pos:
                continue
            # denominators include sentinels (value_counts semantics)
            answered = {
                v2: cells.get((c, v2), 0)
                for v2 in {v2 for (c2, v2) in cells if c2 == c}
            }
            answered_n = sum(answered.values())
            cat_perc = [
                round(cells[(c, v)] / answered_n * 100, 2) for v in sorted(pos)
            ]
            mode_items = [
                (v2, n2) for v2, n2 in answered.items() if v2 != "Not shown"
            ]
            pop_mode, mode_n = min(
                mode_items, key=lambda kv: (-kv[1], kv[0])
            )
            answered_w = sum(w_cells[(c, v2)] for v2 in answered)
            w_mode, w_mode_n = min(
                ((v2, w_cells[(c, v2)]) for v2, _ in mode_items),
                key=lambda kv: (-kv[1], kv[0]),
            )
            var_answered = sum(
                n2 for (c2, v2), n2 in cells.items()
            )
            cluster_n = sum(1 for r in rows if r[0] == c)
            out.append(
                {
                    "q_code": var,
                    "targeting_seg": c,
                    "pop_mode": pop_mode,
                    "mode_pop_perc": round(mode_n / cluster_n * 100, 2),
                    "chi_2_result": round(p, 5),
                    "chi2_stat": round(stat, 2),
                    "sig_more_category": sorted(pos),
                    "category_percentages": cat_perc,
                    "response_rate": var_answered / n_rows * 100,
                    "weighted_pop_mode": w_mode,
                    "weighted_pop_mode_perc": (
                        round(w_mode_n / cluster_w[c] * 100, 0)
                        if cluster_w[c]
                        else None
                    ),
                    "weighted_category_percentages": [
                        round(w_cells[(c, v)] / answered_w * 100, 2)
                        if answered_w
                        else None
                        for v in sorted(pos)
                    ],
                }
            )
    return out


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=rows_strategy)
def test_deliver_stats_matches_python_mirror(spark, rows):
    df = spark.createDataFrame(
        rows, "cluster string, q_x string, q_y string, w double"
    )
    t = contingency_tables(df, "cluster", weight_col="w")
    got = deliver_stats(t, alpha=ALPHA).collect()
    t.unpersist()
    want = {(w["q_code"], w["targeting_seg"]): w for w in _mirror(rows)}
    assert {(r["q_code"], r["targeting_seg"]) for r in got} == set(want)
    for r in got:
        w = want[(r["q_code"], r["targeting_seg"])]
        # count-derived fields: EXACT (rounding-parity assertions)
        assert r["pop_mode"] == w["pop_mode"]
        assert r["mode_pop_perc"] == w["mode_pop_perc"]
        assert list(r["sig_more_category"]) == w["sig_more_category"]
        assert list(r["category_percentages"]) == w["category_percentages"]
        assert r["response_rate"] == w["response_rate"]
        assert r["weighted_pop_mode"] == w["weighted_pop_mode"]
        assert r["weighted_pop_mode_perc"] == w["weighted_pop_mode_perc"]
        assert (
            list(r["weighted_category_percentages"])
            == w["weighted_category_percentages"]
        )
        # chi-squared fields: summation-order drift tolerance
        assert abs(r["chi_2_result"] - w["chi_2_result"]) <= 1e-7
        assert abs(r["chi2_stat"] - w["chi2_stat"]) <= 1e-6
