"""Contingency core vs a hand-rolled numpy oracle on a small fixture."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.catalog.contingency_q import (
    chi2_by_variable,
    post_hoc_cells,
)
from qudo_etl_pipeline_spark.operators.contingency import (
    contingency_tables,
    deliver_stats,
    discover_stats,
)
from qudo_etl_pipeline_spark.plans.melt import melt

from tests.reference_stats import adjusted_residuals, chi2_contingency


@pytest.fixture(scope="module")
def survey_df(spark):
    rng = np.random.default_rng(42)
    n = 600
    clusters = rng.choice(["c0", "c1", "c2"], size=n, p=[0.5, 0.3, 0.2])
    rows = []
    for i in range(n):
        c = clusters[i]
        # q_biased strongly depends on cluster; q_flat doesn't.
        if c == "c0":
            biased = rng.choice(["Agree", "Disagree"], p=[0.9, 0.1])
        elif c == "c1":
            biased = rng.choice(["Agree", "Disagree"], p=[0.2, 0.8])
        else:
            biased = rng.choice(["Agree", "Disagree", "Not shown"], p=[0.45, 0.45, 0.1])
        flat = rng.choice(["x", "y", "z"])
        weight = float(rng.uniform(0.5, 1.5))
        rows.append((int(i), c, biased, str(flat), weight))
    return spark.createDataFrame(
        rows, "id long, cluster string, q_biased string, q_flat string, weight double"
    )


def crosstab_pandas(pdf, var, cluster_col="cluster"):
    """pd.crosstab semantics incl. the Not-shown slice, as the reference does."""
    import pandas as pd

    d = pdf
    if (d[var] == "Not shown").any():
        d = d[d[var] != "Not shown"]
    return pd.crosstab(d[var], d[cluster_col])


def test_chi2_matches_numpy_oracle(spark, survey_df):
    tables = contingency_tables(
        survey_df, cluster_col="cluster", variables=["q_biased", "q_flat"],
        weight_col="weight", id_vars=["id"],
    )
    got = {r["variable"]: r for r in chi2_by_variable(tables).collect()}
    pdf = survey_df.toPandas()

    for var in ["q_biased", "q_flat"]:
        ct = crosstab_pandas(pdf, var)
        below = (ct.values <= 5).any()
        stat, p, dof, _ = chi2_contingency(ct.values, correction=below)
        row = got[var]
        assert row["dof"] == dof
        assert row["chi2_stat"] == pytest.approx(stat, rel=1e-9)
        assert row["p_value"] == pytest.approx(p, rel=1e-9, abs=1e-12)

    assert got["q_biased"]["p_value"] < 0.05
    assert got["q_flat"]["p_value"] > 0.05


def test_post_hoc_matches_numpy_oracle(spark, survey_df):
    tables = contingency_tables(
        survey_df, cluster_col="cluster", variables=["q_biased", "q_flat"],
        weight_col="weight", id_vars=["id"],
    )
    cells = post_hoc_cells(tables, alpha=0.05).collect()
    assert all(r["variable"] == "q_biased" for r in cells)  # q_flat not significant

    pdf = survey_df.toPandas()
    ct = crosstab_pandas(pdf, "q_biased")
    res = adjusted_residuals(ct.values)
    r_cells = {
        (v, c): round(res[i][j], 3)
        for i, v in enumerate(ct.index)
        for j, c in enumerate(ct.columns)
    }
    n_cells = ct.shape[0] * ct.shape[1]
    for row in cells:
        expect_z = r_cells[(row["value"], row["cluster"])]
        assert row["adj_residual"] == pytest.approx(expect_z, abs=5e-4)
        from qudo_etl_pipeline_spark.functions.stats import chi2_sf

        sig = abs(expect_z) >= 1.96 and chi2_sf(expect_z**2, 1) <= 0.05 / n_cells
        expect_label = "neu" if not sig else ("pos" if expect_z > 0 else "neg")
        assert row["post_hoc"] == expect_label


def test_deliver_and_discover_shapes(spark, survey_df):
    tables = contingency_tables(
        survey_df, cluster_col="cluster", variables=["q_biased", "q_flat"],
        weight_col="weight", id_vars=["id"],
    )
    deliver = deliver_stats(tables).collect()
    assert len(deliver) > 0
    for r in deliver:
        assert r["q_code"] == "q_biased"
        assert len(r["sig_more_category"]) == len(r["category_percentages"])
        assert "not selected" not in r["sig_more_category"]
        assert 0 < r["mode_pop_perc"] <= 100
        assert r["response_rate"] == pytest.approx(100.0)
    ps = [r["chi_2_result"] for r in deliver]
    assert ps == sorted(ps)

    disc = discover_stats(deliver_stats(tables), n_feats=10).collect()
    assert all(r["mode"] not in ("not selected", "Not shown") for r in disc)


def test_melt_roundtrip_counts(spark, survey_df):
    long = melt(survey_df, id_vars=["id", "cluster"], value_vars=["q_biased", "q_flat"])
    assert long.count() == survey_df.count() * 2
    assert set(long.columns) == {"id", "cluster", "variable", "value"}
    back = (
        long.groupBy("id", "cluster").pivot("variable").agg(F.first("value"))
    )
    assert back.count() == survey_df.count()


def test_cluster_mode_list_matches_pandas_mode(spark):
    """cluster_mode_list == per-cluster DataFrame.mode(dropna=False).head(1)
    (reference chisquared_tester.py:1788-1792): nulls counted, ties to the
    ascending-sorted first, nulls last on ties, cluster column included."""
    from qudo_etl_pipeline_spark.operators.contingency import cluster_mode_list

    rows = [
        # c0: q1 tie a/b 2-2 -> 'a'; q2 mode is NULL (3 nulls vs 1 'x')
        ("c0", "a", None),
        ("c0", "a", None),
        ("c0", "b", None),
        ("c0", "b", "x"),
        # c1: q1 clear mode 'z'; q2 tie NULL/'y' 1-1 -> 'y' (nulls last)
        ("c1", "z", "y"),
        ("c1", "z", None),
    ]
    df = spark.createDataFrame(rows, "cluster string, q1 string, q2 string")
    got = {
        (r["cluster"], r["variable"]): r["mode_value"]
        for r in cluster_mode_list(
            contingency_tables(df, "cluster", variables=["q1", "q2"])
        ).collect()
    }
    assert got == {
        ("c0", "q1"): "a",
        ("c0", "q2"): None,
        ("c0", "cluster"): "c0",
        ("c1", "q1"): "z",
        ("c1", "q2"): "y",
        ("c1", "cluster"): "c1",
    }


def _final_plan(df) -> str:
    """The executed physical plan of ``df`` after an action: the final
    plan of AQE (on in session.py), without its initial-plan copy."""
    return df._jdf.queryExecution().executedPlan().executedPlan().toString()


def _assert_one_combined_shuffle(plan: str) -> None:
    """One hash exchange for the cells, with the partial aggregates
    (the map-side combine) below it and none above it."""
    assert plan.count("Exchange hashpartitioning") == 1, plan
    above, below = plan.split("Exchange hashpartitioning")
    assert "partial_count(1)" in below and "partial_sum" in below, plan
    assert "partial_" not in above, plan


def test_salt_cells_auto_activates_and_is_hash_identical(spark):
    """A hot cell (a sentinel answer concentrated in one big cluster)
    needs no special plan: the skew handling that activates by itself is
    the map-side combine below the cell aggregation's single shuffle, so
    the hot cell sends at most one partial row per map task to its
    reducer. (The name dates from the removed ``salt_cells="auto"``
    switch, which routed this fixture through a salted two-phase plan.)
    The cells are identical to the fixture's hand counts."""
    rows = []
    for i in range(1700):  # 85% of rows: one dominant cell
        rows.append((i, 0, "not selected"))
    for i in range(1700, 2000):
        rows.append((i, 1 + i % 2, ["a", "b", "c"][i % 3]))
    wide = spark.createDataFrame(
        rows, "alchemer_id: long, cluster: int, q1_tgt: string"
    ).repartition(8)
    t = contingency_tables(wide, "cluster", ["q1_tgt"], id_vars=["alchemer_id"])
    cells = {tuple(r) for r in t.cells.collect()}
    _assert_one_combined_shuffle(_final_plan(t.cells))
    # i in 1700..1999 runs through every (i % 2, i % 3) pair 50 times
    assert cells == {("q1_tgt", 0, "not selected", 1700, 1700.0)} | {
        ("q1_tgt", c, v, 50, 50.0) for c in (1, 2) for v in "abc"
    }
    assert {tuple(r) for r in t.cluster_sizes.collect()} == {
        (0, 1700, 1700.0), (1, 150, 150.0), (2, 150, 150.0)
    }


def test_cramers_v_known_table(spark):
    """Perfect association in a 2x2 -> V = 1; independence -> V ~ 0."""
    from qudo_etl_pipeline_spark.catalog.contingency_q import cramers_v

    # perfect: cluster == x
    rows = [(i, str(i % 2), str(i % 2)) for i in range(40)]
    df = spark.createDataFrame(rows, "id bigint, cluster string, x string")
    t = contingency_tables(df, "cluster", id_vars=["id"])
    v = {r["variable"]: r for r in cramers_v(t).collect()}
    assert v["x"]["cramers_v6"] is not None
    assert abs(v["x"]["cramers_v6"] - 1.0) < 0.15  # Yates shrinks 2x2
    assert v["x"]["n_obs"] == 40

    # independent: x alternates within each cluster
    rows2 = [(i, str(i % 2), str((i // 2) % 2)) for i in range(40)]
    df2 = spark.createDataFrame(rows2, "id bigint, cluster string, x string")
    t2 = contingency_tables(df2, "cluster", id_vars=["id"])
    v2 = {r["variable"]: r for r in cramers_v(t2).collect()}
    assert v2["x"]["cramers_v6"] < 0.2


def test_posthoc_bonferroni_fallback_wide_table(spark):
    """Tables wider than the bisected z-threshold range (m =
    n_values * n_clusters > 1024) take the survival-function fallback
    (``_Variable.post_hoc``). Pin that branch
    against the Python chi2_sf on every emitted cell: the labels must
    be exactly the |z| >= 1.96 AND chi2_sf(z^2, 1) <= alpha/m rule."""
    from qudo_etl_pipeline_spark.functions.stats import chi2_sf

    # 8 clusters x 160 values -> m = 1280 > 1024. A planted dependence
    # (every 3rd row answers its own cluster's sentinel value) makes
    # the variable significant with strongly positive cells; the rest
    # spread uniformly so the fallback sees both sides of the boundary.
    rows = []
    for i in range(16000):
        c = f"c{i % 8}"
        v = f"own{i % 8}" if i % 3 == 0 else f"v{i % 152}"
        rows.append((i, c, v))
    df = spark.createDataFrame(rows, "id bigint, cluster string, q string")
    t = contingency_tables(df, "cluster", id_vars=["id"])
    try:
        cells = post_hoc_cells(t, alpha=0.05).collect()
        assert cells, "wide planted table must be significant"
        n_vals = len({r["value"] for r in cells})
        n_cls = len({r["cluster"] for r in cells})
        m = n_vals * n_cls
        assert m > 1024, f"test must exercise the fallback (m={m})"
        labels = {"pos": 0, "neg": 0, "neu": 0}
        for r in cells:
            z = r["adj_residual"]
            if z is None:
                expect = "neu"
            else:
                sig = abs(z) >= 1.96 and chi2_sf(z * z, 1.0) <= 0.05 / m
                if sig:
                    expect = "pos" if r["observed"] > r["expected"] else "neg"
                else:
                    expect = "neu"
            assert r["post_hoc"] == expect, (r["value"], r["cluster"], z)
            labels[r["post_hoc"]] += 1
        # the planted cells are pos; the boundary rule must also leave
        # plenty of neutral cells (both branches genuinely exercised)
        assert labels["pos"] >= 8 and labels["neu"] > 100, labels
    finally:
        t.unpersist()
