"""The scheme table (``features.scheme_table``): one aggregate per
survey scheme, its column profile, and the contingency cells summed
from its labelled patterns."""

from __future__ import annotations

import numpy as np
import pytest

from qudo_etl_pipeline_spark.ml import features as FE
from qudo_etl_pipeline_spark.pipeline import SegmentationConfig, run_scheme
from qudo_etl_pipeline_spark.operators.contingency import (
    cluster_mode_list,
    contingency_tables,
    deliver_stats,
    discover_stats,
    pattern_tables,
)

@pytest.fixture(scope="module")
def mixed(spark):
    rows = [
        (i, f"opt{i % 4}", str(3 * (i % 5)), float(i % 3) / 2,
         None if i % 7 == 0 else i % 2, None,
         "1x" if i == 5 else str(i % 3), 0.3 * (i % 4) if i % 6 else None)
        for i in range(60)
    ]
    return spark.createDataFrame(
        rows,
        "id long, cat string, num_str string, dbl double, i int,"
        " nul string, mixed string, w double",
    )


COLS = ["cat", "num_str", "dbl", "i", "nul", "mixed"]


def test_scheme_table_profile_and_measures(spark, mixed):
    """The rows, projected on each column, give the profile
    build_code_maps gives; each full pattern carries its rows' count,
    weight sum and least id."""
    table = FE.scheme_table(mixed, COLS, weight_col="w", id_col="id")
    assert table.exact
    assert (table.code_maps, table.numeric) == FE.build_code_maps(mixed, COLS)
    agg = (
        mixed.selectExpr(
            *[f"CAST({c} AS STRING) AS {c}" for c in COLS],
            "coalesce(w, 0D) AS w",
            "id",
        )
        .groupBy(*COLS)
        .agg({"*": "count", "w": "sum", "id": "min"})
        .collect()
    )
    want = {
        tuple(r[c] for c in COLS): (r["count(1)"], r["sum(w)"], r["min(id)"])
        for r in agg
    }
    got = {
        tuple(r[c] for c in COLS): (r["_n"], r["_wt"], r["_mid"])
        for r in table.rows
    }
    assert got.keys() == want.keys()
    for key, (n, w, mid) in got.items():
        assert (n, mid) == (want[key][0], want[key][2])
        assert w == pytest.approx(want[key][1], rel=1e-12)
    # "1.0", as melt casts a double; the all-NULL column is one pattern value
    assert "1.0" in table.code_maps["dbl"] and table.code_maps["nul"] == {}
    codes = [r["cat"] for r in table.coded(["cat"])]
    assert codes == [table.code_maps["cat"][r["cat"]] for r in table.rows]


def test_sampled_scheme_table_keeps_an_exact_profile(spark, mixed, monkeypatch):
    """Above the threshold the full patterns are a priority sample whose
    weights estimate the table, and the profile is still exact."""
    monkeypatch.setattr(FE, "PATTERN_THRESHOLD", 20)
    table = FE.scheme_table(mixed, COLS, weight_col="w", id_col="id")
    assert not table.exact and len(table.rows) == 20
    assert (table.code_maps, table.numeric) == FE.build_code_maps(mixed, COLS)
    assert sum(r["_n"] for r in table.rows) == pytest.approx(60, rel=0.35)
    one = FE.scheme_table(mixed, ["cat"])
    assert one.exact and one.code_maps == FE.build_code_maps(mixed, ["cat"])[0]
    assert sorted(r["_n"] for r in one.rows) == [15, 15, 15, 15]


def test_numeric_sniff_and_order_are_sparks_try_cast(spark):
    """A string column is numeric when Spark's try_cast to double keeps
    every value (padding, exponents and infinity literals included),
    and its codes then follow the doubles; one value that does not cast
    makes the column categorical, coded in string order."""
    vals = ["10", " 2 ", "1e3", "-inf", "-1.5", "Infinity"]
    df = spark.createDataFrame(
        [(v, v if i else "1x") for i, v in enumerate(vals)], "n string, s string"
    )
    table = FE.scheme_table(df, ["n", "s"])
    assert (table.code_maps, table.numeric) == FE.build_code_maps(df, ["n", "s"])
    assert table.numeric == ["n"]
    assert list(table.code_maps["n"]) == [
        "-inf", "-1.5", " 2 ", "10", "1e3", "Infinity"
    ]
    assert list(table.code_maps["s"]) == sorted(["1x", *vals[1:]])


def test_a_scheme_wider_than_64_columns(spark):
    """A scheme's table has no column limit: 70 scheme columns give an
    exact table and profile, and a scheme over them runs its kmodes and
    rules families."""
    n_cols, rng = 70, np.random.default_rng(3)
    cols = [f"q{j:02d}" for j in range(n_cols)]

    def answer(i):  # leans to the respondent's rules group
        return f"o{(i % 2 + rng.choice(3, p=[0.8, 0.1, 0.1])) % 3}"

    rows = [(i, str(i % 2), *(answer(i) for _ in cols)) for i in range(120)]
    df = spark.createDataFrame(
        rows, ", ".join(["id long", "rules string", *(f"{c} string" for c in cols)])
    )
    table = FE.scheme_table(df, cols, id_col="id")
    assert table.exact and len(table.rows) == 120
    assert (table.code_maps, table.numeric) == FE.build_code_maps(df, cols)
    cfg = SegmentationConfig(
        survey_name="wide", id_col="id", rules_col="rules",
        algorithms=("kmodes", "rules_based"), ks=[2],
    )
    out = run_scheme(spark, df, cols, cfg)
    assert set(out) == {"kmodes", "rules_based"}
    for res in out.values():
        assert "error" not in res["metrics"], res["metrics"]
        assert res["deliver"].count() > 0


def test_fits_stay_exact_when_only_the_widened_table_overflows(spark, monkeypatch):
    """The rules and `mc_` columns widen the scheme table past the
    threshold while the scheme columns' own patterns fit: the kmodes and
    LCA fits then read that exact table, so their labels are the ones
    they give at the default threshold."""
    rng = np.random.default_rng(5)
    rows = [
        (
            i,
            str(i % 3),
            *(f"a{(i % 3 + rng.choice(3, p=[0.7, 0.2, 0.1])) % 3}" for _ in range(4)),
            *(str(rng.integers(0, 4)) for _ in range(3)),
        )
        for i in range(240)
    ]
    df = spark.createDataFrame(
        rows,
        "id long, rules string, q0 string, q1 string, q2 string, q3 string,"
        " mc_a string, mc_b string, mc_c string",
    )
    cols = ["q0", "q1", "q2", "q3"]
    cfg = SegmentationConfig(
        survey_name="wide_key", id_col="id", rules_col="rules",
        algorithms=("kmodes",), include_lca=True, ks=[3],
    )

    def labels(out):
        return {
            algo: sorted(map(tuple, res["labels"].select("id", "prediction").collect()))
            for algo, res in out.items()
        }

    exact = labels(run_scheme(spark, df, cols, cfg))
    tables, real = [], FE.scheme_table

    def spy(*args, **kwargs):
        tables.append(real(*args, **kwargs))
        return tables[-1]

    monkeypatch.setattr(FE, "scheme_table", spy)
    monkeypatch.setattr(FE, "PATTERN_THRESHOLD", 100)
    sampled = labels(run_scheme(spark, df, cols, cfg))
    assert [(t.cols[:4], t.exact) for t in tables] == [(cols, False), (cols, True)]
    assert set(exact) == {"kmodes", "lca"} and sampled == exact


@pytest.fixture(scope="module")
def survey(spark):
    """NULL answers, 'Not shown', a NULL cluster (a NULL rules code),
    NULL weights and a double column whose string form is "1.0"; the
    first answer follows the cluster, so deliver has rows."""
    rng = np.random.default_rng(11)
    rows = []
    for i in range(400):
        k = None if i % 17 == 0 else int(rng.integers(0, 3))
        a = f"a{k}" if k is not None and rng.random() < 0.7 else str(
            rng.choice(["a0", "a1", "a2", "Not shown", "not selected", "none"])
        )
        rows.append((
            i,
            k,
            None if a == "none" else a,
            None if i % 9 == 0 else str(rng.choice(["p", "q", "Not shown"])),
            None if i % 13 == 0 else float(rng.choice([1.0, 2.0, 2.5])),
            None if i % 11 == 0 else float(rng.choice([0.3, 1.7, 0.95])),
        ))
    return spark.createDataFrame(
        rows, "id long, prediction int, a string, b string, d double, w double"
    )


def _cells(cells):
    return sorted(
        (c.value, c.seg or "", c.cluster is None, c.observed, c.w_observed)
        for c in cells
    )


def _close(got, want):
    """Equal rows, floats within 1e-12 relative (summation order)."""
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert len(g) == len(w)
        for x, y in zip(g, w):
            if isinstance(y, float):
                assert x == pytest.approx(y, rel=1e-12), (g, w)
            elif isinstance(y, list):
                assert x == pytest.approx(y, rel=1e-12), (g, w)
            else:
                assert x == y, (g, w)


@pytest.mark.parametrize("weighted", [True, False])
def test_cells_from_patterns_equal_the_spark_cells(spark, survey, weighted):
    variables = ["a", "b", "d"]
    weight = "w" if weighted else None
    spark_t = contingency_tables(survey, "prediction", variables, weight, ["id"])
    table = FE.scheme_table(survey, [*variables, "prediction"], weight, "id")
    labelled = [
        r | {"prediction": k if k is None else int(k), "_seg": k}
        for r in table.rows
        for k in [r["prediction"]]
    ]
    pat_t = pattern_tables(spark, labelled, variables, weighted=weighted)
    assert spark_t.raw().keys() == pat_t.raw().keys()
    for var in variables:
        _close(_cells(pat_t.raw()[var]), _cells(spark_t.raw()[var]))
    assert any(c.value == "1.0" for c in pat_t.raw()["d"])
    assert any(c.cluster is None for c in pat_t.sizes())
    _close(_cells(pat_t.sizes()), _cells(spark_t.sizes()))
    for got, want in zip(pat_t.variables(), spark_t.variables(), strict=True):
        assert (got.name, got.clusters, got.n, got.dof, got.yates) == (
            want.name, want.clusters, want.n, want.dof, want.yates
        )
        assert (got.chi2_stat, got.p_value) == (want.chi2_stat, want.p_value)
        _close(got.grid, want.grid)
    deliver = deliver_stats(pat_t)
    assert deliver.count() > 0
    assert deliver.schema == deliver_stats(spark_t).schema
    _close(deliver.collect(), deliver_stats(spark_t).collect())
    _close(
        discover_stats(deliver).collect(),
        discover_stats(deliver_stats(spark_t)).collect(),
    )
    assert cluster_mode_list(pat_t).collect() == cluster_mode_list(spark_t).collect()
    # pattern cells have no Spark state to re-read: unpersist keeps them
    variables = pat_t.variables()
    pat_t.unpersist()
    assert pat_t.variables() == variables and pat_t.sizes()
