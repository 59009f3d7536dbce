"""Continuous NULL-parity gate: one representative query per r11
NULL-semantics class, engine-vs-oracle on a NULL-salted sf0.001.

Round 11 swept the full catalog against a NULL-salted sf0.01 copy and
fixed 71 divergences across six classes; this test keeps the contract
enforced per-commit at fixture cost (~seconds, not the 13-minute full
sweep) by re-deriving a salted sf0.001 with the same seeded tool and
hash-comparing one query per class:

- null ordering pins          -> rank_suppliers_by_balance
- window/time-definition drop -> events_hourly, user_sessions
- engine builtin divergence   -> string_scalar_ops (split_part '' vs NULL)
- prefix-device NULL groups   -> weighted_median_prices,
                                 population_modes_planted
- as-of join NULL keys/times  -> asof_purchase_attribution
- profiler null_keys metrics  -> join_profile_orders_lineitem
- encode/sketch NULL-key drop -> label_encode_codes, bloom_filter_custkeys
- dedup keep-lowest-id        -> semantic_dedup_verdicts
- contingency NULL clusters/values/weights and the business metrics
  over deliver rows -> adjusted_residuals, chi2_stat_by_variable,
  cramers_v_by_variable, deliver_stats_planted, deliver_stats_weighted,
  discover_stats_planted, uniqueness_planted, communicability_planted,
  magnitude_planted, sig_spread_planted
- mode list NULL values counted as a value -> mode_list_planted
"""

from __future__ import annotations

import math

import duckdb
import pytest

from qudo_etl_pipeline_spark.catalog import create_duckdb_views, registry

QUERIES = [
    "rank_suppliers_by_balance",
    "events_hourly",
    "user_sessions",
    "string_scalar_ops",
    "weighted_median_prices",
    "population_modes_planted",
    "asof_purchase_attribution",
    "join_profile_orders_lineitem",
    "label_encode_codes",
    "bloom_filter_custkeys",
    "semantic_dedup_verdicts",
    "adjusted_residuals",
    "chi2_stat_by_variable",
    "cramers_v_by_variable",
    "deliver_stats_planted",
    "deliver_stats_weighted",
    "discover_stats_planted",
    "mode_list_planted",
    "uniqueness_planted",
    "communicability_planted",
    "magnitude_planted",
    "sig_spread_planted",
]


def _canon(df):
    """tools/selfcheck.py's canonical form (sorted cols, repr rows)."""
    df = df[sorted(df.columns)].copy()
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float) and math.isnan(v):
                row.append("NaN")
            else:
                row.append(repr(v))
        rows.append(tuple(row))
    return sorted(rows)


@pytest.fixture(scope="module")
def salted_dir(tmp_path_factory):
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "null_salt",
        os.path.join(os.path.dirname(__file__), "..", "tools", "null_salt.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    dest = str(tmp_path_factory.mktemp("sf0001_nullsalt"))
    mod.salt_dir("/root/testdata/sf0.001", dest)
    return dest


@pytest.mark.parametrize("name", QUERIES)
def test_null_salted_parity(spark, salted_dir, name):
    from qudo_etl_pipeline_spark.operators.prefix import prefix_cache_scope

    spec = registry()[name]
    with prefix_cache_scope():
        sdf = spec.spark(spark, salted_dir).toPandas()
    con = duckdb.connect()
    create_duckdb_views(con, salted_dir)
    odf = con.sql(spec.oracle).df()
    assert len(sdf) == len(odf), (name, len(sdf), len(odf))
    assert sorted(sdf.columns) == sorted(odf.columns), name
    assert _canon(sdf) == _canon(odf), name
