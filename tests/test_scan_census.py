"""Parquet-scan census: the r12 duplicate-subtree sweep, pinned.

The r12 sweep materialized branch-shared collapsed frames through the
operator-cache registry so that plan branches stop re-running the
source scan; its evidence was a set of after-plan dumps, since retired
with the legacy catalog harness. This pins each swept
query's DISTINCT parquet-scan count (numbered ``(N) Scan parquet``
operators in ``explain("formatted")`` — a cached subtree repeats in
the TREE under every InMemoryTableScan reference but keeps ONE
operator number, so the distinct census counts real scans, not
repetitions) as a ceiling: reverting any sweep commit re-splits a
cached frame into per-branch scans and fails here as a pytest error
instead of drifting silently in the bench.
"""

from __future__ import annotations

import contextlib
import io
import os
import re

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

_SCAN_RE = re.compile(r"^\(\d+\) Scan parquet", re.M)

# query -> max distinct parquet scans, the r12 after-plan census
# (``tools/dump_plans.py`` reproduces a dump). A LOWER count later is fine (a
# further optimization); higher is a sweep regression.
CENSUS = {
    # §16 duplicate-subtree sweep
    "theil_sen_hourly_trend": 1,
    "kaplan_meier_orders": 2,
    "mutual_information_priority_status": 1,
    "kendall_tau_quantity_price": 1,
    "spearman_rho_quantity_price": 1,
    "corpus_curation": 1,
    "entity_match_pairs_planted": 4,
    "kmv_jaccard_event_users": 2,
    "psi_drift_priority_prices": 4,
    "target_encoding_oof_orders": 2,
    "seasonal_decompose_hourly": 1,
    "gains_curve_planted": 2,
    "tfidf_top_terms": 2,
    "unigram_logprob_score": 2,
    "source_kl_divergence": 1,
    "source_js_divergence": 1,
    "similarity_join_exact": 4,
    "asof_attribution_chunked": 4,
    "cms_part_frequency": 2,
    "set_ops_except_intersect": 2,
    "q21_waiting_suppliers": 3,
    # flagship single-scan shapes from earlier r12 work, same class
    "deliver_stats_planted": 1,
    "chi2_stat_by_variable": 2,
    "population_modes_planted": 1,
    "lsh_candidate_pairs": 1,
}


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_census_ceilings(spark):
    from qudo_etl_pipeline_spark.catalog import registry
    from qudo_etl_pipeline_spark.operators.prefix import (
        prefix_cache_scope,
    )

    specs = registry()
    over = []
    for name, max_scans in sorted(CENSUS.items()):
        # scope: plan build acquires registry caches; release per query
        # so the census sweep leaves no CacheManager entries behind
        with prefix_cache_scope():
            plan = _formatted(specs[name].spark(spark, SF_DIR))
            n = len(_SCAN_RE.findall(plan))
        if n > max_scans:
            over.append((name, n, max_scans))
    assert not over, (
        "distinct parquet-scan census regressed (query, got, ceiling): "
        f"{over}"
    )
