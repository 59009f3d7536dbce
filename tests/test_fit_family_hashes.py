"""The categorical fit families' and the survey path's catalog outputs
stay pinned.

Each query runs on the sf0.01 tables and its canonical result hash
(``tools/selfcheck.result_hash``: sorted columns, order-insensitive rows,
full float repr) must equal the entry recorded in ``HASHES_r12.json``.
A change to kmodes/kprototypes or LCA that moves a label, a mode or a
cluster size fails here, not only in a manual selfcheck run; so does a
change to the column profile (label codes, rules codes), the social
presence, the inference outputs (deliver, discover, mode list) or the
whole pipeline's summary.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

from qudo_etl_pipeline_spark.catalog import registry
from tests.fixtures import SF_DIR  # the sf0.01 tables

ROOT = Path(__file__).resolve().parent.parent
PINNED = [
    "kmodes_documents",
    "kmodes_step_planted",
    "kprototypes_step_planted",
    "lca_documents",
    "lca_mixed_documents",
    "social_presence_planted",
    "message_reach_planted",
    "rules_based_codes",
    "label_encode_codes",
    "deliver_stats_planted",
    "discover_stats_planted",
    "mode_list_planted",
]
# The HASHES_r12.json entry of the whole-pipeline query is older than a
# change of its summary, so its hash is pinned here. Re-recorded when
# kmeans+PCA moved to the driver fit over the scheme table: only the
# kmeans_and_pca row moved (silhouette6 0.279064 -> 0.278091).
E2E_HASH = "9a9f477a089c99e18f319e232103add2"


@pytest.fixture(scope="module")
def result_hash():
    spec = importlib.util.spec_from_file_location(
        "selfcheck", ROOT / "tools" / "selfcheck.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.result_hash


def _pinned_result(spark, result_hash, name):
    from qudo_etl_pipeline_spark.operators.prefix import prefix_cache_scope

    pinned = json.loads((ROOT / "HASHES_r12.json").read_text())[name]
    with prefix_cache_scope():
        sdf = registry()[name].spark(spark, SF_DIR).toPandas()
    assert len(sdf) == pinned["rows"]
    assert sorted(sdf.columns) == pinned["cols"]
    return pinned["hash"], result_hash(sdf)


@pytest.mark.parametrize("name", PINNED)
def test_fit_family_result_hash_is_pinned(spark, result_hash, name):
    pinned, got = _pinned_result(spark, result_hash, name)
    assert got == pinned


def test_pipeline_e2e_result_hash_is_pinned(spark, result_hash):
    _, got = _pinned_result(spark, result_hash, "pipeline_e2e_fixture")
    assert got == E2E_HASH
