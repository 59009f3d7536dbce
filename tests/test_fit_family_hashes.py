"""The categorical fit families' catalog outputs stay pinned.

Each query runs on the sf0.01 tables and its canonical result hash
(``tools/selfcheck.result_hash``: sorted columns, order-insensitive rows,
full float repr) must equal the entry recorded in ``HASHES_r12.json``.
A change to kmodes/kprototypes or LCA that moves a label, a mode or a
cluster size fails here, not only in a manual selfcheck run.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

from qudo_etl_pipeline_spark.catalog import registry
from tests.test_ann_recall import SF_DIR  # the sf0.01 tables

ROOT = Path(__file__).resolve().parent.parent
PINNED = [
    "kmodes_documents",
    "kmodes_step_planted",
    "kprototypes_step_planted",
    "lca_documents",
    "lca_mixed_documents",
]


@pytest.fixture(scope="module")
def result_hash():
    spec = importlib.util.spec_from_file_location(
        "selfcheck", ROOT / "tools" / "selfcheck.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.result_hash


@pytest.mark.parametrize("name", PINNED)
def test_fit_family_result_hash_is_pinned(spark, result_hash, name):
    from qudo_etl_pipeline_spark.operators.prefix import prefix_cache_scope

    pinned = json.loads((ROOT / "HASHES_r12.json").read_text())[name]
    with prefix_cache_scope():
        sdf = registry()[name].spark(spark, SF_DIR).toPandas()
    assert len(sdf) == pinned["rows"]
    assert sorted(sdf.columns) == pinned["cols"]
    assert result_hash(sdf) == pinned["hash"]
