"""Driver-contract surface pins for ``__spark_entry__``: the three
functions' shapes, oracle-key subset property, and the deterministic
name order of ``queries()``. No Spark session needed — these are
pure-shape checks.
"""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_queries_cover_registry_and_oracles_are_a_subset():
    from qudo_etl_pipeline_spark.catalog import registry

    e = _entry_module()
    q = e.queries()
    o = e.oracle_sql()
    assert set(q) == set(registry())
    assert set(o) <= set(q)
    assert all(callable(fn) for fn in q.values())
    assert all(isinstance(sql, str) and "SELECT" in sql.upper()
               for sql in o.values())


def test_queries_are_in_name_order():
    e = _entry_module()
    names = list(e.queries())
    assert names == sorted(names)
