"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every catalog query on Spark AND its oracle SQL on DuckDB against
the same parquet tables, then compares row count, column names, and
order-insensitive values. Run before every commit that touches the
catalog:

    python tools/selfcheck.py [sf_dir] [query ...]

``--hashes-out PATH`` additionally writes a result-hash manifest
{query: {rows, cols, hash}} over the CANONICAL Spark result (sorted
columns, order-insensitive rows, full float repr). A one-line diff
against a committed manifest (HASHES_r12.json) proves "no query's
answer changed" without re-running the full oracle comparison (covers
rows-only queries too, which the oracle gate cannot).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# canonical table list + view bootstrap + hashability rule live in the
# package so the registry-hygiene tests enforce the SAME definitions
from qudo_etl_pipeline_spark.catalog import (  # noqa: E402
    TABLES,
    complex_typed_cols,
    create_duckdb_views,
)


def canon(df, float_round=None):
    """Canonical form: sorted column names, rows sorted by string repr."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                if math.isnan(v):
                    row.append("NaN")
                else:
                    row.append(repr(round(v, float_round) if float_round else v))
            else:
                row.append(repr(v))
        rows.append(tuple(row))
    return sorted(rows)


def result_hash(sdf) -> str:
    """Stable digest of a canonical (column-sorted, row-sorted,
    full-float-repr) pandas result — engine- and order-independent."""
    import hashlib

    h = hashlib.md5()
    h.update(",".join(sorted(sdf.columns)).encode())
    for row in canon(sdf):
        h.update("\x1f".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    argv = list(sys.argv[1:])
    hashes_out = None
    if "--hashes-out" in argv:
        i = argv.index("--hashes-out")
        if i + 1 >= len(argv):
            print("usage: selfcheck.py [sf_dir] [--hashes-out PATH] [query...]")
            return 2
        hashes_out = argv[i + 1]
        del argv[i: i + 2]
    module_suffix = None
    if "--module" in argv:
        i = argv.index("--module")
        module_suffix = argv[i + 1]
        del argv[i: i + 2]
    sys.argv = [sys.argv[0]] + argv
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    hashes: dict[str, dict] = {}

    from qudo_etl_pipeline_spark.catalog import registry
    from qudo_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="selfcheck")
    con = duckdb.connect()
    create_duckdb_views(con, sf_dir)

    specs = registry()
    failures = []
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        # --module relational: restrict to one catalog family (the
        # NULL-salt parity sweep runs families whose queries read the
        # salted base tables, not planted fixtures)
        if module_suffix and not spec.spark.__module__.endswith(
            "." + module_suffix
        ):
            continue
        t0 = time.time()
        try:
            # each query's ranged-frame caches are released once its
            # result is fully materialized — the catalog-wide sweep never
            # accumulates CacheManager entries
            from qudo_etl_pipeline_spark.operators.prefix import (
                prefix_cache_scope,
            )

            with prefix_cache_scope():
                frame = spec.spark(spark, sf_dir)
                # driver-hashability pin (r10): the driver's pandas
                # hasher cannot hash Array/Map/Struct cells, so no
                # catalog output may be complex-typed
                complex_cols = complex_typed_cols(frame.schema)
                if complex_cols:
                    failures.append(name)
                    print(
                        f"FAIL {name}: complex-typed output columns "
                        f"{complex_cols} (driver-unhashable)"
                    )
                    continue
                sdf = frame.toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if hashes_out:
            hashes[name] = {
                "rows": len(sdf),
                "cols": sorted(sdf.columns),
                "hash": result_hash(sdf),
            }
        if spec.oracle is None:
            status = "rows-only"
            ok = len(sdf) >= 0
            print(f"{'ok  ' if ok else 'FAIL'} {name:32s} [{status}] "
                  f"rows={len(sdf)} ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.sql(spec.oracle).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue

        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(
                f"schema spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
            )
        if not problems:
            s_rows, o_rows = canon(sdf), canon(odf)
            if s_rows != o_rows:
                n_bad = sum(1 for a, b in zip(s_rows, o_rows) if a != b)
                problems.append(f"values differ in ~{n_bad} rows")
                for a, b in list(zip(s_rows, o_rows))[:200]:
                    if a != b:
                        problems.append(f"  spark : {a}\n  oracle: {b}")
                        break
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems[:3]))
        else:
            print(f"ok   {name:32s} rows={len(sdf)} ({time.time()-t0:.1f}s)")

    print()
    if hashes_out:
        import json

        with open(hashes_out, "w") as fh:
            json.dump(hashes, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"result-hash manifest ({len(hashes)} queries) -> {hashes_out}")
    if failures:
        print(f"FAILED: {len(failures)} queries: {failures}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
