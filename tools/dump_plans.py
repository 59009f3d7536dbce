"""Dump ``.explain("formatted")`` plans for catalog queries to files.

Evidence for a plan change: for every query a change touches, dump the
physical plan before and after —

    python tools/dump_plans.py <out_dir> <suffix> <sf_dir> <query> [query ...]

writes ``<out_dir>/<query>_<suffix>.txt`` per query (suffix is
``before`` at the old commit, ``after`` at HEAD). Run it inside a
checkout of the old commit to produce the ``before`` side.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 5:
        sys.exit("usage: dump_plans.py <out_dir> <suffix> <sf_dir> <query> [query ...]")
    out_dir, suffix, sf_dir, names = *sys.argv[1:4], sys.argv[4:]
    from qudo_etl_pipeline_spark.catalog import registry
    from qudo_etl_pipeline_spark.session import get_spark

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump_plans")
    specs = registry()
    for name in names:
        if name not in specs:
            print(f"skip {name}: not registered at this ref")
            continue
        df = specs[name].spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
