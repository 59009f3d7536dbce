"""Physical-plan audit: operator counts per catalog query.

Prints, for each named catalog query, the executed-plan operator
census — shuffle exchanges, broadcasts, join strategies, window ops,
aggregates, Python eval nodes — so SCALING.md's shuffle-inventory
claims are reproducible:

    python tools/plan_audit.py <sf_dir> <query> [query ...]

Counts are plan properties (scale-invariant); run at any sf.

Caveat: the executed-plan string repeats a cached frame's BUILD plan
under every InMemoryTableScan reference, so queries that reuse a cache
(the contingency family) over-count — treat numbers as upper bounds;
the cache subtree executes once.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OPS = [
    ("shuffle", "Exchange"),  # minus broadcast, adjusted below
    ("broadcast", "BroadcastExchange"),
    ("bhj", "BroadcastHashJoin"),
    ("smj", "SortMergeJoin"),
    ("window", "Window"),
    ("agg", "HashAggregate"),
    ("python", "EvalPython"),
    ("codegen", "WholeStageCodegen"),
]


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit("usage: plan_audit.py <sf_dir> <query> [query ...]")
    sf_dir, names = sys.argv[1], sys.argv[2:]
    from qudo_etl_pipeline_spark.catalog import registry
    from qudo_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="plan_audit")
    specs = registry()
    header = f"{'query':34s}" + "".join(f"{k:>10s}" for k, _ in OPS)
    print(header)
    for name in names:
        df = specs[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        counts = {k: plan.count(tok) for k, tok in OPS}
        counts["shuffle"] -= counts["broadcast"]
        print(f"{name:34s}" + "".join(f"{counts[k]:>10d}" for k, _ in OPS))
    spark.stop()


if __name__ == "__main__":
    main()
