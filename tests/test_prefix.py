"""ranged_prefix_sums: the shared range-partitioned prefix-sum device."""

import pytest
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.operators.prefix import ranged_prefix_sums


def _seq(vals):
    out, c = [], 0
    for v in vals:
        c += v
        out.append(c)
    return out


def test_global_inclusive_and_exclusive_match_sequential(spark):
    # unique keys in scrambled input order, enough rows to span several
    # range partitions under the test session's shuffle_partitions
    keys = [(i * 37) % 101 for i in range(101)]
    rows = [(k, k % 7 + 1) for k in keys]
    df = spark.createDataFrame(rows, "k bigint, x bigint")
    ordered = sorted(rows)
    inc = {
        r["k"]: r["cum"]
        for r in ranged_prefix_sums(df, ["k"], {"cum": "x"}).collect()
    }
    exc = {
        r["k"]: r["cum"]
        for r in ranged_prefix_sums(
            df, ["k"], {"cum": "x"}, inclusive=False
        ).collect()
    }
    seq = _seq([x for _, x in ordered])
    for i, (k, x) in enumerate(ordered):
        assert inc[k] == seq[i], k
        assert exc[k] == seq[i] - x, k


def test_multiple_sum_columns_one_pass(spark):
    rows = [(i, 1, i) for i in range(50)]
    df = spark.createDataFrame(rows, "k bigint, one bigint, x bigint")
    out = {
        r["k"]: (r["cnt"], r["sx"])
        for r in ranged_prefix_sums(
            df, ["k"], {"cnt": "one", "sx": "x"}
        ).collect()
    }
    for k in range(50):
        assert out[k] == (k + 1, k * (k + 1) // 2), k


def test_grouped_prefix_sums_restart_per_group(spark):
    # groups deliberately interleaved in key space so group boundaries
    # straddle range partitions
    rows = [(g, i, 1) for g in ("a", "b", "c") for i in range(40)]
    df = spark.createDataFrame(rows, "g string, k bigint, x bigint")
    out = ranged_prefix_sums(
        df, ["k"], {"cum": "x"}, group_cols=["g"]
    ).collect()
    for r in out:
        assert r["cum"] == r["k"] + 1, (r["g"], r["k"])


def test_decimal_sums_stay_exact(spark):
    rows = [(i, "0.1") for i in range(100)]
    df = spark.createDataFrame(rows, "k bigint, s string").select(
        "k", F.col("s").cast("decimal(18,6)").alias("w")
    )
    out = {
        r["k"]: r["cum"]
        for r in ranged_prefix_sums(df, ["k"], {"cum": "w"}).collect()
    }
    from decimal import Decimal

    for k in range(100):
        assert out[k] == Decimal("0.1") * (k + 1), k


def test_device_plan_has_no_unpartitioned_data_window(spark):
    """The scale contract itself: the only Window over the DATA frame
    is partitioned by the physical partition id; the only ordered
    unpartitioned window runs on the partition-TOTALS frame (bounded
    by shuffle partition count), recognizable by its _pt_ columns."""
    df = spark.range(1000).select(
        F.col("id").alias("k"), F.lit(1).alias("x")
    )
    plan = (
        ranged_prefix_sums(df, ["k"], {"cum": "x"})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    windows = [
        line for line in plan.splitlines() if "windowspecdefinition" in line
    ]
    assert windows, "expected window nodes in the device plan"
    for line in windows:
        partitioned_by_pid = "windowspecdefinition(_pid#" in line
        totals_frame = "_pt_" in line
        assert partitioned_by_pid or totals_frame, line


def test_cache_registry_dedup_and_clear(spark):
    from qudo_etl_pipeline_spark.operators import prefix as P

    P.clear_prefix_caches()
    df = spark.createDataFrame(
        [(i, 1) for i in range(50)], "k bigint, x bigint"
    )
    out1 = ranged_prefix_sums(df, ["k"], {"cum": "x"})
    out2 = ranged_prefix_sums(df, ["k"], {"cum": "x"})
    # ONE registry entry for the identical plan -- no duplicate cache
    assert sum(len(v) for v in P._REGISTRY.values()) == 1
    assert {r["k"]: r["cum"] for r in out1.collect()} == {
        r["k"]: r["cum"] for r in out2.collect()
    }
    frame = next(iter(P._REGISTRY.values()))[0]
    assert frame.storageLevel.useMemory
    assert P.clear_prefix_caches() == 1
    assert not P._REGISTRY
    assert not frame.storageLevel.useMemory


def test_prefix_cache_scope_releases_only_its_own(spark):
    from qudo_etl_pipeline_spark.operators import prefix as P

    P.clear_prefix_caches()
    outer_df = spark.createDataFrame(
        [(i, 1) for i in range(40)], "k bigint, x bigint"
    )
    ranged_prefix_sums(outer_df, ["k"], {"cum": "x"}).collect()
    assert sum(len(v) for v in P._REGISTRY.values()) == 1
    with P.prefix_cache_scope():
        inner_df = spark.createDataFrame(
            [(i, 2) for i in range(40)], "k bigint, y bigint"
        )
        ranged_prefix_sums(inner_df, ["k"], {"cum": "y"}).collect()
        # outer cache reused inside the scope must NOT be captured
        ranged_prefix_sums(outer_df, ["k"], {"cum": "x"}).collect()
        assert sum(len(v) for v in P._REGISTRY.values()) == 2
    # scope exit released ONLY the inner acquisition
    assert sum(len(v) for v in P._REGISTRY.values()) == 1
    remaining = next(iter(P._REGISTRY.values()))[0]
    assert remaining.storageLevel.useMemory
    P.clear_prefix_caches()


def test_nested_scopes_compose(spark):
    from qudo_etl_pipeline_spark.operators import prefix as P

    P.clear_prefix_caches()
    df_a = spark.createDataFrame([(i, 1) for i in range(10)], "k bigint, x bigint")
    df_b = spark.createDataFrame([(i, 3) for i in range(10)], "k bigint, z bigint")
    with P.prefix_cache_scope():
        ranged_prefix_sums(df_a, ["k"], {"cum": "x"}).collect()
        with P.prefix_cache_scope():
            ranged_prefix_sums(df_b, ["k"], {"cum": "z"}).collect()
            assert sum(len(v) for v in P._REGISTRY.values()) == 2
        assert sum(len(v) for v in P._REGISTRY.values()) == 1
    assert not P._REGISTRY


def test_scope_stack_is_thread_local(spark):
    # A scope opened on the main thread must NOT capture acquisitions
    # made by a worker thread (and vice versa) — a shared stack let one
    # thread's scope exit unpersist caches another thread still used.
    import threading

    from qudo_etl_pipeline_spark.operators import prefix as P

    P.clear_prefix_caches()
    worker_df = spark.createDataFrame(
        [(i, 5) for i in range(30)], "k bigint, w bigint"
    )
    errors: list[Exception] = []

    def worker():
        try:
            ranged_prefix_sums(worker_df, ["k"], {"cum": "w"}).collect()
        except Exception as exc:  # surfaced on the main thread below
            errors.append(exc)

    with P.prefix_cache_scope():
        t = threading.Thread(target=worker)
        t.start()
        t.join()
    assert not errors
    # the worker's unscoped acquisition survived the main scope's exit
    assert sum(len(v) for v in P._REGISTRY.values()) == 1
    frame = next(iter(P._REGISTRY.values()))[0]
    assert frame.storageLevel.useMemory
    assert P.clear_prefix_caches() == 1


def test_rearmed_frame_stays_with_its_owning_scope(spark):
    # An inner scope that re-arms a frame an outer scope owns (after an
    # external unpersist) must not release it on exit: the outer owner
    # still uses it, and only the outer scope's exit releases it.
    from qudo_etl_pipeline_spark.operators import prefix as P

    P.clear_prefix_caches()
    df = spark.createDataFrame([(i, 1) for i in range(20)], "k bigint, x bigint")
    with P.prefix_cache_scope():
        frame = P.acquire_operator_cache(df.groupBy("k").count())
        frame.unpersist()  # e.g. ContextCleaner or a direct release
        assert not frame.storageLevel.useMemory
        with P.prefix_cache_scope():
            again = P.acquire_operator_cache(df.groupBy("k").count())
            assert again is frame and frame.storageLevel.useMemory
        assert frame.storageLevel.useMemory
        assert sum(len(v) for v in P._REGISTRY.values()) == 1
    assert not frame.storageLevel.useMemory
    assert not P._REGISTRY


def test_device_offsets_join_is_broadcast_hash(spark):
    """The null-safe (eqNullSafe) offsets join must stay a
    BroadcastHashJoin — EqualNullSafe is a valid hash-join key, and a
    silent decay to BroadcastNestedLoop would turn the device's O(P)
    offsets lookup into O(P^2) per partition at scale."""
    from pyspark.sql import functions as F

    from qudo_etl_pipeline_spark.operators import prefix as P

    df = spark.createDataFrame(
        [(i % 3 if i % 7 else None, float(i)) for i in range(60)],
        "g int, v double",
    ).withColumn("_one", F.lit(1))
    with P.prefix_cache_scope():
        out = ranged_prefix_sums(df, ["v"], {"rn": "_one"}, group_cols=["g"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        # NULL group rows survive the join (the r11 fix)
        null_rows = out.filter(F.col("g").isNull()).count()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert null_rows == len([i for i in range(60) if i % 7 == 0])
