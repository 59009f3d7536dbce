"""Range-partitioned distributed prefix sums, and the session-wide
OPERATOR-CACHE REGISTRY (:func:`acquire_operator_cache` /
:func:`prefix_cache_scope` / :func:`clear_prefix_caches`) that grew
out of the prefix device's ranged-frame lifecycle and now governs
every operator's materialize-once caches (curation, text, analytics,
entity, sketches, temporal, ml, contingency, similarity — one
plan-keyed entry per session, scope-released).

The prefix device itself is the machinery behind
``quantile_normalize`` / ``weighted_quantile`` /
``token_budget_sample``, extracted so every rank-statistic operator
shares ONE scale-safe implementation instead of each hand-rolling a
``Window.orderBy(...)`` — which has no PARTITION BY and therefore moves
the whole frame through a single task: fine on a value-domain-sized
frame, a scale-killer the day a caller feeds a row-count-sized one
(e.g. a KS test over a continuous measure, where the distinct-value
frame IS the row count).

Shape (three stages, ~2 shuffles, no single-task stage):

1. ``repartitionByRange`` on the order key — each output partition
   holds a contiguous key range, partition count set by
   ``spark.sql.shuffle.partitions`` (cached: both downstream branches
   must observe ONE physical partitioning, since stage 3 joins on the
   partition id).
2. Per-partition local running sums (``Window.partitionBy(_pid)`` —
   parallel across partitions) plus per-partition totals (ONE keyed
   aggregate, partition-count-sized output).
3. The totals frame windows into per-partition starting offsets — an
   ordered window over a PARTITION-COUNT-sized frame, the only ordered
   scan in the plan — and broadcast-joins back: global cum = local cum
   + partition offset.

Reference parity note: the reference engine computes rank statistics
with eager single-process scans (sorted numpy arrays); this is the
distributed re-expression with identical arithmetic.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "ranged_prefix_sums",
    "prefix_cache_scope",
    "clear_prefix_caches",
    "acquire_operator_cache",
]

# ranged-frame cache registry: semanticHash -> cached frames. ONE
# cache entry per distinct logical plan per session — a repeated plan
# (bench re-runs, a catalog query built twice) reuses the existing
# entry instead of issuing a second .cache() (which Spark answers
# with an "Asked to cache already cached data" warning and a duplicate
# CacheManager lookup). Entries live until clear_prefix_caches() /
# scope exit / session end; stale entries from stopped sessions are
# replaced on the next acquire for the same plan.
_LOCK = threading.Lock()
_REGISTRY: dict[int, list[DataFrame]] = {}
# Scope stack is THREAD-LOCAL: concurrent threads each attribute their
# acquisitions to their OWN innermost scope — a shared stack would let
# thread A's scope exit unpersist a cache thread B is mid-query on.
_TLS = threading.local()


def _scope_stack() -> list[list[DataFrame]]:
    stack = getattr(_TLS, "stack", None)
    if stack is None:
        stack = _TLS.stack = []
    return stack


def _session_alive(frame: DataFrame) -> bool:
    try:
        return frame.sparkSession.sparkContext._jsc is not None
    except Exception:
        return False


def _evict_dead_sessions_locked() -> None:
    """Drop registry entries whose session has stopped (holding the
    lock) — otherwise a stale frame keeps a strong ref to the dead
    session's plan until a same-hash acquire happens to replace it.
    """
    for key in list(_REGISTRY):
        kept = [f for f in _REGISTRY[key] if _session_alive(f)]
        if kept:
            _REGISTRY[key] = kept
        else:
            _REGISTRY.pop(key)


def _acquire_ranged(ranged: DataFrame) -> DataFrame:
    """Cache ``ranged`` exactly once per (session, logical plan)."""
    with _LOCK:
        _evict_dead_sessions_locked()
        key = ranged.semanticHash()
        bucket = _REGISTRY.setdefault(key, [])
        for cand in bucket:
            if cand.sparkSession is ranged.sparkSession and cand.sameSemantics(
                ranged
            ):
                # re-arm: an external unpersist (ContextCleaner, an
                # owner's direct release, ContingencyTables.unpersist)
                # can drop the CacheManager entry while the registry
                # still holds the frame — returning it uncached would
                # silently lose the materialize-once contract (for
                # ranged frames, a CORRECTNESS contract: both branches
                # must observe one physical partitioning). The frame is
                # NOT registered with the current scope: a registry hit
                # means its owning scope is still open and releases it
                # (or it was acquired unscoped and clear_prefix_caches
                # covers it) — an inner or other-thread scope's exit
                # must not unpersist a cache its owner still uses.
                if not (
                    cand.storageLevel.useMemory
                    or cand.storageLevel.useDisk
                ):
                    cand.cache()
                return cand
        # storageLevel check: the plan may already sit in Spark's
        # CacheManager (cached outside the registry, or re-acquired
        # after an eviction race) — calling .cache() again would only
        # log "Asked to cache already cached data" per call
        if ranged.storageLevel.useMemory or ranged.storageLevel.useDisk:
            cached = ranged
        else:
            cached = ranged.cache()
        bucket.append(cached)
        stack = _scope_stack()
        if stack:
            stack[-1].append(cached)
        return cached


def acquire_operator_cache(frame: DataFrame) -> DataFrame:
    """Cache ``frame`` once per (session, logical plan), under the SAME
    lifecycle as the ranged-frame caches: released when the innermost
    :func:`prefix_cache_scope` exits, and always covered by
    :func:`clear_prefix_caches`. The entry point for any operator
    (e.g. ``similarity.semantic_dedup``) whose returned plan depends on
    a persisted intermediate that outlives the function call — a bare
    ``.persist()`` there would leak one CacheManager entry per call for
    the session's lifetime, while registry acquisition both bounds
    entries (same plan -> same entry) and gives harnesses a release
    hook they already hold.
    """
    return _acquire_ranged(frame)


def _forget(frame: DataFrame) -> None:
    """Unpersist ``frame`` and drop it from the registry (id match)."""
    try:
        frame.unpersist()
    except Exception:  # session already stopped — nothing to release
        pass
    for key in list(_REGISTRY):
        kept = [f for f in _REGISTRY[key] if f is not frame]
        if kept:
            _REGISTRY[key] = kept
        else:
            _REGISTRY.pop(key)


def clear_prefix_caches() -> int:
    """Release EVERY live operator cache in the registry — the
    ranged frames of :func:`ranged_prefix_sums` AND every frame any
    operator routed through :func:`acquire_operator_cache` (curation,
    text, analytics, entity, sketches, temporal, ml, contingency,
    similarity — roughly twenty operators since r12/r13). The
    batch-boundary call for long-lived drivers (surgical, unlike
    ``spark.catalog.clearCache()`` which also evicts unrelated user
    caches). Returns the number of entries released.
    """
    with _LOCK:
        n = 0
        for frames in _REGISTRY.values():
            for fr in frames:
                try:
                    fr.unpersist()
                except Exception:  # stopped session — ref still freed
                    pass
                n += 1
        _REGISTRY.clear()
        return n


@contextmanager
def prefix_cache_scope():
    """Scope whose exit releases every operator cache FIRST acquired
    inside it — ranged prefix-sum frames and every
    :func:`acquire_operator_cache` acquisition alike. Wrap code that
    fully materializes its outputs
    (a selfcheck/bench query, one batch of a long-lived driver)::

        with prefix_cache_scope():
            result = my_rank_statistic(df).collect()

    Caches that were already live when the scope opened (acquired by
    an enclosing scope or unscoped code) are left untouched, so nested
    scopes compose: each releases only what it introduced. Scopes are
    per-thread: a scope only ever captures (and releases) acquisitions
    made on the thread that opened it.
    """
    acquired: list[DataFrame] = []
    stack = _scope_stack()
    stack.append(acquired)
    try:
        yield
    finally:
        stack.pop()
        with _LOCK:
            for fr in acquired:
                _forget(fr)


def ranged_prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: dict[str, str],
    group_cols: list[str] | None = None,
    inclusive: bool = True,
) -> DataFrame:
    """Append global running sums over ``order_cols`` order to ``df``.

    ``sum_cols`` maps each OUTPUT column name to the INPUT column it
    accumulates; ``inclusive=False`` gives the exclusive ("cum before")
    form, zero on each first row. With ``group_cols`` the running sums
    restart per group (groups may straddle range partitions — offsets
    are tracked per (partition, group)).

    Contract: the summed columns must be exactly summable (integral or
    DECIMAL) — partition totals aggregate WITHOUT an intra-partition
    order, which reassociates IEEE addition; integers and DECIMALs are
    association-free so the result is bit-identical to a sequential
    scan in any engine. Order keys SHOULD be unique per group (the
    distinct-value frames every rank statistic runs on satisfy this by
    construction): duplicate keys may split across range partitions,
    making the cum values AT the duplicates tie-order/engine-dependent.
    Duplicates are still safe for uses that only consume
    tie-order-INVARIANT reductions of the cum — monotone
    threshold-crossing (weighted_quantile: a value group crosses iff
    its end cum does) or pure counts over full-row duplicates
    (ntile_bucketize: swapping identical rows is a no-op downstream).

    Cache lifecycle: the ranged frame is ``.cache()``d because range
    boundaries are SAMPLED per execution — without one materialized
    partitioning, the local-cum and totals branches could disagree on
    partition ids and silently mis-offset. The entry lives in the
    session's CacheManager until released (it is NOT reclaimed merely
    by dropping the returned plan). Acquisition goes through a
    semantic-dedup registry, so a repeated plan reuses its existing
    entry (no duplicate cache calls); release is SCOPED:
    short-lived sessions (tests, selfcheck, bench, jobs) shed entries
    at exit, a long-lived driver wraps each fully-materialized batch
    in :func:`prefix_cache_scope` or calls :func:`clear_prefix_caches`
    at batch boundaries.
    """
    groups = list(group_cols or [])
    order = [F.asc(c) for c in groups] + [F.asc(c) for c in order_cols]
    # cache before _pid: see "Cache lifecycle" above — correctness, not
    # speed; both branches must observe ONE physical partitioning
    part = _acquire_ranged(df.repartitionByRange(*order))
    part = part.withColumn("_pid", F.spark_partition_id())
    bound = 0 if inclusive else -1
    inner = (
        Window.partitionBy("_pid", *groups)
        .orderBy(*[F.asc(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, bound)
    )
    local = part.select(
        "*",
        *[
            F.coalesce(F.sum(src).over(inner), F.lit(0)).alias(
                f"_cin_{out}"
            )
            for out, src in sum_cols.items()
        ],
    )
    totals = part.groupBy("_pid", *groups).agg(
        *[
            F.sum(src).alias(f"_pt_{out}")
            for out, src in sum_cols.items()
        ]
    )
    off_w = (
        Window.partitionBy(*groups)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_pid",
        *groups,
        *[
            F.coalesce(F.sum(f"_pt_{out}").over(off_w), F.lit(0)).alias(
                f"_off_{out}"
            )
            for out in sum_cols
        ],
    )
    # null-safe offsets join: a NULL group key is a group — the plain
    # key-list join silently dropped its rows from every consumer of
    # the device (r11 NULL-salt parity; NULL-free inputs unchanged)
    # rename EVERY join column on the offsets side (_pid included):
    # same-name column refs from a self-derived frame make Spark log
    # "Constructing trivially true equals predicate" per run — resolved
    # correctly, but the WARN floods bench/selfcheck stderr
    ren = offsets.withColumnRenamed("_pid", "_opid")
    for i, g in enumerate(groups):
        ren = ren.withColumnRenamed(g, f"_gk{i}")
    cond = local["_pid"] == F.col("_opid")
    for i, g in enumerate(groups):
        cond = cond & local[g].eqNullSafe(F.col(f"_gk{i}"))
    joined = local.join(F.broadcast(ren), cond).drop(
        "_opid", *[f"_gk{i}" for i in range(len(groups))]
    )
    return joined.select(
        *df.columns,
        *[
            (F.col(f"_cin_{out}") + F.col(f"_off_{out}")).alias(out)
            for out in sum_cols
        ],
    )
