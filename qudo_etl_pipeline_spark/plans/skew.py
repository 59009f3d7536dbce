"""Skew-mitigation plan helpers: key salting.

AQE (enabled in session.py) already splits skewed sort-merge-join
partitions at runtime, and hash aggregation does map-side partial
aggregation: a hot key of a sum/count/min/max aggregate sends at most
one partial row per map task to its reducer, so aggregates need no
salting (the contingency cell aggregation relies on exactly this).
Explicit salting remains the right tool for joins where a broadcast is
impossible (both sides large) AND the hot keys are so dominant that
even a split partition is one task's worth of a single key (AQE splits
by partition, not by key).

``salted_join`` replicates the small(er) side once per salt so the big
side's hot key fans out over ``n_salts`` tasks. It is result-identical
to the unsalted join (tests/test_plans.py).

Scale note (100 TB): salting multiplies the replicated side by
``n_salts`` — use it per-hot-key-table, not as a default; the salt
column derives from a deterministic per-row hash, so retries/speculative
tasks stay consistent (no rand()).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt_col(df: DataFrame, n_salts: int) -> Column:
    """Row salt in [0, n_salts): DETERMINISTIC content hash of the row.

    Determinism is a fault-tolerance requirement, not a nicety: a salt
    derived from row POSITION (monotonically_increasing_id) changes when
    a lost map task regenerates its input in a different fetch order, so
    reducers holding partials from the old generation and reducers
    reading the new one could count the same row under two different
    salts — double-counting (or dropping) rows exactly when a large job
    hits executor loss. A content hash assigns every row the same salt
    on every regeneration.

    Byte-identical duplicate rows necessarily share a salt, so a flood
    of fully identical big-side rows stays on one reducer; spreading
    those would require nondeterminism, which the correctness argument
    forbids.
    """
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]),
        F.lit(n_salts),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side's hot keys fanned out over n_salts.

    The big side gets a deterministic salt; the small side is exploded
    once per salt value so every (key, salt) pair finds its match. The
    shuffle then distributes each hot key over n_salts reducers instead
    of one. Result-identical to ``big.join(small, on, how)`` for
    inner/left joins.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    salted_big = big.withColumn("_salt", _salt_col(big, n_salts))
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("bigint"))
    joined = salted_big.join(salted_small, [*on, "_salt"], how)
    return joined.drop("_salt")


def choose_join_strategy(
    profile: dict[str, int],
    broadcast_rows: int = 1_000_000,
    skew_factor: int = 8,
    max_salts: int = 32,
) -> dict:
    """Pick a physical join strategy from a :func:`~qudo_etl_pipeline_
    spark.operators.checks.join_profile` measurement — the
    profile->plan decision a pipeline makes once per big recurring
    join instead of rediscovering skew in production:

    - **broadcast** when either side's total rows fit the broadcast
      budget (the smaller side is the build side; ties go right, the
      conventional dimension position);
    - **salted** when the bigger side's hottest matched key holds at
      least ``skew_factor`` times its average matched-key rows (the
      max*keys >= factor*rows integer test — AQE splits by partition,
      not by key, so a single mega-key still serializes without
      salting); ``n_salts`` is the hot/average ratio, capped;
    - **shuffle** otherwise: a plain key-partitioned join is already
      the right plan for balanced large-large joins.

    Every comparison is integer arithmetic on the profile's exact
    counts — the same decision in any engine, oracle-checkable in SQL.
    """
    rl, rr = profile["rows_left"], profile["rows_right"]
    if min(rl, rr) <= broadcast_rows:
        side = "right" if rr <= rl else "left"
        return {
            "strategy": "broadcast",
            "build_side": side,
            "n_salts": None,
        }
    km = profile["keys_matched"]
    big_side = "left" if rl >= rr else "right"
    mx = profile[f"max_{big_side}_rows_per_key"]
    rm = profile[f"rows_{big_side}_matched"]
    if km > 0 and rm > 0 and mx * km >= skew_factor * rm:
        ratio = (mx * km + rm - 1) // rm  # ceil(max / avg), exact
        return {
            "strategy": "salted",
            "build_side": big_side,
            "n_salts": min(max_salts, ratio),
        }
    return {"strategy": "shuffle", "build_side": None, "n_salts": None}


def profiled_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    broadcast_rows: int = 1_000_000,
    skew_factor: int = 8,
    max_salts: int = 32,
) -> tuple[DataFrame, dict]:
    """Measure-then-join: run :func:`join_profile` (two keyed
    aggregates + one key-frame join — O(keys), never the fan-out),
    collect its O(14)-row summary, pick a strategy with
    :func:`choose_join_strategy`, and return the joined frame built
    that way plus the decision dict (with the profile under
    ``"profile"`` for the run log).

    Result-identical to ``left.join(right, on, how)`` in every branch
    (broadcast and salting are physical hints only). The profile costs
    one extra pass over both key columns — worth it exactly for the
    big recurring joins this is for; don't wrap trivially-broadcastable
    dimension joins.
    """
    from qudo_etl_pipeline_spark.operators.checks import join_profile

    prof = {
        r["metric"]: r["n"]
        for r in join_profile(left, right, on, on).collect()
    }
    decision = choose_join_strategy(
        prof,
        broadcast_rows=broadcast_rows,
        skew_factor=skew_factor,
        max_salts=max_salts,
    )
    if decision["strategy"] == "broadcast":
        if decision["build_side"] == "right":
            joined = left.join(F.broadcast(right), on, how)
        else:
            joined = F.broadcast(left).join(right, on, how)
    elif decision["strategy"] == "salted":
        big_is_left = decision["build_side"] == "left"
        if big_is_left:
            joined = salted_join(
                left, right, [on], n_salts=decision["n_salts"], how=how
            )
        else:
            # salted_join salts the BIG side; mirror then restore the
            # column order the plain join would produce
            if how != "inner":
                joined = left.join(right, on, how)
            else:
                mirrored = salted_join(
                    right, left, [on], n_salts=decision["n_salts"]
                )
                joined = mirrored.select(
                    on,
                    *[c for c in left.columns if c != on],
                    *[c for c in right.columns if c != on],
                )
    else:
        joined = left.join(right, on, how)
    return joined, {**decision, "profile": prof}
