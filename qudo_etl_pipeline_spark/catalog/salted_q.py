"""NULL-salted catalog queries: the driver-visible NULL-parity gate.

Round 11 proved every operator NULL-robust against a salted parquet
fixture (`tools/null_salt.py`), but the driver's
own correctness gate reads the PRISTINE sf tables — which the generator
emits NULL-free — so a NULL-semantics regression could never trip a
correctness record. This family closes that: one catalog query per
documented NULL-divergence class, each salting its input INLINE with a
deterministic seeded probe both engines compute identically::

    NULL where substr(md5(CAST(rowkey AS VARCHAR) || ':tag:v1'), 1, 1) = '0'

(md5 of the same string is bit-identical in Spark and DuckDB — verified
— so both sides see the SAME ~6.25% of cells NULLed, seeded by the
natural row key exactly like tools/null_salt.py). Any divergence is a
real cross-engine NULL-semantics mismatch, now caught by the canonical
driver gate instead of only the out-of-band salted sweep.

The six classes the salted sweep found:

1. null ordering            -> :func:`salted_rank_orders`
2. null-unsafe join-backs   -> :func:`salted_group_join_back`
3. aggregate null-skip      -> :func:`salted_agg_null_skip`
4. rows the op defines away -> :func:`salted_events_hourly`
5. oracles must measure NULL-> :func:`salted_join_profile`
6. crash class (prefix dev) -> :func:`salted_weighted_median`
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.catalog import (
    load_events,
    load_table,
    register,
)

DEC = "decimal(18,4)"


def _salt(col: str | Column, key: str | Column, tag: str) -> Column:
    """NULL ``col`` where the seeded row-key hash lands in 1/16 of the
    space — the Spark half of the cross-engine salt probe."""
    key_c = F.col(key) if isinstance(key, str) else key
    col_c = F.col(col) if isinstance(col, str) else col
    probe = (
        F.substring(
            F.md5(F.concat(key_c.cast("string"), F.lit(f":{tag}:v1"))),
            1,
            1,
        )
        == "0"
    )
    return F.when(probe, F.lit(None)).otherwise(col_c)


def _salt_sql(col: str, key: str, tag: str) -> str:
    """The DuckDB half: textually different, value-identical."""
    return (
        f"CASE WHEN substr(md5(CAST({key} AS VARCHAR) || ':{tag}:v1'),"
        f" 1, 1) = '0' THEN NULL ELSE {col} END"
    )


# --- class 1: null ordering -------------------------------------------------

_RANK_SALT = _salt_sql("o_totalprice", "o_orderkey", "salt:o_totalprice")


@register(
    "salted_rank_orders",
    oracle=f"""
    WITH s AS (
      SELECT o_orderkey, o_orderpriority,
             {_RANK_SALT} AS price_s
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey, price_s,
           CAST(RANK() OVER (PARTITION BY o_orderpriority
                ORDER BY price_s DESC NULLS LAST,
                         o_orderkey ASC NULLS LAST) AS BIGINT)
             AS rnk
    FROM s
    QUALIFY o_orderkey % 97 = 0
    """,
    survey_ids=["W1", "W3"],
    description="NULL-parity gate class 1 (null ordering): rank per "
    "priority over an inline-salted price, DESC NULLS LAST pinned on "
    "both engines — NULL prices rank after every real price",
)
def salted_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        _salt("o_totalprice", "o_orderkey", "salt:o_totalprice").alias(
            "price_s"
        ),
    )
    # the tie-break key itself is pinned NULLS LAST too: on a fixture
    # where o_orderkey carries NULLs (the double-salted sweep), a bare
    # asc() would diverge from the oracle's SQL default (r12 sweep)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc_nulls_last("price_s"), F.asc_nulls_last("o_orderkey")
    )
    return o.withColumn("rnk", F.rank().over(w).cast("bigint")).filter(
        F.col("o_orderkey") % 97 == 0
    )


# --- class 2: null-unsafe joins dropping NULL-key groups --------------------

_NK_SALT = _salt_sql("c_nationkey", "c_custkey", "salt:c_nationkey")


@register(
    "salted_group_join_back",
    oracle=f"""
    WITH s AS (
      SELECT c_custkey, c_acctbal, {_NK_SALT} AS nk
      FROM customer
    ),
    g AS (
      SELECT nk, CAST(COUNT(*) AS BIGINT) AS grp_cnt,
             ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)))
                   AS DOUBLE) / COUNT(*), 6) AS grp_avg_bal
      FROM s GROUP BY nk
    )
    SELECT s.c_custkey, s.nk, g.grp_cnt, g.grp_avg_bal
    FROM s JOIN g ON s.nk IS NOT DISTINCT FROM g.nk
    WHERE s.c_custkey % 37 = 0
    """,
    survey_ids=["J1", "J5", "A4"],
    description="NULL-parity gate class 2 (null-unsafe join-back): "
    "group stats on an inline-salted nation key joined back eqNullSafe "
    "— the NULL-key group's rows must survive the join on both engines",
)
def salted_group_join_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        _salt("c_nationkey", "c_custkey", "salt:c_nationkey").alias("nk"),
    )
    grp = cust.groupBy(F.col("nk").alias("_nk2")).agg(
        F.count(F.lit(1)).alias("grp_cnt"),
        F.round(
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("grp_avg_bal"),
    )
    return (
        cust.join(
            F.broadcast(grp), cust["nk"].eqNullSafe(F.col("_nk2"))
        )
        .filter(F.col("c_custkey") % 37 == 0)
        .select("c_custkey", "nk", "grp_cnt", "grp_avg_bal")
    )


# --- class 3: aggregate null-skip vs arithmetic ------------------------------

_LI_KEY = "l_orderkey * 8 + l_linenumber"
_QTY_SALT = _salt_sql("l_quantity", _LI_KEY, "salt:l_quantity")
_LS_SALT = _salt_sql("l_linestatus", _LI_KEY, "salt:l_linestatus")


@register(
    "salted_agg_null_skip",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             {_QTY_SALT} AS qty_s,
             {_LS_SALT} AS status_s
      FROM lineitem
    )
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(qty_s) AS n_qty,
           CAST(SUM(CASE WHEN qty_s IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_qty,
           CAST(SUM(CAST(COALESCE(qty_s, 0) AS DECIMAL(18,4)))
                AS DOUBLE) AS sum_qty_zerofill,
           ROUND(CAST(SUM(CAST(qty_s AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(qty_s), 6) AS avg_qty,
           CAST(COUNT(DISTINCT status_s) AS BIGINT) AS n_status
    FROM s GROUP BY l_returnflag
    """,
    survey_ids=["A5", "A7", "A8"],
    description="NULL-parity gate class 3 (aggregate null-skip): "
    "COUNT(col) / AVG / COUNT DISTINCT skip NULLs while COUNT(*) and "
    "the explicit zero-fill SUM do not — all six semantics pinned "
    "identically on inline-salted quantity/status",
)
def salted_agg_null_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        _salt(F.col("l_quantity"), key, "salt:l_quantity").alias("qty_s"),
        _salt(F.col("l_linestatus"), key, "salt:l_linestatus").alias(
            "status_s"
        ),
    )
    qty = F.col("qty_s")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(qty).alias("n_qty"),
        F.sum(qty.isNull().cast("bigint")).alias("n_null_qty"),
        F.sum(F.coalesce(qty, F.lit(0)).cast(DEC))
        .cast("double")
        .alias("sum_qty_zerofill"),
        F.round(
            F.sum(qty.cast(DEC)).cast("double") / F.count(qty), 6
        ).alias("avg_qty"),
        F.countDistinct("status_s").alias("n_status"),
    )


# --- class 4: rows the operator defines away ---------------------------------

_TS_SALT = _salt_sql("ts", "event_id", "salt:ts")


@register(
    "salted_events_hourly",
    oracle=f"""
    WITH s AS (
      SELECT event_id, user_id, {_TS_SALT} AS ts_s
      FROM events
    )
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts_s),
                    '%Y-%m-%d %H:%M:%S') AS hour,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM s
    -- an event without a timestamp has no hour: the operator edge is
    -- an explicit filter, mirrored here (class 4: F.window generates
    -- nothing for a NULL timestamp)
    WHERE ts_s IS NOT NULL
    GROUP BY 1
    """,
    survey_ids=["W1", "A4"],
    description="NULL-parity gate class 4 (rows the operator defines "
    "away): tumbling 1h window over an inline-salted timestamp — "
    "NULL-ts events are excluded by an explicit, mirrored filter, not "
    "by an engine accident",
)
def salted_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir).select(
        "user_id", _salt("ts", "event_id", "salt:ts").alias("ts_s")
    )
    return (
        e.filter(F.col("ts_s").isNotNull())
        .groupBy(F.window("ts_s", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_events",
            "n_users",
        )
    )


# --- class 5: the profile itself must measure NULLs --------------------------

_CK_SALT = _salt_sql("o_custkey", "o_orderkey", "salt:o_custkey")


@register(
    "salted_join_profile",
    oracle=f"""
    WITH so AS (
      SELECT {_CK_SALT} AS o_custkey FROM orders
    ),
    lk AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS ln
      FROM so GROUP BY o_custkey
    ),
    rk AS (
      SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS rn
      FROM customer GROUP BY c_custkey
    ),
    j AS (
      SELECT lk.k AS lkey, rk.k AS rkey, ln, rn
      FROM lk FULL OUTER JOIN rk ON lk.k = rk.k
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN ln IS NOT NULL AND lkey IS NOT NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS keys_left,
        CAST(SUM(CASE WHEN rn IS NOT NULL AND rkey IS NOT NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS keys_right,
        CAST(SUM(CASE WHEN lkey IS NOT NULL AND rkey IS NOT NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS keys_matched,
        CAST(SUM(CASE WHEN lkey IS NOT NULL AND rn IS NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS keys_left_only,
        CAST(SUM(CASE WHEN rkey IS NOT NULL AND ln IS NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS keys_right_only,
        CAST(COALESCE(SUM(CASE WHEN lkey IS NOT NULL
                 AND rkey IS NOT NULL THEN ln * rn END), 0)
             AS BIGINT) AS joined_rows,
        CAST(COALESCE(MAX(CASE WHEN lkey IS NOT NULL
                 AND rkey IS NOT NULL THEN ln END), 0)
             AS BIGINT) AS max_left_rows_per_key,
        CAST(COALESCE(MAX(CASE WHEN lkey IS NOT NULL
                 AND rkey IS NOT NULL THEN rn END), 0)
             AS BIGINT) AS max_right_rows_per_key,
        CAST(COALESCE(SUM(CASE WHEN ln IS NOT NULL AND lkey IS NULL
                 THEN ln END), 0) AS BIGINT) AS null_keys_left,
        CAST(COALESCE(SUM(CASE WHEN rn IS NOT NULL AND rkey IS NULL
                 THEN rn END), 0) AS BIGINT) AS null_keys_right,
        CAST(COALESCE(SUM(ln), 0) AS BIGINT) AS rows_left,
        CAST(COALESCE(SUM(rn), 0) AS BIGINT) AS rows_right,
        CAST(COALESCE(SUM(CASE WHEN lkey IS NOT NULL
                 AND rkey IS NOT NULL THEN ln END), 0)
             AS BIGINT) AS rows_left_matched,
        CAST(COALESCE(SUM(CASE WHEN lkey IS NOT NULL
                 AND rkey IS NOT NULL THEN rn END), 0)
             AS BIGINT) AS rows_right_matched
      FROM j
    )
    SELECT * FROM (
      SELECT 'keys_left' AS metric, keys_left AS n FROM agg
      UNION ALL SELECT 'keys_right', keys_right FROM agg
      UNION ALL SELECT 'keys_matched', keys_matched FROM agg
      UNION ALL SELECT 'keys_left_only', keys_left_only FROM agg
      UNION ALL SELECT 'keys_right_only', keys_right_only FROM agg
      UNION ALL SELECT 'joined_rows', joined_rows FROM agg
      UNION ALL SELECT 'max_left_rows_per_key', max_left_rows_per_key
        FROM agg
      UNION ALL SELECT 'max_right_rows_per_key', max_right_rows_per_key
        FROM agg
      UNION ALL SELECT 'null_keys_left', null_keys_left FROM agg
      UNION ALL SELECT 'null_keys_right', null_keys_right FROM agg
      UNION ALL SELECT 'rows_left', rows_left FROM agg
      UNION ALL SELECT 'rows_right', rows_right FROM agg
      UNION ALL SELECT 'rows_left_matched', rows_left_matched FROM agg
      UNION ALL SELECT 'rows_right_matched', rows_right_matched FROM agg
    ) ORDER BY metric
    """,
    survey_ids=["J1", "A4", "A7"],
    description="NULL-parity gate class 5 (profiles must measure "
    "NULLs): join_profile over an inline-salted foreign key — the "
    "null_keys_left metric is nonzero BY CONSTRUCTION, so an oracle "
    "hardcoded for NULL-free keys can never pass again",
)
def salted_join_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.checks import join_profile

    orders = load_table(spark, sf_dir, "orders").select(
        _salt("o_custkey", "o_orderkey", "salt:o_custkey").alias(
            "o_custkey"
        )
    )
    cust = load_table(spark, sf_dir, "customer")
    return join_profile(orders, cust, "o_custkey", "c_custkey").orderBy(
        "metric"
    )


# --- class 6: the crash class (prefix device under NULL groups/values) -------

_RF_SALT = _salt_sql("l_returnflag", _LI_KEY, "salt:l_returnflag")
_EP_SALT = _salt_sql("l_extendedprice", _LI_KEY, "salt:l_extendedprice")
_LQ_SALT = _salt_sql("l_quantity", _LI_KEY, "salt:l_quantity")


@register(
    "salted_weighted_median",
    oracle=f"""
    WITH salted AS (
      SELECT {_RF_SALT} AS l_returnflag,
             {_EP_SALT} AS l_extendedprice,
             {_LQ_SALT} AS l_quantity
      FROM lineitem
    ),
    f AS (
      SELECT l_returnflag AS g, l_extendedprice AS v,
             CAST(l_quantity AS DECIMAL(18,6)) AS w
      FROM salted
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    c AS (
      SELECT g, v,
             SUM(w) OVER (PARTITION BY g ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cumw,
             SUM(w) OVER (PARTITION BY g) AS totw,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM f
    )
    SELECT g AS l_returnflag,
           MIN(v) AS wq_value,
           CAST(ANY_VALUE(totw) AS DOUBLE) AS total_weight,
           CAST(ANY_VALUE(n) AS BIGINT) AS n
    FROM c WHERE 2 * cumw >= 1 * totw
    GROUP BY g
    """,
    survey_ids=["A5", "A8", "W1"],
    description="NULL-parity gate class 6 (the r11 crash class): "
    "weighted median through the shared prefix device with the GROUP "
    "KEY itself salted — a NULL group must flow through the eqNullSafe "
    "offsets join and produce its own median, with NULL values/weights "
    "excluded by the operator's documented edge filter",
)
def salted_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators import analytics as A

    key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    li = load_table(spark, sf_dir, "lineitem").select(
        _salt(F.col("l_returnflag"), key, "salt:l_returnflag").alias(
            "l_returnflag"
        ),
        _salt(F.col("l_extendedprice"), key, "salt:l_extendedprice").alias(
            "l_extendedprice"
        ),
        _salt(F.col("l_quantity"), key, "salt:l_quantity").alias(
            "l_quantity"
        ),
    )
    return A.weighted_quantile(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity", 1, 2
    )
