"""Coverage catalog: queries claiming the SURVEY §2 operators not yet
exercised by another catalog module — cleaning transforms (P1/P2/P4/P5),
join shapes (J2/J4), reshapes (R3/R4/R5/R6), population modes (M27), and
the ML/business operators whose loops are driver-composed
(M9/M10/M17/M20/M30/M31/M34/M36).

Planted derivations rename TPC-H-ish columns into the survey naming
conventions the operators key on (the testdata has no real survey table;
the conventions, not the data, carry the behavior — SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.catalog import (
    load_table,
    none_last_key,
    register,
)
from qudo_etl_pipeline_spark.functions.rounding import ref_round_sql
from qudo_etl_pipeline_spark.operators import cleaning as CL


@register(
    "cleaning_pipeline_planted",
    oracle="""
    WITH survey AS (
      SELECT c_custkey AS alchemer_id,
             c_mktsegment AS "FIN_UK_SEG_FB",
             CASE WHEN c_nationkey % 7 = 0 THEN NULL ELSE c_name END AS psy_ww_brand_gg,
             c_acctbal AS resp_time_secs,        -- P1: dropped (_time)
             CAST(c_nationkey AS DOUBLE) AS weight_scaled
      FROM customer
    ),
    cleaned AS (
      -- fill_na_policy sentinels EVERY string column (r11 NULL-salt
      -- parity: a NULL segment becomes its own 'not selected' segment)
      SELECT alchemer_id,
             COALESCE("FIN_UK_SEG_FB", 'not selected')
               AS fin_uk_seg_fb_tgt,               -- P4: lowercase + _tgt
             COALESCE(psy_ww_brand_gg, 'not selected') AS psy_ww_brand_gg_tgt,
             weight_scaled
      FROM survey
    )
    SELECT COUNT(*) AS n_rows,
           CAST(4 AS BIGINT) AS n_cols,
           CAST(SUM(CASE WHEN psy_ww_brand_gg_tgt = 'not selected' THEN 1 ELSE 0 END) AS BIGINT) AS n_not_selected,
           COUNT(DISTINCT fin_uk_seg_fb_tgt) AS n_segments
    FROM cleaned
    """,
    survey_ids=["P1", "P2", "P4", "P5"],
    description="Cleaning pipeline: _time drop, lowercase, NA sentinel fill, "
    "_tgt tagging, fragment selection",
)
def cleaning_pipeline_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    survey = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("alchemer_id"),
        F.col("c_mktsegment").alias("FIN_UK_SEG_FB"),
        F.when(F.col("c_nationkey") % 7 == 0, None)
        .otherwise(F.col("c_name"))
        .alias("psy_ww_brand_gg"),
        F.col("c_acctbal").alias("resp_time_secs"),
        F.col("c_nationkey").cast("double").alias("weight_scaled"),
    )
    cleaned = CL.fill_na_policy(CL.drop_time_cols(survey))  # P1 + P2 (+lowercase)
    cleaned = CL.rename_columns(cleaned, CL.add_tgt_tag(cleaned.columns))  # P4
    frag_cols = CL.select_columns_by_fragments(
        cleaned, ["fin_", "psy_", "alchemer", "weight"]
    )  # P5
    cleaned = cleaned.select(*frag_cols)
    return cleaned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(len(cleaned.columns)).cast("long").alias("n_cols"),
        F.sum(
            (F.col("psy_ww_brand_gg_tgt") == "not selected").cast("long")
        ).alias("n_not_selected"),
        F.countDistinct("fin_uk_seg_fb_tgt").alias("n_segments"),
    )


@register(
    "join_manual_segments",
    oracle="""
    WITH seg AS (
      SELECT DISTINCT c_custkey AS id,
             CASE WHEN c_custkey % 3 = 0 THEN 'manual_a' ELSE 'manual_b' END AS manual_seg
      FROM customer WHERE c_custkey % 2 = 0
    )
    SELECT COALESCE(s.manual_seg, 'unassigned') AS manual_seg,
           COUNT(*) AS n,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c LEFT JOIN seg s ON c.c_custkey = s.id
    GROUP BY 1
    """,
    survey_ids=["J2"],
    description="Left join of manual segment labels on differently-named keys",
)
def join_manual_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    seg = (
        cust.filter(F.col("c_custkey") % 2 == 0)
        .select(
            F.col("c_custkey").alias("id"),
            F.when(F.col("c_custkey") % 3 == 0, "manual_a")
            .otherwise("manual_b")
            .alias("manual_seg"),
        )
        .distinct()
    )
    return (
        # no broadcast hint: seg derives from customer and grows with
        # SF — stats-based planning picks broadcast where it fits
        cust.join(seg, cust.c_custkey == seg.id, "left")
        .select(
            F.coalesce(F.col("manual_seg"), F.lit("unassigned")).alias(
                "manual_seg"
            ),
            "c_acctbal",
        )
        .groupBy("manual_seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
    )


@register(
    "positional_join",
    oracle="""
    WITH a AS (
      -- NULLS FIRST mirrors the prefix device's Spark asc() ordering
      SELECT s_name, ROW_NUMBER() OVER (ORDER BY s_suppkey NULLS FIRST) AS rn
      FROM supplier
    ),
    b AS (
      -- NULLS FIRST mirrors Spark's bare window asc() on this side
      SELECT n_name, ROW_NUMBER() OVER (ORDER BY n_nationkey NULLS FIRST) AS rn
      FROM nation
    )
    SELECT a.rn, a.s_name, b.n_name
    FROM a JOIN b ON a.rn = b.rn
    """,
    survey_ids=["J4"],
    description="Positional alignment as an explicit row_number "
    "equi-join (no implicit row order in Spark); the SF-scaled side's "
    "row number comes from the range-partitioned prefix-count device, "
    "never a single-task global window",
)
def positional_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from qudo_etl_pipeline_spark.operators.prefix import (
        ranged_prefix_sums,
    )

    # supplier grows with SF -> device; nation is a 25-row dimension,
    # where a plain ordered window is the documented bounded case
    sup = ranged_prefix_sums(
        load_table(spark, sf_dir, "supplier")
        .select("s_name", "s_suppkey")
        .withColumn("_one", F.lit(1)),
        ["s_suppkey"],
        {"rn": "_one"},
    ).select("s_name", "rn")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_name",
        F.row_number().over(Window.orderBy("n_nationkey")).alias("rn"),
    )
    return sup.join(nat, "rn").select("rn", "s_name", "n_name")


@register(
    "transpose_region_counts",
    oracle="""
    SELECT 'n_nations' AS stat,
           CAST(SUM(CASE WHEN r.r_name = 'AFRICA' THEN 1 ELSE 0 END) AS BIGINT) AS africa,
           CAST(SUM(CASE WHEN r.r_name = 'AMERICA' THEN 1 ELSE 0 END) AS BIGINT) AS america,
           CAST(SUM(CASE WHEN r.r_name = 'ASIA' THEN 1 ELSE 0 END) AS BIGINT) AS asia,
           CAST(SUM(CASE WHEN r.r_name = 'EUROPE' THEN 1 ELSE 0 END) AS BIGINT) AS europe,
           CAST(SUM(CASE WHEN r.r_name = 'MIDDLE EAST' THEN 1 ELSE 0 END) AS BIGINT) AS middle_east
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    survey_ids=["R3", "R4"],
    description="Transpose via melt->pivot: per-region counts become columns",
)
def transpose_region_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    counts = (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(
            F.lower(F.regexp_replace("r_name", " ", "_")).alias("region")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.withColumn("stat", F.lit("n_nations"))
        .groupBy("stat")
        .pivot(
            "region", ["africa", "america", "asia", "europe", "middle_east"]
        )
        .sum("n")
    )


@register(
    "systematic_sample",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey % 20 = 0
    """,
    survey_ids=["R5"],
    description="Deterministic systematic sample (key-mod) — df.sample's "
    "seeded Bernoulli variant is engine-specific, so the oracle-checkable "
    "path samples by key residue",
)
def systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 20 == 0
    )
    return o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


@register(
    "set_ops_except_intersect",
    oracle="""
    SELECT 'except' AS op, COUNT(*) AS n FROM (
      SELECT DISTINCT p_type FROM part WHERE p_size > 40
      EXCEPT
      SELECT DISTINCT p_type FROM part WHERE p_brand = 'Brand#11'
    )
    UNION ALL
    SELECT 'intersect' AS op, COUNT(*) AS n FROM (
      SELECT DISTINCT p_type FROM part WHERE p_size > 40
      INTERSECT
      SELECT DISTINCT p_type FROM part WHERE p_brand = 'Brand#11'
    )
    """,
    survey_ids=["R6"],
    description="Set difference/intersection of distinct value sets",
)
def set_ops_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.prefix import (
        acquire_operator_cache,
    )

    part = load_table(spark, sf_dir, "part")
    # both distinct value sets are consumed by the except AND the
    # intersect branches (big three times) — cached once (value-domain
    # -sized) so part is scanned twice, not five times
    big = acquire_operator_cache(
        part.filter(F.col("p_size") > 40).select("p_type").distinct()
    )
    brand = acquire_operator_cache(
        part.filter(F.col("p_brand") == "Brand#11")
        .select("p_type")
        .distinct()
    )
    ex = big.exceptAll(big.intersect(brand)).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("except").alias("op"), "n")
    inter = big.intersect(brand).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("intersect").alias("op"), "n"
    )
    return ex.unionByName(inter)


@register(
    "population_modes_planted",
    oracle=f"""
    WITH src AS (
      SELECT o_orderstatus AS cluster,
             1.0 + (o_orderkey % 3) AS w,
             o_orderpriority AS p1,
             CASE WHEN o_totalprice < 100000 THEN 'not selected'
                  ELSE o_orderpriority END AS p2
      FROM orders
    ),
    tot AS (
      SELECT COUNT(*) AS n, {ref_round_sql('SUM(w)', 2)} AS wsum FROM src
    ),
    rowvals AS (
      SELECT cluster, w,
             CASE WHEN len(list_distinct([p1, p2])) = 1
                       AND list_distinct([p1, p2])[1] = 'not selected'
                  THEN list_distinct([p1, p2])
                  ELSE list_filter(list_distinct([p1, p2]), x -> x <> 'not selected')
             END AS vals
      FROM src
    ),
    exploded AS (
      SELECT cluster, w, UNNEST(vals) AS value FROM rowvals
    ),
    counts AS (
      SELECT cluster, value, COUNT(*) AS n, SUM(w) AS wn
      FROM exploded GROUP BY cluster, value
    ),
    ranked AS (
      SELECT cluster, value, n, wn,
             ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY wn DESC, value ASC) AS rw,
             ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n DESC, value ASC) AS ru
      FROM counts
    )
    SELECT w.cluster,
           'priority' AS shortname,
           w.value AS weighted_mode,
           {ref_round_sql('w.wn / (SELECT wsum FROM tot)', 2)} AS weighted_mode_prop,
           u.value AS unweighted_mode,
           {ref_round_sql('CAST(u.n AS DOUBLE) / (SELECT n FROM tot)', 2)} AS unweighted_mode_prop
    FROM (SELECT * FROM ranked WHERE rw = 1) w
    JOIN (SELECT * FROM ranked WHERE ru = 1) u ON w.cluster = u.cluster
    """,
    survey_ids=["M27", "W4", "R2", "A5", "A6"],
    description="Population modes: multi-select collect-distinct, sentinel "
    "strip, weighted + unweighted modal answer per cluster",
)
def population_modes_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.popmodes import population_modes

    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("cluster"),
        (1.0 + (F.col("o_orderkey") % 3)).alias("w"),
        F.col("o_orderpriority").alias("p1"),
        F.when(F.col("o_totalprice") < 100000, "not selected")
        .otherwise(F.col("o_orderpriority"))
        .alias("p2"),
    )
    return population_modes(
        src, {"priority": ["p1", "p2"]}, cluster_col="cluster", weight_col="w"
    )


@register(
    "rules_based_codes",
    oracle="""
    WITH codes AS (
      -- NULL answers have no code (label-encode contract); the
      -- null-safe join keeps their rows as a NULL-prediction group
      SELECT o_orderpriority,
             CASE WHEN o_orderpriority IS NULL THEN NULL
                  ELSE CAST(DENSE_RANK() OVER (ORDER BY o_orderpriority)
                            - 1 AS INT) END AS prediction
      FROM (SELECT DISTINCT o_orderpriority FROM orders)
    )
    SELECT c.prediction, COUNT(*) AS n
    FROM orders o JOIN codes c
      ON o.o_orderpriority IS NOT DISTINCT FROM c.o_orderpriority
    GROUP BY c.prediction
    """,
    survey_ids=["M9"],
    description="Rules-based segmentation: sorted-value label codes of one "
    "answer column",
)
def rules_based_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.catalog.ml_q import rules_based

    o = load_table(spark, sf_dir, "orders").select("o_orderpriority")
    labeled = rules_based(o, "o_orderpriority")
    return labeled.groupBy("prediction").agg(F.count(F.lit(1)).alias("n"))


@register(
    "social_presence_planted",
    oracle=f"""
    WITH lab AS (
      SELECT c_mktsegment AS prediction,
             CASE WHEN c_acctbal > 5000 THEN 'Facebook' ELSE 'Twitter' END AS mc_platform
      FROM customer
    )
    SELECT prediction,
           {ref_round_sql(
               "SUM(CASE WHEN mc_platform = 'Facebook' THEN 1 ELSE 0 END)"
               " / CAST(COUNT(*) AS DOUBLE)", 3)} AS share
    FROM lab GROUP BY prediction
    """,
    survey_ids=["M30", "A9"],
    description="Social presence: per-cluster share answering the detected "
    "mc_ platform column",
)
def social_presence_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.catalog.ml_q import social_presence

    lab = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("prediction"),
        F.when(F.col("c_acctbal") > 5000, "Facebook")
        .otherwise("Twitter")
        .alias("mc_platform"),
    )
    sp = social_presence(lab, "Facebook")
    return spark.createDataFrame(
        sorted(sp.items(), key=lambda kv: none_last_key(kv[0])),
        "prediction: string, share: double",
    )


@register(
    "message_reach_planted",
    oracle=f"""
    WITH lab AS (
      SELECT CAST(c_nationkey % 3 AS INT) AS prediction,
             CASE WHEN c_acctbal > 5000 THEN 'Facebook' ELSE 'Twitter' END AS mc_platform,
             c_acctbal
      FROM customer
    ),
    social AS (
      SELECT prediction,
             {ref_round_sql(
                 "SUM(CASE WHEN mc_platform = 'Facebook' THEN 1 ELSE 0 END)"
                 " / CAST(COUNT(*) AS DOUBLE)", 3)} AS share
      FROM lab GROUP BY prediction
    ),
    segs AS (SELECT DISTINCT prediction FROM lab),
    confusion AS (
      SELECT s.prediction,
             (SELECT COUNT(*) FROM lab WHERE c_acctbal > 0) AS n_slice,
             (SELECT COUNT(*) FROM lab
              WHERE c_acctbal > 0 AND prediction = s.prediction) AS tp,
             (SELECT COUNT(*) FROM lab WHERE prediction = s.prediction) AS n_true,
             (SELECT COUNT(*) FROM lab WHERE prediction <> s.prediction) AS n_false
      FROM segs s
    ),
    signal AS (
      SELECT prediction,
             {ref_round_sql(
                 "(tp + (n_false - (n_slice - tp))) * 1.0 /"
                 " (tp + (n_false - (n_slice - tp)) + (n_slice - tp) + (n_true - tp))",
                 3)} AS acc
      FROM confusion
    )
    SELECT CAST(so.prediction AS STRING) AS segment,
           {ref_round_sql('so.share * si.acc', 3)} AS reach
    FROM social so JOIN signal si ON so.prediction = si.prediction
    """,
    survey_ids=["M35", "M34", "M30"],
    description="Message reach: social presence x chi-square-slice signal "
    "per segment (the M35 composition, with both factor dicts computed "
    "from planted frames)",
)
def message_reach_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.catalog.ml_q import (
        chi_square_signal,
        social_presence,
    )
    from qudo_etl_pipeline_spark.ml.business import message_reach

    lab = load_table(spark, sf_dir, "customer").select(
        (F.col("c_nationkey") % 3).cast("int").alias("prediction"),
        F.when(F.col("c_acctbal") > 5000, "Facebook")
        .otherwise("Twitter")
        .alias("mc_platform"),
        F.col("c_acctbal"),
    )
    social = social_presence(lab, "Facebook")
    # a NULL segment (possible when the prediction column derives from
    # a nullable source) has no reach: message_reach keys labels by
    # int(), so drop it from BOTH dicts before pairing them
    social = {seg: v for seg, v in social.items() if seg is not None}
    sliced = lab.filter(F.col("c_acctbal") > 0)
    signal = {
        str(seg): chi_square_signal(sliced, lab, seg)
        for seg in sorted(social, key=none_last_key)
    }
    reach = message_reach(social, signal)
    return spark.createDataFrame(
        sorted(reach.items(), key=lambda kv: none_last_key(kv[0])),
        "segment: string, reach: double",
    )


@register(
    "magnitude_planted",
    oracle=f"""
    WITH labeled AS (
      SELECT o_orderstatus AS seg, o_orderpriority, o_totalprice FROM orders
    ),
    pct AS (
      SELECT seg, {ref_round_sql('COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM labeled)', 2)} AS share
      FROM labeled GROUP BY seg
    ),
    sig AS (
      SELECT seg, COUNT(DISTINCT o_orderpriority) AS n_sig
      FROM labeled WHERE o_totalprice > 150000
      GROUP BY seg
    )
    SELECT p.seg,
           {ref_round_sql('COALESCE(s.n_sig, 0) / 5.0 * p.share', 3)} AS magnitude
    -- IS NOT DISTINCT FROM: the NULL segment's significant-variable
    -- count must join back to its share (r11 NULL-salt parity)
    FROM pct p LEFT JOIN sig s ON p.seg IS NOT DISTINCT FROM s.seg
    """,
    survey_ids=["M31"],
    description="Magnitude: cluster share x significant-tgt-variable ratio",
)
def magnitude_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.catalog.ml_q import magnitude

    o = load_table(spark, sf_dir, "orders")
    labeled = o.select(F.col("o_orderstatus").alias("prediction"))
    deliver = (
        o.filter(F.col("o_totalprice") > 150000)
        .select(
            F.col("o_orderstatus").alias("targeting_seg"),
            F.concat(F.col("o_orderpriority"), F.lit("_tgt")).alias("q_code"),
        )
        .distinct()
    )
    tgt_cols = [f"prio_{i}_tgt" for i in range(5)]  # 5 priority levels
    m = magnitude(deliver, labeled, tgt_cols)
    rows = [
        (seg, val)
        for seg, val in sorted(m.items(), key=lambda kv: none_last_key(kv[0]))
        if seg != "all_clusters"
    ]
    return spark.createDataFrame(rows, "seg: string, magnitude: double")


@register(
    "sig_spread_planted",
    oracle=f"""
    WITH deliver AS (
      SELECT DISTINCT p_brand AS seg,
             replace(p_type, ' ', '_') AS q_code,
             CASE WHEN p_size <= 25 THEN 0.01 ELSE 0.5 END AS chi2
      FROM part
    ),
    overall AS (
      SELECT string_split(q_code, '_')[1] AS prefix, COUNT(*) AS n_all
      FROM deliver GROUP BY 1
    ),
    sig AS (
      SELECT seg, string_split(q_code, '_')[1] AS prefix, COUNT(*) AS n_sig
      FROM deliver WHERE chi2 <= 0.05 GROUP BY seg, string_split(q_code, '_')[1]
    )
    SELECT s.seg, s.prefix, {ref_round_sql('CAST(s.n_sig AS DOUBLE) / o.n_all', 6)} AS proportion
    -- null-safe: a NULL question prefix (NULL q_code) is a prefix group
    FROM sig s JOIN overall o ON s.prefix IS NOT DISTINCT FROM o.prefix
    """,
    survey_ids=["M36", "P8"],
    description="Significant-variable spread: per-question-prefix share of "
    "significant variables per segment",
)
def sig_spread_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.ml.business import (
        significant_variables_and_spread,
    )

    deliver = (
        load_table(spark, sf_dir, "part")
        .select(
            F.col("p_brand").alias("targeting_seg"),
            F.regexp_replace("p_type", " ", "_").alias("q_code"),
            F.when(F.col("p_size") <= 25, 0.01).otherwise(0.5).alias(
                "chi_2_result"
            ),
        )
        .distinct()
    )
    _, _, groups, _ = significant_variables_and_spread(deliver)
    rows = [
        (seg, prefix, round(prop, 6))
        for seg, by_prefix in groups.items()
        for prefix, prop in by_prefix.items()
    ]
    return spark.createDataFrame(
        rows, "seg: string, prefix: string, proportion: double"
    )


@register(
    "hierarchical_segmentation_rows",
    oracle=None,
    survey_ids=["M10"],
    description="Two-level hierarchical segmentation with global label "
    "offsets and -99 ignore group (rows-only: nested MLlib fits)",
)
def hierarchical_segmentation_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.catalog.ml_q import hierarchical_segmentation

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("features"),
        (F.col("label") % 3).alias("grp"),
    )
    out = hierarchical_segmentation(
        emb, "grp", hier_ks=[2], seed=42, ignore_value=2
    )
    return (
        out.groupBy("grp")
        .agg(
            F.countDistinct("prediction").alias("n_labels"),
            F.min("prediction").alias("min_label"),
        )
        .orderBy("grp")
    )


@register(
    "hierarchical_segmentation_pinned",
    # Isolates M10's deterministic machinery — sorted group split,
    # per-group fit dispatch, global label offsets (k accumulated in
    # sorted-group order), and the -99 ignore-group stitch — from MLlib
    # seed dependence by injecting a pinned fitter (row_id % 2, k=2)
    # through the same `fitter=` hook the reference uses to dispatch
    # LCA into the hierarchical wrapper (clustering.py:841-845).
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS row_id,
           CAST(label % 3 AS INT) AS grp,
           CAST(CASE WHEN label % 3 = 2 THEN -99
                     WHEN label % 3 = 0 THEN vec_id % 2
                     ELSE 2 + vec_id % 2 END AS INT) AS prediction
    FROM embeddings
    -- the operator explicitly excludes the NULL pivot group from the
    -- group loop (ml_q.py hierarchical_segmentation)
    WHERE label IS NOT NULL
    """,
    survey_ids=["M10"],
    description="Hierarchical segmentation shell (group split, label "
    "offsets, -99 stitch) around a pinned deterministic fitter",
)
def hierarchical_segmentation_pinned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from qudo_etl_pipeline_spark.catalog.ml_q import hierarchical_segmentation

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("row_id"),
        F.col("embedding").cast("array<double>").alias("features"),
        (F.col("label") % 3).alias("grp"),
    )

    def fitter(sub: DataFrame) -> tuple[DataFrame, int]:
        return sub.withColumn(
            "prediction", (F.col("row_id") % 2).cast("int")
        ), 2

    out = hierarchical_segmentation(
        emb, "grp", hier_ks=[2], seed=42, ignore_value=2, fitter=fitter
    )
    return out.select(
        "row_id", "grp", F.col("prediction").cast("int").alias("prediction")
    )


def random_checker(
    df: DataFrame,
    features: str = "features",
    pred: str = "prediction",
    cluster_metrics: dict | None = None,
    n_runs: int = 10,
    seed: int = 42,
) -> dict:
    """Random-baseline ratios (metrics.py:149-174): mean metric over
    `n_runs` random labelings; note the reference's randint(0, k) is
    INCLUSIVE — k+1 possible random labels — replicated here."""
    from concurrent.futures import ThreadPoolExecutor

    from qudo_etl_pipeline_spark.catalog.ml_q import cluster_quality

    cluster_metrics = dict(cluster_metrics or {})
    k = df.select(pred).distinct().count()

    # Each run is one cluster_quality call, whose degenerate-input
    # fallbacks (silhouette 0, DB 999, CH 0) are the reference's
    # (metrics.py:75-90). Runs are independent jobs — a thread pool lets
    # the scheduler interleave their stages; summation stays in run
    # order (pool.map preserves order) so the result is bit-identical to
    # the serial loop.
    def one_run(i: int) -> tuple[float, float, float]:
        rnd = df.withColumn(
            "_rand_label",
            F.floor(F.rand(seed + i) * (k + 1)).cast("int"),
        )
        m = cluster_quality(rnd, features, "_rand_label")
        return m["silhouette"], m["davies_bouldin"], m["calinski_harabasz"]

    with ThreadPoolExecutor(max_workers=min(8, n_runs)) as pool:
        runs = list(pool.map(one_run, range(n_runs)))
    accum = {"silhouette": 0.0, "davies_bouldin": 0.0, "calinski_harabasz": 0.0}
    for sil, db, ch in runs:
        accum["silhouette"] += sil
        accum["davies_bouldin"] += db
        accum["calinski_harabasz"] += ch
    mean = {m: v / n_runs for m, v in accum.items()}
    cluster_metrics["calinski_harabasz_random_ratio"] = (
        cluster_metrics.get("calinski_harabasz", 0.0)
        / mean["calinski_harabasz"]
        if mean["calinski_harabasz"]
        else float("nan")
    )
    cluster_metrics["davies_bouldin_random_ratio"] = (
        mean["davies_bouldin"] / cluster_metrics.get("davies_bouldin", 999.0)
        if cluster_metrics.get("davies_bouldin")
        else float("nan")
    )
    cluster_metrics["silhouette_random_ratio"] = (
        abs(cluster_metrics.get("silhouette", 0.0) / mean["silhouette"])
        if mean["silhouette"]
        else float("nan")
    )
    return cluster_metrics


@register(
    "random_baseline_rows",
    oracle=None,
    survey_ids=["M17", "M20"],
    description="Random-baseline metric ratios + label-consistency ARI on a "
    "planted clustering (rows-only: seeded randomness)",
)
def random_baseline_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.catalog.ml_q import (
        cluster_quality,
        label_consistency,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("row_id"),
        F.col("embedding").cast("array<double>").alias("features"),
        (F.col("label") % 4).alias("prediction"),
    )
    base = cluster_quality(emb)
    out = random_checker(emb, cluster_metrics=base, n_runs=2)

    def refit(train):
        def predict(frame):
            return frame.withColumn(
                "prediction", (F.col("row_id") % 4).cast("int")
            )

        return predict

    lc = label_consistency(emb, refit)
    return spark.createDataFrame(
        [
            (
                float(out["calinski_harabasz_random_ratio"]),
                float(out["davies_bouldin_random_ratio"]),
                float(lc),
            )
        ],
        "ch_random_ratio: double, db_random_ratio: double, "
        "label_consistency_ari: double",
    )


@register(
    "data_slicer_rows",
    # The slicer loop is deterministic (no seeds, no MLlib fit), so it
    # HAS a full DuckDB mirror: a recursive CTE carries the loop state
    # (accepted-filter set, live row count, threshold) across sweeps.
    # With the monotone accepted-set observation — `data` only ever
    # gains filters, so its count is one of the 4 subset counts — each
    # sweep's two sequential accept/reject decisions collapse to CASE
    # arithmetic over 4 pre-aggregated counts. Float fidelity: pct is
    # decremented with the same IEEE double op as Python's `-= 0.01`
    # and thresholds use the same double*bigint multiply, so the loop
    # exits after the same 11 sweeps with pct = 0.14000000000000004.
    oracle="""
    WITH RECURSIVE base AS (
      SELECT CAST(l_quantity > 25 AS INT) AS q1,
             CAST(l_discount > 0.05 AS INT) AS q2,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pred
      FROM lineitem
    ),
    counts AS (
      SELECT COUNT(*) FILTER (WHERE pred = 1) AS n_seg,
             COUNT(*) FILTER (WHERE pred = 1 AND q1 = 1) AS n1,
             COUNT(*) FILTER (WHERE pred = 1 AND q2 = 1) AS n2,
             COUNT(*) FILTER (WHERE pred = 1 AND q1 = 1 AND q2 = 1) AS n12,
             COUNT(*) FILTER (WHERE pred != 1) AS n_notseg
      FROM base
    ),
    sweeps AS (
      -- anchor: state BEFORE sweep 1 (core/sub empty, data = seg rows)
      SELECT 0 AS i, FALSE AS s1, FALSE AS s2, c.n_seg AS dc,
             0 AS core_n, 0 AS sub_n,
             CAST(0.25 AS DOUBLE) AS pct_next,
             CAST(0.25 AS DOUBLE) * c.n_seg AS m_next
      FROM counts c
      UNION ALL
      SELECT i + 1, ns1, ns2, dc2,
             CAST(a1 AS INT) + CAST(a2 AS INT),
             2 - CAST(a1 AS INT) - CAST(a2 AS INT),
             pct - CAST(0.01 AS DOUBLE),
             (pct - CAST(0.01 AS DOUBLE)) * dc2
      FROM (
        SELECT l2.*, (c2 >= m) AS a2,
               (s2 OR (c2 >= m)) AS ns2,
               CASE WHEN c2 >= m THEN c2 ELSE dc1 END AS dc2
        FROM (
          SELECT l1.*, (c1 >= m) AS a1, (s1 OR (c1 >= m)) AS ns1,
                 CASE WHEN c1 >= m THEN c1 ELSE dc END AS dc1,
                 CASE WHEN (s1 OR (c1 >= m)) THEN n12 ELSE n2 END AS c2
          FROM (
            SELECT s.i, s.s1, s.s2, s.dc, s.pct_next AS pct,
                   s.m_next AS m, c.n1, c.n2, c.n12,
                   CASE WHEN s.s2 THEN c.n12 ELSE c.n1 END AS c1
            FROM sweeps s, counts c
            WHERE s.core_n < 6 AND s.pct_next >= 0.15
          ) l1
        ) l2
      )
    ),
    final AS (
      SELECT s.*, c.n_seg AS seg_true, c.n_notseg AS seg_false
      FROM sweeps s, counts c
      ORDER BY s.i DESC LIMIT 1
    )
    SELECT CAST(core_n AS BIGINT) AS n_core,
           CAST(sub_n AS BIGINT) AS n_sub,
           {pct} AS pct_retained,
           {signal} AS signal,
           {recall} AS recall_score
    FROM final
    """.format(
        pct=ref_round_sql("pct_next", 2),
        # sliced is a subset of the seg rows, so tp = |sliced| = dc and
        # fp = 0; tn = seg_false, fn = seg_true - dc (signal.py:318-330)
        signal=ref_round_sql(
            "CAST(dc + seg_false AS DOUBLE) / (seg_true + seg_false)", 3
        ),
        recall=ref_round_sql("CAST(dc AS DOUBLE) / seg_true", 3),
    ),
    survey_ids=["M34"],
    description="Iterative mode-filter slice signal (deterministic loop "
    "mirrored by a recursive-CTE oracle)",
)
def data_slicer_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.catalog.ml_q import chi_square_signal, data_slicer

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity") > 25).cast("int").alias("q1_tgt"),
        (F.col("l_discount") > 0.05).cast("int").alias("q2_tgt"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("prediction"),
    )
    seg_rows = li.filter(F.col("prediction") == 1)
    sliced, core, sub, pct = data_slicer(seg_rows, ["q1_tgt", "q2_tgt"], [1, 1])
    sig = chi_square_signal(sliced, li, 1)
    return spark.createDataFrame(
        [
            (
                len(core),
                len(sub),
                round(pct, 2),
                sig["signal"],
                sig["recall_score"],
            )
        ],
        "n_core: bigint, n_sub: bigint, pct_retained: double, "
        "signal: double, recall_score: double",
    )


def _spatial_oracle() -> str:
    from qudo_etl_pipeline_spark.functions.hashing import token_hash64_sql

    cx = f"({token_hash64_sql('CAST(c_custkey AS VARCHAR)', 101)} % 100000)"
    cy = f"({token_hash64_sql('CAST(c_custkey AS VARCHAR)', 202)} % 100000)"
    sx = f"({token_hash64_sql('CAST(s_suppkey AS VARCHAR)', 101)} % 100000)"
    sy = f"({token_hash64_sql('CAST(s_suppkey AS VARCHAR)', 202)} % 100000)"
    return f"""
    WITH c AS (
      SELECT c_custkey, {cx} AS x, {cy} AS y FROM customer
    ),
    s AS (
      SELECT s_suppkey, {sx} AS x, {sy} AS y FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
             AS dist2
    FROM c CROSS JOIN s
    WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
          <= 500 * 500
    ORDER BY c.c_custkey, s.s_suppkey
    """


@register(
    "spatial_radius_pairs",
    oracle=_spatial_oracle(),
    survey_ids=["J3", "J1"],
    description="Grid-bucketed radius join: customers and suppliers at "
    "hash-derived integer coordinates, all pairs within 500 units — "
    "left points map to ONE home cell, right points replicate to the "
    "3x3 neighborhood, the cell equi-join bounds candidates by local "
    "density, and the exact int64 squared-distance filter has no float "
    "knife edges (oracle is the brute-force cross join)",
)
def spatial_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.functions.hashing import token_hash64
    from qudo_etl_pipeline_spark.operators.spatial import grid_radius_join

    def coords(df, key):
        k = F.col(key).cast("string")
        return df.select(
            key,
            (token_hash64(k, 101) % 100000).alias("x"),
            (token_hash64(k, 202) % 100000).alias("y"),
        )

    cust = coords(load_table(spark, sf_dir, "customer"), "c_custkey")
    supp = coords(load_table(spark, sf_dir, "supplier"), "s_suppkey")
    out = grid_radius_join(cust, supp, "c_custkey", "s_suppkey", 500)
    return out.orderBy("c_custkey", "s_suppkey")


_RAKE_SEGS = [
    "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY",
]
_RAKE_DIMS = {
    "seg": {s: 0.2 for s in _RAKE_SEGS},
    "ngrp": {"0": 0.30, "1": 0.25, "2": 0.20, "3": 0.15, "4": 0.10},
}
_RAKE_ITERS = 3


def _rake_oracle() -> str:
    from qudo_etl_pipeline_spark.functions.rounding import (
        fp_round_sql,
        ref_round_sql,
    )

    def tcase(dim: str, targets: dict) -> str:
        whens = " ".join(
            f"WHEN {dim} = '{v}' THEN CAST({float(s)!r} AS DOUBLE)"
            for v, s in sorted(targets.items())
        )
        return f"(CASE {whens} END)"

    steps = ["base AS MATERIALIZED (SELECT c_custkey, c_mktsegment AS seg, "
             "CAST(c_nationkey % 5 AS VARCHAR) AS ngrp, "
             "CAST(1.0 AS DOUBLE) AS w FROM customer)"]
    prev = "base"
    i = 0
    for _ in range(_RAKE_ITERS):
        for dim, targets in _RAKE_DIMS.items():
            i += 1
            f = f"({tcase(dim, targets)} * tot._wt / sums._wc)"
            steps.append(f"""s{i} AS MATERIALIZED (
      SELECT c.c_custkey, c.seg, c.ngrp,
             {fp_round_sql(f"c.w * {f}", 9)} AS w
      FROM {prev} c
      JOIN (SELECT {dim},
                   CAST(SUM(CAST(w AS DECIMAL(28,9))) AS DOUBLE) AS _wc
            FROM {prev} GROUP BY {dim}) sums USING ({dim})
      CROSS JOIN (SELECT CAST(SUM(CAST(w AS DECIMAL(28,9))) AS DOUBLE)
                    AS _wt FROM {prev}) tot
    )""")
            prev = f"s{i}"
    arms = []
    for dim, targets in _RAKE_DIMS.items():
        arms.append(f"""
      SELECT '{dim}' AS dim, {dim} AS category, COUNT(*) AS n,
             {ref_round_sql(
                 "CAST(SUM(CAST(w AS DECIMAL(28,9))) AS DOUBLE)"
                 " / (SELECT CAST(SUM(CAST(w AS DECIMAL(28,9)))"
                 " AS DOUBLE) FROM " + prev + ")", 6)} AS share6,
             {ref_round_sql(tcase(dim, targets), 6)} AS target6
      FROM {prev} GROUP BY {dim}""")
    return (
        "WITH " + ",\n    ".join(steps)
        + "\n    SELECT * FROM ("
        + "\n      UNION ALL".join(arms)
        + "\n    ) ORDER BY dim, category"
    )


@register(
    "rake_weights_customers",
    oracle=_rake_oracle(),
    survey_ids=["A5", "A9", "M25"],
    description="Survey raking (iterative proportional fitting) of "
    "customer weights to two margin sets (uniform market segments; a "
    "planted skewed nation-group margin): 3 IPF iterations, each rake "
    "step one category-sized groupBy + broadcast factor map, weights "
    "pinned to 9-decimal fixed-point doubles so the whole fit replays "
    "bit-identically against the unrolled-CTE oracle",
)
def rake_weights_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.weighting import (
        rake_summary,
        rake_weights,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_nationkey") % 5).cast("string").alias("ngrp"),
    )
    raked = rake_weights(cust, _RAKE_DIMS, iters=_RAKE_ITERS)
    return rake_summary(raked, _RAKE_DIMS).orderBy("dim", "category")


def _kish_oracle() -> str:
    from qudo_etl_pipeline_spark.functions.rounding import ref_round_sql

    neff = "(sw * sw / sw2)"
    return f"""
    WITH base AS (
      SELECT l_returnflag AS g,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
               AS sw,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6))
                           * CAST(l_quantity AS DECIMAL(18,6))
                           AS DECIMAL(38,12))) AS DOUBLE) AS sw2,
             COUNT(*) AS n
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_quantity > 0
      GROUP BY 1
    )
    SELECT g AS l_returnflag, n,
           {ref_round_sql(neff, 6)} AS n_eff6,
           {ref_round_sql(f"CAST(n AS DOUBLE) / {neff}", 6)} AS deff6
    FROM base
    """


@register(
    "kish_neff_quantity",
    oracle=_kish_oracle(),
    survey_ids=["A5", "A8"],
    description="Kish effective sample size / design effect per return "
    "flag with quantity as the weight: one map-side-combinable "
    "aggregate, DECIMAL-exact weight moments — the diagnostic every "
    "weighting report pairs with raked weights",
)
def kish_neff_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.weighting import kish_neff

    li = load_table(spark, sf_dir, "lineitem")
    return kish_neff(li, "l_quantity", ["l_returnflag"])


@register(
    "pipeline_e2e_fixture",
    oracle=None,
    survey_ids=["M37"],
    description="Whole-pipeline composition (clean -> scheme select -> "
    "clustering families -> per-segment inference -> metrics) on the "
    "deterministic 600-respondent fixture: one summary row per "
    "(scheme, algorithm) family (rows-only: seeded MLlib fits inside "
    "the composition) — the reference's production unit "
    "(src/kraken/app/main.py:45-183) as a driver-visible surface",
)
def pipeline_e2e_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M37 promoted into the catalog (r9 verdict task 6): regressions
    in the composition — cleaning, scheme selection, the clustering
    fan-out, inference, metrics — now show up in the driver's
    rows-only gate and the round hash manifest, not just SCALING.md.
    The cleaned table is cached, not written, so the catalog query has
    zero warehouse side effects. Cost is job-COUNT-bound, not
    data-bound (600 rows, ~150 sub-second actions): measured ~60 s
    solo at fixture scale with the concurrent per-family finalize
    (r11; was 103 s with the sequential loop under session
    contention) — session contention can push it past that.
    ``sf_dir`` is unused: the respondent fixture is the deterministic
    seed-42 survey frame (the package's fixtures module), the
    pipeline's own production input shape.
    """
    from qudo_etl_pipeline_spark.functions.rounding import ref_round
    from qudo_etl_pipeline_spark.pipeline import (
        SegmentationConfig,
        run_all_segmentations,
    )
    from qudo_etl_pipeline_spark.fixtures import make_responses

    responses = spark.createDataFrame(make_responses(n=600))
    cfg = SegmentationConfig(
        survey_name="e2e_fixture",
        schemes={
            "behavioral": [
                "weightgain_", "fin_uk_risk", "tech_", "psy_",
                "fin_uk_goal",
            ]
        },
        weight_col="weight",
        rules_col="fin_uk_goal_fb_tgt",
        algorithms=("kmeans", "kmodes", "rules_based"),
        ks=[3],
        seeds=[1, 42],
    )
    results = run_all_segmentations(spark, responses, cfg)
    rows = []
    for scheme in sorted(results):
        for algo in sorted(results[scheme]):
            res = results[scheme][algo]
            m = res["metrics"]
            rows.append(
                (
                    scheme,
                    algo,
                    int(
                        res["labels"]
                        .select("prediction")
                        .distinct()
                        .count()
                    ),
                    int(res["deliver"].count()),
                    int(res["mode_list"].count()),
                    float(m.get("silhouette") or 0.0),
                )
            )
    out = spark.createDataFrame(
        rows,
        "scheme: string, algorithm: string, n_clusters: bigint, "
        "deliver_rows: bigint, mode_rows: bigint, silhouette: double",
    )
    return out.select(
        "scheme",
        "algorithm",
        "n_clusters",
        "deliver_rows",
        "mode_rows",
        ref_round(F.col("silhouette"), 6).alias("silhouette6"),
    ).orderBy("scheme", "algorithm")
