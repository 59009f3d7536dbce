"""Contingency/inference catalog entries (SURVEY §2.4, §2.7 M21-M26),
and the ContingencyTables readers only the catalog uses: the chi²
statistics, dense and post-hoc cells and Cramér's V as frames.

The survey-shaped input is synthesized from TPC-H tables: cluster =
c_mktsegment, variables = nation name + an account-balance bucket. The
DuckDB oracles re-derive the full melt -> densified crosstab -> totals ->
chi-squared pipeline in SQL so every arithmetic step of the Spark engine
is value-checked. (p-values come from the engine's own chi2_sf and are
covered by closed-form unit tests; the SQL oracles check stat/dof/
residuals, which determine them.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.catalog import load_table, register
from qudo_etl_pipeline_spark.functions.rounding import ref_round, ref_round_sql
from qudo_etl_pipeline_spark.operators.contingency import (
    ContingencyTables,
    _frame,
    cluster_mode_list,
    contingency_tables,
    deliver_stats,
)


# The catalog's readers of a ContingencyTables: the survey reads only
# deliver, discover and the mode list (operators.contingency).


def chi2_by_variable(tables: ContingencyTables) -> DataFrame:
    """Per-variable chi-squared test over all crosstabs at once.

    Returns: variable, chi2_stat, dof, yates, n_values, n_clusters,
    p_value. Statistical semantics live in
    ``operators.contingency._finalize``.
    """
    return _frame(
        tables,
        "variable: string, chi2_stat: double, dof: bigint, yates: boolean,"
        " n_values: bigint, n_clusters: bigint, p_value: double",
        [
            (
                v.name,
                v.chi2_stat,
                v.dof,
                v.yates,
                v.n_values,
                len(v.clusters),
                v.p_value,
            )
            for v in tables.variables()
        ],
    )


def dense_cells(tables: ContingencyTables) -> DataFrame:
    """Every variable's dense (value x cluster) crosstab, one row per
    cell, with its row, column and grand totals (:func:`_finalize`)."""
    return _frame(
        tables,
        "variable: string, {cluster}, value: string, observed: bigint,"
        " w_observed: double, row_tot: bigint, col_tot: bigint, n: bigint",
        [
            (
                v.name,
                g.cluster,
                g.value,
                g.observed,
                g.w_observed,
                g.row_tot,
                g.col_tot,
                v.n,
            )
            for v in tables.variables()
            for g in v.grid
        ],
    )


def post_hoc_cells(tables: ContingencyTables, alpha: float = 0.05) -> DataFrame:
    """Adjusted residuals + Bonferroni post-hoc per crosstab cell.

    Returns one row per (variable, cluster, value) of every variable whose
    chi-squared p <= alpha, with ``adj_residual`` (rounded to 3, as the
    reference does before squaring — chisquared_tester.py:475) and
    ``post_hoc`` in {'pos','neg','neu'} (:meth:`_Variable.post_hoc`).
    """
    return _frame(
        tables,
        "variable: string, {cluster}, value: string, observed: bigint,"
        " w_observed: double, expected: double, adj_residual: double,"
        " post_hoc: string, p_value: double, chi2_stat: double",
        [
            (
                v.name,
                g.cluster,
                g.value,
                g.observed,
                g.w_observed,
                g.expected,
                z,
                label,
                v.p_value,
                v.chi2_stat,
            )
            for v in tables.variables()
            if v.p_value <= alpha
            for g, z, label in v.post_hoc(alpha)
        ],
    )


def cramers_v(tables: ContingencyTables) -> DataFrame:
    """Cramér's V effect size per variable — the magnitude companion to
    the chi-squared p-value (p says "dependent"; V says "how much"):
    V = sqrt(chi2 / (n * (min(r, c) - 1))), in [0, 1].

    Reads the finalized variables: the statistic and the observation
    total (the dense grid's grand total) per variable, in one local
    frame the projection below folds on the driver.
    """
    per_var = _frame(
        tables,
        "variable: string, chi2_stat: double, dof: bigint, n_obs: bigint,"
        " n_values: bigint, n_clusters: bigint",
        [
            (v.name, v.chi2_stat, v.dof, v.n, v.n_values, len(v.clusters))
            for v in tables.variables()
        ],
    )
    k = (
        F.least(F.col("n_values"), F.col("n_clusters")) - F.lit(1)
    ).cast("double")
    # V from the 6-rounded statistic, mirroring the chi2 query's
    # rounding so the oracle derives from the identical value
    stat6 = F.round(F.col("chi2_stat"), 6)
    v = F.sqrt(stat6 / (F.col("n_obs").cast("double") * k))
    return per_var.select(
        "variable",
        stat6.alias("chi2_stat"),
        "dof",
        "n_obs",
        F.when(k > 0, ref_round(v, 6)).alias("cramers_v6"),
    )

# Shared CTE prefix: the melted customer table and its crosstab cells.
_MELT_CTE = """
    WITH wide AS (
      SELECT c_custkey AS id, c_mktsegment AS cluster,
             n_name AS q_nation,
             CASE WHEN c_acctbal < 0 THEN 'negative'
                  WHEN c_acctbal < 5000 THEN 'low'
                  ELSE 'high' END AS q_balance
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    ), long AS (
      SELECT id, cluster, 'q_nation' AS variable, q_nation AS value FROM wide
      UNION ALL
      SELECT id, cluster, 'q_balance' AS variable, q_balance AS value FROM wide
    ), cells AS (
      -- NULL cluster/category excluded: contingency_tables mirrors
      -- pandas.crosstab, which silently drops NaN rows (the
      -- reference's own behavior) — r11 NULL-salt parity
      SELECT variable, cluster, value, COUNT(*) AS observed
      FROM long
      WHERE cluster IS NOT NULL AND value IS NOT NULL
      GROUP BY variable, cluster, value
    ), grid AS (
      SELECT vv.variable, vv.value, vc.cluster
      FROM (SELECT DISTINCT variable, value FROM cells) vv
      JOIN (SELECT DISTINCT variable, cluster FROM cells) vc USING (variable)
    ), dense AS (
      SELECT g.variable, g.cluster, g.value, COALESCE(c.observed, 0) AS observed
      FROM grid g LEFT JOIN cells c
        ON g.variable = c.variable AND g.cluster = c.cluster AND g.value = c.value
    ), tot AS (
      SELECT *,
             SUM(observed) OVER (PARTITION BY variable, value) AS row_tot,
             SUM(observed) OVER (PARTITION BY variable, cluster) AS col_tot,
             SUM(observed) OVER (PARTITION BY variable) AS n
      FROM dense
    )
"""


def _survey_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_mktsegment").alias("cluster"),
            F.col("n_name").alias("q_nation"),
            F.when(F.col("c_acctbal") < 0, "negative")
            .when(F.col("c_acctbal") < 5000, "low")
            .otherwise("high")
            .alias("q_balance"),
        )
    )


@register(
    "contingency_cells",
    oracle=_MELT_CTE + """
    SELECT variable, cluster, value, CAST(observed AS BIGINT) AS observed
    FROM dense
    """,
    survey_ids=["A1", "R2"],
    description="All crosstab cells from one melt+aggregate (densified grid)",
)
def contingency_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = contingency_tables(_survey_wide(spark, sf_dir), "cluster", id_vars=["id"])
    return dense_cells(t).select(
        "variable", "cluster", "value", F.col("observed").cast("bigint").alias("observed")
    )


@register(
    "chi2_stat_by_variable",
    oracle=_MELT_CTE + """
    , pervar AS (
      SELECT variable,
             SUM(POW(observed - row_tot * col_tot * 1.0 / n, 2) /
                 (row_tot * col_tot * 1.0 / n)) AS stat_plain,
             SUM(POW(GREATEST(ABS(observed - row_tot * col_tot * 1.0 / n) - 0.5, 0), 2) /
                 (row_tot * col_tot * 1.0 / n)) AS stat_yates,
             MIN(observed) AS min_observed,
             COUNT(DISTINCT value) AS n_values,
             COUNT(DISTINCT cluster) AS n_clusters
      FROM tot GROUP BY variable
    )
    SELECT variable,
           ROUND(CASE WHEN (n_values - 1) * (n_clusters - 1) = 1 AND min_observed <= 5
                      THEN stat_yates ELSE stat_plain END, 6) AS chi2_stat,
           CAST((n_values - 1) * (n_clusters - 1) AS BIGINT) AS dof,
           CAST(n_values AS BIGINT) AS n_values,
           CAST(n_clusters AS BIGINT) AS n_clusters,
           CAST(CASE WHEN min_observed <= 5 THEN 1 ELSE 0 END AS BIGINT) AS yates
    FROM pervar
    """,
    survey_ids=["M21", "A3", "A11"],
    description="Vectorized chi-squared statistic for every variable at once",
)
def chi2_stat_by_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = contingency_tables(_survey_wide(spark, sf_dir), "cluster", id_vars=["id"])
    return chi2_by_variable(t).select(
        "variable",
        F.round("chi2_stat", 6).alias("chi2_stat"),
        F.col("dof").cast("bigint").alias("dof"),
        F.col("n_values").cast("bigint").alias("n_values"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
        F.when(F.col("yates"), 1).otherwise(0).cast("bigint").alias("yates"),
    )


@register(
    "adjusted_residuals",
    oracle=_MELT_CTE + """
    SELECT variable, cluster, value,
           CAST(observed AS BIGINT) AS observed,
           ROUND(row_tot * col_tot * 1.0 / n, 6) AS expected,
           {adjres} AS adj_residual,
           CAST(CASE WHEN observed > row_tot * col_tot * 1.0 / n
                     THEN 1 ELSE 0 END AS BIGINT) AS direction_pos
    FROM tot
    """.format(
        adjres=ref_round_sql(
            "(observed - row_tot * col_tot * 1.0 / n) /"
            " SQRT((row_tot * col_tot * 1.0 / n) *"
            " (1 - row_tot * 1.0 / n) * (1 - col_tot * 1.0 / n))",
            3,
        )
    ),
    survey_ids=["M22", "M23", "A3"],
    description="Expected frequencies + adjusted residuals + direction per cell",
)
def adjusted_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = contingency_tables(_survey_wide(spark, sf_dir), "cluster", id_vars=["id"])
    dense = dense_cells(t).withColumn(
        "expected", F.col("row_tot") * F.col("col_tot") * 1.0 / F.col("n")
    )
    return dense.select(
        "variable",
        "cluster",
        "value",
        F.col("observed").cast("bigint").alias("observed"),
        F.round("expected", 6).alias("expected"),
        ref_round(
            (F.col("observed") - F.col("expected"))
            / F.sqrt(
                F.col("expected")
                * (1 - F.col("row_tot") * 1.0 / F.col("n"))
                * (1 - F.col("col_tot") * 1.0 / F.col("n"))
            ),
            3,
        ).alias("adj_residual"),
        F.when(F.col("observed") > F.col("expected"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("direction_pos"),
    )


def _cell_z_threshold_case(alpha: float = 0.05, max_m: int = 60) -> str:
    """CASE expr: Bonferroni |z| threshold per m = n_values * n_clusters.

    The cell test is ``chi2_sf(z^2, 1) <= alpha/m`` — monotone in |z|, so
    it is equivalent to ``|z| >= z*(m)`` with z* bisected from the
    engine's own chi2_sf (functions.stats.z_threshold — the SAME helper
    the Spark operator uses, so the two sides can never diverge). This
    sidesteps DuckDB's missing erfc.
    """
    from qudo_etl_pipeline_spark.functions.stats import z_threshold

    cases = [
        f"WHEN {m} THEN {z_threshold(alpha / m)!r}"
        for m in range(2, max_m + 1)
    ]
    return (
        "CASE n_values * n_clusters " + " ".join(cases) + " ELSE 1e18 END"
    )


# Full SQL mirror of deliver_stats on the planted orders table. The
# variable-level p-value uses the EXACT even-dof closed form
# p = exp(-x/2) * sum_{k<dof/2} (x/2)^k / k!  (all dofs in this planted
# schema are even: 3 clusters, 2/3/5-valued variables); the cell-level
# dof=1 test is the precomputed |z| threshold above. Expression shapes
# (operand order, *1.0 promotions, ROUND points) mirror the Spark plan
# so doubles agree bit-for-bit after rounding.
_DELIVER_ORACLE = f"""
    WITH wide AS (
      SELECT CASE WHEN o_totalprice < 100000 THEN 'budget'
                  WHEN o_totalprice < 250000 THEN 'mid'
                  ELSE 'premium' END AS cluster,
             CASE WHEN o_totalprice < 150000 THEN 'under150k'
                  ELSE 'over150k' END AS q_band,
             o_orderpriority AS q_priority,
             o_orderstatus AS q_status
      FROM orders
    ), long AS (
      SELECT cluster, 'q_band' AS variable, q_band AS value FROM wide
      UNION ALL SELECT cluster, 'q_priority', q_priority FROM wide
      UNION ALL SELECT cluster, 'q_status', q_status FROM wide
    ), cells AS (
      SELECT variable, cluster, value, COUNT(*) AS observed
      FROM long WHERE value IS NOT NULL
      GROUP BY variable, cluster, value
    ), nrows AS (SELECT COUNT(*) AS n_rows FROM wide),
    csize AS (SELECT cluster, COUNT(*) AS cluster_n FROM wide GROUP BY cluster),
    obs AS (SELECT * FROM cells WHERE value <> 'Not shown'),
    grid AS (
      SELECT vv.variable, vv.value, vc.cluster
      FROM (SELECT DISTINCT variable, value FROM obs) vv
      JOIN (SELECT DISTINCT variable, cluster FROM obs) vc USING (variable)
    ), dense AS (
      SELECT g.variable, g.cluster, g.value, COALESCE(o.observed, 0) AS observed
      FROM grid g LEFT JOIN obs o
        ON g.variable = o.variable AND g.cluster = o.cluster AND g.value = o.value
    ), tot AS (
      SELECT *,
             SUM(observed) OVER (PARTITION BY variable, value) AS row_tot,
             SUM(observed) OVER (PARTITION BY variable, cluster) AS col_tot,
             SUM(observed) OVER (PARTITION BY variable) AS n
      FROM dense
    ), pervar AS (
      SELECT variable,
             SUM(POW(observed - row_tot * col_tot * 1.0 / n, 2)
                 / (row_tot * col_tot * 1.0 / n)) AS stat_plain,
             SUM(POW(GREATEST(ABS(observed - row_tot * col_tot * 1.0 / n) - 0.5, 0), 2)
                 / (row_tot * col_tot * 1.0 / n)) AS stat_yates,
             MIN(observed) AS min_observed,
             COUNT(DISTINCT value) AS n_values,
             COUNT(DISTINCT cluster) AS n_clusters
      FROM tot GROUP BY variable
    ), tests AS (
      SELECT variable,
             CASE WHEN (n_values - 1) * (n_clusters - 1) = 1 AND min_observed <= 5
                  THEN stat_yates ELSE stat_plain END AS chi2_stat,
             (n_values - 1) * (n_clusters - 1) AS dof, n_values, n_clusters
      FROM pervar
    ), sigf AS (
      SELECT variable, chi2_stat, dof, n_values, n_clusters,
             LEAST(1.0, exp(-chi2_stat / 2) *
                   list_sum(list_transform(generate_series(0, dof // 2 - 1),
                                           k -> pow(chi2_stat / 2, k) / gamma(k + 1.0))))
               AS p_value
      FROM tests
      WHERE dof > 0 AND dof % 2 = 0
    ), sig AS (SELECT * FROM sigf WHERE p_value <= 0.05),
    res AS (
      SELECT t.variable, t.cluster, t.value, t.observed,
             s.p_value, s.chi2_stat, s.n_values, s.n_clusters,
             {ref_round_sql('''(t.observed - t.row_tot * t.col_tot * 1.0 / t.n)
                   / SQRT((t.row_tot * t.col_tot * 1.0 / t.n)
                          * (1 - t.row_tot * 1.0 / t.n)
                          * (1 - t.col_tot * 1.0 / t.n))''', 3)} AS z
      FROM tot t JOIN sig s USING (variable)
    ), pos AS (
      SELECT r.*, d.answered_n
      FROM res r
      JOIN (SELECT variable, cluster, SUM(observed) AS answered_n
            FROM cells GROUP BY variable, cluster) d
        ON r.variable = d.variable AND r.cluster = d.cluster
      WHERE ABS(r.z) >= 1.96 AND ABS(r.z) >= {{thresh}}
        AND r.z > 0 AND r.value <> 'not selected'
    ), posagg AS (
      SELECT variable, cluster,
             array_to_string(list(value ORDER BY value), '|') AS sig_more_category,
             array_to_string(list(CAST({ref_round_sql('observed * 1.0 / answered_n * 100', 2)}
                                       AS VARCHAR) ORDER BY value), '|')
               AS category_percentages
      FROM pos GROUP BY variable, cluster
    ), modes AS (
      SELECT variable, cluster, value AS pop_mode, observed AS mode_count
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY variable, cluster
                                         ORDER BY observed DESC, value ASC) AS rn
            FROM cells WHERE value <> 'Not shown')
      WHERE rn = 1
    ), resp AS (
      SELECT variable,
             SUM(observed) * 1.0 / (SELECT n_rows FROM nrows) * 100 AS response_rate
      FROM cells GROUP BY variable
    )
    SELECT p.variable AS q_code,
           m.pop_mode,
           ROUND(r.response_rate, 6) AS response_rate,
           {ref_round_sql('m.mode_count * 1.0 / cs.cluster_n * 100', 2)} AS mode_pop_perc,
           {ref_round_sql('s.p_value', 5)} AS chi_2_result,
           p.sig_more_category,
           p.category_percentages,
           p.cluster AS targeting_seg,
           {ref_round_sql('s.chi2_stat', 2)} AS chi2_stat
    FROM posagg p
    JOIN modes m ON p.variable = m.variable AND p.cluster = m.cluster
    JOIN sig s ON p.variable = s.variable
    JOIN resp r ON p.variable = r.variable
    JOIN csize cs ON p.cluster = cs.cluster
"""


@register(
    "discover_stats_planted",
    oracle=(
        "SELECT targeting_seg, q_code, pop_mode AS mode, "
        "mode_pop_perc AS mode_perc, sig_more_category, category_percentages "
        "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY targeting_seg "
        "ORDER BY chi_2_result ASC, q_code ASC) AS rn FROM ("
        + _DELIVER_ORACLE.format(thresh=_cell_z_threshold_case())
        + ") WHERE pop_mode NOT IN ('not selected', 'Not shown')) WHERE rn <= 2"
    ),
    survey_ids=["W2", "W3"],
    description="Discover view: top-2 variables per segment by ascending "
    "p-value from the deliver-stats output",
)
def discover_stats_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.contingency import discover_stats

    o = load_table(spark, sf_dir, "orders")
    wide = o.select(
        F.col("o_orderkey").alias("id"),
        F.when(F.col("o_totalprice") < 100000, "budget")
        .when(F.col("o_totalprice") < 250000, "mid")
        .otherwise("premium")
        .alias("cluster"),
        F.when(F.col("o_totalprice") < 150000, "under150k")
        .otherwise("over150k")
        .alias("q_band"),
        F.col("o_orderpriority").alias("q_priority"),
        F.col("o_orderstatus").alias("q_status"),
    )
    t = contingency_tables(wide, "cluster", id_vars=["id"])
    d = discover_stats(deliver_stats(t), n_feats=2)
    return d.select(
        "targeting_seg",
        "q_code",
        "mode",
        "mode_perc",
        F.concat_ws("|", "sig_more_category").alias("sig_more_category"),
        F.concat_ws(
            "|", F.transform("category_percentages", lambda x: x.cast("string"))
        ).alias("category_percentages"),
    )


# Weighted variant: integer-valued double weights (1 + o_orderkey % 5) keep
# every SUM exact in both engines, so the weighted modes/percentages are
# bit-deterministic without DECIMAL plumbing.
_DELIVER_WEIGHTED_ORACLE = f"""
    WITH wide AS (
      SELECT CASE WHEN o_totalprice < 100000 THEN 'budget'
                  WHEN o_totalprice < 250000 THEN 'mid'
                  ELSE 'premium' END AS cluster,
             CAST(1 + o_orderkey % 5 AS DOUBLE) AS w,
             CASE WHEN o_totalprice < 150000 THEN 'under150k'
                  ELSE 'over150k' END AS q_band,
             o_orderpriority AS q_priority
      FROM orders
    ), long AS (
      SELECT cluster, w, 'q_band' AS variable, q_band AS value FROM wide
      UNION ALL SELECT cluster, w, 'q_priority', q_priority FROM wide
    ), cells AS (
      SELECT variable, cluster, value, COUNT(*) AS observed, SUM(w) AS wn
      FROM long WHERE value IS NOT NULL
      GROUP BY variable, cluster, value
    ), nrows AS (SELECT COUNT(*) AS n_rows FROM wide),
    csize AS (
      SELECT cluster, COUNT(*) AS cluster_n, SUM(w) AS cluster_w
      FROM wide GROUP BY cluster
    ),
    obs AS (SELECT * FROM cells WHERE value <> 'Not shown'),
    grid AS (
      SELECT vv.variable, vv.value, vc.cluster
      FROM (SELECT DISTINCT variable, value FROM obs) vv
      JOIN (SELECT DISTINCT variable, cluster FROM obs) vc USING (variable)
    ), dense AS (
      SELECT g.variable, g.cluster, g.value, COALESCE(o.observed, 0) AS observed
      FROM grid g LEFT JOIN obs o
        ON g.variable = o.variable AND g.cluster = o.cluster AND g.value = o.value
    ), tot AS (
      SELECT *,
             SUM(observed) OVER (PARTITION BY variable, value) AS row_tot,
             SUM(observed) OVER (PARTITION BY variable, cluster) AS col_tot,
             SUM(observed) OVER (PARTITION BY variable) AS n
      FROM dense
    ), pervar AS (
      SELECT variable,
             SUM(POW(observed - row_tot * col_tot * 1.0 / n, 2)
                 / (row_tot * col_tot * 1.0 / n)) AS stat_plain,
             SUM(POW(GREATEST(ABS(observed - row_tot * col_tot * 1.0 / n) - 0.5, 0), 2)
                 / (row_tot * col_tot * 1.0 / n)) AS stat_yates,
             MIN(observed) AS min_observed,
             COUNT(DISTINCT value) AS n_values,
             COUNT(DISTINCT cluster) AS n_clusters
      FROM tot GROUP BY variable
    ), tests AS (
      SELECT variable,
             CASE WHEN (n_values - 1) * (n_clusters - 1) = 1 AND min_observed <= 5
                  THEN stat_yates ELSE stat_plain END AS chi2_stat,
             (n_values - 1) * (n_clusters - 1) AS dof, n_values, n_clusters
      FROM pervar
    ), sigf AS (
      SELECT variable, chi2_stat, dof, n_values, n_clusters,
             LEAST(1.0, exp(-chi2_stat / 2) *
                   list_sum(list_transform(generate_series(0, dof // 2 - 1),
                                           k -> pow(chi2_stat / 2, k) / gamma(k + 1.0))))
               AS p_value
      FROM tests
      WHERE dof > 0 AND dof % 2 = 0
    ), sig AS (SELECT * FROM sigf WHERE p_value <= 0.05),
    res AS (
      SELECT t.variable, t.cluster, t.value, t.observed,
             s.p_value, s.n_values, s.n_clusters,
             {ref_round_sql('''(t.observed - t.row_tot * t.col_tot * 1.0 / t.n)
                   / SQRT((t.row_tot * t.col_tot * 1.0 / t.n)
                          * (1 - t.row_tot * 1.0 / t.n)
                          * (1 - t.col_tot * 1.0 / t.n))''', 3)} AS z
      FROM tot t JOIN sig s USING (variable)
    ), denoms AS (
      SELECT variable, cluster, SUM(observed) AS answered_n, SUM(wn) AS answered_w
      FROM cells GROUP BY variable, cluster
    ), pos AS (
      SELECT r.*, d.answered_n, d.answered_w, c.wn
      FROM res r
      JOIN denoms d ON r.variable = d.variable AND r.cluster = d.cluster
      JOIN cells c ON r.variable = c.variable AND r.cluster = c.cluster
                  AND r.value = c.value
      WHERE ABS(r.z) >= 1.96 AND ABS(r.z) >= {{thresh}}
        AND r.z > 0 AND r.value <> 'not selected'
    ), posagg AS (
      SELECT variable, cluster,
             array_to_string(list(value ORDER BY value), '|') AS sig_more_category,
             array_to_string(list(CAST({ref_round_sql('wn / answered_w * 100', 2)}
                                       AS VARCHAR) ORDER BY value), '|')
               AS weighted_category_percentages
      FROM pos GROUP BY variable, cluster
    ), wmodes AS (
      SELECT variable, cluster, value AS weighted_pop_mode, wn AS wmode_count
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY variable, cluster
                                         ORDER BY wn DESC, value ASC) AS rn
            FROM cells WHERE value <> 'Not shown')
      WHERE rn = 1
    )
    SELECT p.variable AS q_code,
           {ref_round_sql('s.p_value', 5)} AS chi_2_result,
           p.sig_more_category,
           p.weighted_category_percentages,
           p.cluster AS targeting_seg,
           wm.weighted_pop_mode,
           {ref_round_sql('wm.wmode_count / cs.cluster_w * 100', 0)} AS weighted_pop_mode_perc
    FROM posagg p
    JOIN wmodes wm ON p.variable = wm.variable AND p.cluster = wm.cluster
    JOIN sig s ON p.variable = s.variable
    JOIN csize cs ON p.cluster = cs.cluster
"""


@register(
    "deliver_stats_weighted",
    oracle=_DELIVER_WEIGHTED_ORACLE.format(thresh=_cell_z_threshold_case()),
    survey_ids=["M25", "A5", "A6"],
    description="Weighted deliver-stats: weighted modes, mode shares and "
    "category percentages from the same single-shuffle plan",
)
def deliver_stats_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = o.select(
        F.col("o_orderkey").alias("id"),
        F.when(F.col("o_totalprice") < 100000, "budget")
        .when(F.col("o_totalprice") < 250000, "mid")
        .otherwise("premium")
        .alias("cluster"),
        (1 + F.col("o_orderkey") % 5).cast("double").alias("w"),
        F.when(F.col("o_totalprice") < 150000, "under150k")
        .otherwise("over150k")
        .alias("q_band"),
        F.col("o_orderpriority").alias("q_priority"),
    )
    t = contingency_tables(wide, "cluster", weight_col="w", id_vars=["id"])
    d = deliver_stats(t, include_chi2_stat=False)
    return d.select(
        "q_code",
        "chi_2_result",
        F.concat_ws("|", "sig_more_category").alias("sig_more_category"),
        F.concat_ws(
            "|",
            F.transform("weighted_category_percentages", lambda x: x.cast("string")),
        ).alias("weighted_category_percentages"),
        "targeting_seg",
        "weighted_pop_mode",
        "weighted_pop_mode_perc",
    )


@register(
    "mode_list_planted",
    oracle="""
    WITH wide AS (
      SELECT CASE WHEN o_totalprice < 100000 THEN 'budget'
                  WHEN o_totalprice < 250000 THEN 'mid'
                  ELSE 'premium' END AS cluster,
             CASE WHEN o_totalprice < 150000 THEN 'under150k'
                  ELSE 'over150k' END AS q_band,
             o_orderpriority AS q_priority,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE o_orderstatus END AS q_status
      FROM orders
    ), long AS (
      SELECT cluster, 'q_band' AS variable, q_band AS value FROM wide
      UNION ALL SELECT cluster, 'q_priority', q_priority FROM wide
      UNION ALL SELECT cluster, 'q_status', q_status FROM wide
      UNION ALL SELECT cluster, 'cluster', cluster FROM wide
    ), counts AS (
      SELECT cluster, variable, value, COUNT(*) AS n
      FROM long GROUP BY cluster, variable, value
    )
    SELECT cluster, variable, value AS mode_value
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY cluster, variable
            ORDER BY n DESC, (value IS NULL) ASC, value ASC) AS rn
          FROM counts)
    WHERE rn = 1
    """,
    survey_ids=["M26", "A6"],
    description="mode_list: per-cluster modal answer for every column "
    "(nulls counted, pandas mode(dropna=False) tie order) — the third "
    "element of the reference's return_API_data triple",
)
def mode_list_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = o.select(
        F.col("o_orderkey").alias("id"),
        F.when(F.col("o_totalprice") < 100000, "budget")
        .when(F.col("o_totalprice") < 250000, "mid")
        .otherwise("premium")
        .alias("cluster"),
        F.when(F.col("o_totalprice") < 150000, "under150k")
        .otherwise("over150k")
        .alias("q_band"),
        F.col("o_orderpriority").alias("q_priority"),
        # planted nulls exercise the dropna=False branch
        F.when(F.col("o_orderkey") % 11 == 0, None)
        .otherwise(F.col("o_orderstatus"))
        .alias("q_status"),
    )
    return cluster_mode_list(
        contingency_tables(
            wide,
            cluster_col="cluster",
            variables=["q_band", "q_priority", "q_status"],
            id_vars=["id"],
        )
    )


@register(
    "deliver_stats_planted",
    oracle=_DELIVER_ORACLE.format(thresh=_cell_z_threshold_case()),
    survey_ids=["M24", "M25", "M26", "A6", "A12", "W3"],
    description="Full deliver-stats inference on a planted-dependence table",
)
def deliver_stats_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = o.select(
        F.col("o_orderkey").alias("id"),
        F.when(F.col("o_totalprice") < 100000, "budget")
        .when(F.col("o_totalprice") < 250000, "mid")
        .otherwise("premium")
        .alias("cluster"),
        F.when(F.col("o_totalprice") < 150000, "under150k")
        .otherwise("over150k")
        .alias("q_band"),
        F.col("o_orderpriority").alias("q_priority"),
        F.col("o_orderstatus").alias("q_status"),
    )
    t = contingency_tables(wide, "cluster", id_vars=["id"])
    d = deliver_stats(t)
    # stringify arrays for a stable driver-side representation
    return d.select(
        "q_code",
        "pop_mode",
        F.round("response_rate", 6).alias("response_rate"),
        "mode_pop_perc",
        "chi_2_result",
        F.concat_ws("|", "sig_more_category").alias("sig_more_category"),
        F.concat_ws(
            "|", F.transform("category_percentages", lambda x: x.cast("string"))
        ).alias("category_percentages"),
        "targeting_seg",
        "chi2_stat",
    )


@register(
    "cramers_v_by_variable",
    oracle=_MELT_CTE + """
    , pervar AS (
      SELECT variable,
             SUM(POW(observed - row_tot * col_tot * 1.0 / n, 2) /
                 (row_tot * col_tot * 1.0 / n)) AS stat_plain,
             SUM(POW(GREATEST(ABS(observed - row_tot * col_tot * 1.0 / n) - 0.5, 0), 2) /
                 (row_tot * col_tot * 1.0 / n)) AS stat_yates,
             MIN(observed) AS min_observed,
             COUNT(DISTINCT value) AS n_values,
             COUNT(DISTINCT cluster) AS n_clusters,
             CAST(SUM(observed) AS BIGINT) AS n_obs
      FROM tot GROUP BY variable
    ),
    fin AS (
      SELECT variable,
             ROUND(CASE WHEN (n_values - 1) * (n_clusters - 1) = 1 AND min_observed <= 5
                        THEN stat_yates ELSE stat_plain END, 6) AS chi2_stat,
             CAST((n_values - 1) * (n_clusters - 1) AS BIGINT) AS dof,
             n_obs,
             CAST(LEAST(n_values, n_clusters) - 1 AS DOUBLE) AS k
      FROM pervar
    )
    SELECT variable, chi2_stat, dof, n_obs,
           CASE WHEN k > 0 THEN """
    + ref_round_sql("sqrt(chi2_stat / (CAST(n_obs AS DOUBLE) * k))", 6)
    + """ END AS cramers_v6
    FROM fin
    """,
    survey_ids=["M21", "M22"],
    description="Cramér's V effect size per variable (the magnitude "
    "companion to the chi-squared p): derived from the same dense cell "
    "frame as the test statistic plus a per-variable total — all "
    "|variables|-row broadcast-sized arithmetic",
)
def cramers_v_by_variable(spark: SparkSession, sf_dir: str) -> DataFrame:

    t = contingency_tables(_survey_wide(spark, sf_dir), "cluster", id_vars=["id"])
    return cramers_v(t)
