"""Contingency-table / chi-squared inference core.

Re-implements the reference's ``ChiSquaredTester`` engine
(reference: src/kraken/app/inference/chisquared_tester.py). The
reference loops ``clusters x variables`` times over the full pandas
table, computing one ``pd.crosstab`` per pair
(chisquared_tester.py:1434-1589). Here the wide table is melted once
(plans/melt.py) and ONE ``groupBy(variable, cluster, value)`` produces
every crosstab cell simultaneously. That cell table is collected to the
driver ONCE, and the finalizer — dense grid, expected counts,
chi-squared test, post-hoc residuals, modes and percentages — runs in
plain Python over it (:func:`_finalize`, :func:`deliver_stats`). The
survey sums the same cells from its scheme table's labelled answer
patterns instead (:func:`pattern_tables`), with no Spark job.

Scale notes (100 TB design):
- The only pass over the input is the cell aggregation: one shuffle,
  with map-side partial aggregation. Its output has
  |variables| x |values| x |clusters| rows — sized by the survey's
  schema, not by its respondent count — so it may live on the driver,
  the same argument ``ml/lca.py`` makes for its pattern table.
- Cluster sizes ride the SAME aggregation as a constant pseudo-variable,
  so the one collect carries everything the finalizer reads.
- Every inference output — the statistics, deliver, discover and the
  per-cluster mode list — comes back as a small local frame (a
  ``LocalRelation``) built from that one collect: its consumers read it
  without a Spark job, also after the input's caches are released, and
  building it costs no plan work. (The previous per-variable SQL array
  program spent seconds of cold-JVM planning per survey on a table of a
  few KB.)

Semantics replicated from the reference (file:line cites):
- "Not shown" rows excluded from crosstabs        (chisquared_tester.py:229-236)
- Yates correction requested iff any cell <= 5    (chisquared_tester.py:244-256)
  and (scipy semantics) applied iff dof == 1, clamped at |O-E|
- degenerate tables -> p = 1.0                    (chisquared_tester.py:376-377)
- adjusted residual rounded to 3 decimals         (chisquared_tester.py:475)
- cell significant iff |z| >= 1.96 AND
  chi2_sf(z^2, 1) <= alpha / (r*c)  [Bonferroni]  (chisquared_tester.py:544-552)
- deliver stats: p rounded to 5, percentages to 2 (chisquared_tester.py:1546-1560)
- 'not selected' stripped from significant-category lists and empty rows
  dropped                                         (chisquared_tester.py:1653-1662)
Every rounding is Python ``round``, the reference's own function
(``functions.rounding.ref_round`` is its column form).
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qudo_etl_pipeline_spark.functions.stats import chi2_sf, z_threshold
from qudo_etl_pipeline_spark.plans.melt import melt

NOT_SHOWN = "Not shown"
NOT_SELECTED = "not selected"


class _Cell(NamedTuple):
    """One collected (variable, cluster, value) cell; ``seg`` is the
    cluster as Spark casts it to a string (the deliver segment label)."""

    value: str
    cluster: Any
    seg: str | None
    observed: int
    w_observed: float


class _GridCell(NamedTuple):
    """One cell of a variable's dense (value x cluster) crosstab."""

    value: str
    cluster: Any
    observed: int
    w_observed: float
    row_tot: int
    col_tot: int
    expected: float


@dataclass
class _Variable:
    """One variable's crosstab and chi-squared test (:func:`_finalize`)."""

    name: str
    cells: list[_Cell]  # every cell, sentinels and NULL clusters included
    clusters: list  # the crosstab's clusters, ascending
    n: int  # the crosstab's grand total
    grid: list[_GridCell]  # value-major, values and clusters ascending
    dof: int
    yates: bool
    chi2_stat: float | None
    p_value: float

    @property
    def n_values(self) -> int:
        return len(self.grid) // len(self.clusters)

    def post_hoc(self, alpha: float) -> list[tuple[_GridCell, float | None, str]]:
        """(grid cell, adjusted residual, 'pos'|'neg'|'neu') per cell.

        The residual is rounded to 3 before the test, as the reference
        does (chisquared_tester.py:473); a constant variable has a zero
        denominator and gets no residual ('neu'). The ``m = r * c``
        Bonferroni tests share one ``alpha/m`` threshold: the bisected
        |z| threshold for m <= 1024 (the oracles' helper, one bisection
        per variable), the survival function itself for wider tables.
        """
        m = len(self.grid)
        z_thr = z_threshold(alpha / m) if m <= 1024 else None
        out = []
        for g in self.grid:
            den = math.sqrt(
                g.expected * (1 - g.row_tot / self.n) * (1 - g.col_tot / self.n)
            )
            # + 0.0: a residual that rounds to zero is +0.0, as
            # functions.rounding.ref_round gives it
            z = round((g.observed - g.expected) / den, 3) + 0.0 if den else None
            sig = (
                z is not None
                and abs(z) >= 1.96
                and (
                    abs(z) >= z_thr
                    if z_thr is not None
                    else chi2_sf(z * z, 1) <= alpha / m
                )
            )
            label = ("pos" if g.observed > g.expected else "neg") if sig else "neu"
            out.append((g, z, label))
        return out


def _finalize(name: str, cells: list[_Cell]) -> _Variable | None:
    """The scipy ``chi2_contingency`` finalizer over one variable's cells.

    NULL clusters and "Not shown" on either axis never enter a crosstab
    (chisquared_tester.py:229-236); only values and clusters that occur
    form the table, missing combinations are zero cells (:241-246).
    Expected counts go through float before the multiply; the statistic
    sums the grid in value-major order. Yates is requested iff any grid
    cell is <= 5 and applied iff dof == 1, clamped at |O-E|; a
    degenerate table (dof 0) has no statistic and p = 1.0. A variable
    with no valid cell has no crosstab (None).
    """
    obs = [
        c
        for c in cells
        if c.cluster is not None and c.value != NOT_SHOWN and c.seg != NOT_SHOWN
    ]
    if not obs:
        return None
    values = sorted({c.value for c in obs})
    clusters = sorted({c.cluster for c in obs})
    row_tot = dict.fromkeys(values, 0)
    col_tot = dict.fromkeys(clusters, 0)
    for c in obs:
        row_tot[c.value] += c.observed
        col_tot[c.cluster] += c.observed
    n = sum(row_tot.values())
    at = {(c.value, c.cluster): c for c in obs}
    grid = []
    for v in values:
        for k in clusters:
            c = at.get((v, k))
            grid.append(
                _GridCell(
                    v,
                    k,
                    c.observed if c else 0,
                    c.w_observed if c else 0.0,
                    row_tot[v],
                    col_tot[k],
                    float(row_tot[v]) * col_tot[k] / n,
                )
            )
    plain = corrected = 0.0
    for g in grid:
        dev = g.observed - g.expected
        plain += dev * dev / g.expected
        clamped = max(abs(dev) - 0.5, 0.0)
        corrected += clamped * clamped / g.expected
    dof = (len(values) - 1) * (len(clusters) - 1)
    yates = min(g.observed for g in grid) <= 5
    stat = (corrected if yates and dof == 1 else plain) if dof > 0 else None
    return _Variable(
        name=name,
        cells=cells,
        clusters=clusters,
        n=n,
        grid=grid,
        dof=dof,
        yates=yates,
        chi2_stat=stat,
        p_value=chi2_sf(stat, dof) if dof > 0 else 1.0,
    )


@dataclass
class ContingencyTables:
    """Aggregated crosstab state shared by every downstream statistic.

    The state is the crosstab cells, one per (variable, cluster, value)
    with its ``observed`` count and ``w_observed`` weighted count,
    *including* sentinel values, and one size per cluster (NULL
    included): its row count and total weight. ``names`` are the
    variables, in the caller's order; ``cluster_type`` is the cluster
    column's type (DDL). :meth:`raw`, :meth:`sizes` and :meth:`variables`
    (the finalized crosstabs) read the state from a memo.

    :func:`contingency_tables` builds the state lazily with one Spark
    aggregation: ``cells`` and ``cluster_sizes`` are lazy filters of it,
    and the first statistic runs ONE collect of it into the memo.
    :func:`pattern_tables` builds it from collected cells, memo filled.
    :meth:`unpersist` drops a memo it can collect again.
    """

    spark: SparkSession
    cluster_col: str
    cluster_type: str
    weighted: bool
    names: list[str]
    cells: DataFrame | None = None
    cluster_sizes: DataFrame | None = None
    _all_cells: DataFrame | None = None  # what cells/cluster_sizes filter
    _row_marker: str = "__rows__"
    _memo: dict = field(default_factory=dict)

    def variables(self) -> list[_Variable]:
        """Every variable with a crosstab, finalized, in name order."""
        self._collect()
        return self._memo["variables"]

    def raw(self) -> dict[str, list[_Cell]]:
        """Every variable's collected cells in value order, sentinels
        and NULL clusters included; a variable with no answer has none."""
        self._collect()
        return self._memo["raw"]

    def sizes(self) -> list[_Cell]:
        """One cell per cluster, NULL included: ``observed`` is the
        cluster's row count, ``w_observed`` its total weight."""
        self._collect()
        return self._memo["sizes"]

    def _collect(self) -> None:
        if self._memo:
            return
        cc = self.cluster_col.replace("`", "``")
        rows = self._all_cells.selectExpr(
            "variable",
            "value",
            f"`{cc}`",
            f"CAST(`{cc}` AS STRING)",
            "observed",
            "w_observed",
        ).collect()
        raw: dict[str, list[_Cell]] = {v: [] for v in self.names}
        sizes = []
        for var, value, cluster, seg, n, w in rows:
            cell = _Cell(value, cluster, seg, n, w)
            (sizes if var == self._row_marker else raw[var]).append(cell)
        self._load(raw, sizes)

    def _load(self, raw: dict[str, list[_Cell]], sizes: list[_Cell]) -> None:
        for cells in raw.values():
            cells.sort(key=lambda c: c.value)
        finalized = (_finalize(var, cells) for var, cells in sorted(raw.items()))
        self._memo["variables"] = [v for v in finalized if v is not None]
        self._memo["raw"] = raw
        self._memo["sizes"] = sizes

    @property
    def n_rows(self) -> int:
        """Total row count of the input table."""
        return sum(c.observed for c in self.sizes())

    def unpersist(self) -> None:
        """Drop the memoized rows (nothing is cached on the cluster); the
        next statistic collects them again. Cells loaded by
        :func:`pattern_tables` have no Spark state to re-read, so they
        stay."""
        if self._all_cells is not None:
            self._memo.clear()


def cell_weight(weight_col: str | None) -> Column:
    """The weight a row adds to its cells: ``weight_col`` as a double,
    NULL counting 0 (as ``sum`` skips it) so ``w_observed`` is never
    NULL — the weighted mode is an argmax over it; 1.0 without weights."""
    if not weight_col:
        return F.lit(1.0)
    return F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0))


def contingency_tables(
    wide: DataFrame,
    cluster_col: str,
    variables: list[str] | None = None,
    weight_col: str | None = None,
    id_vars: list[str] | None = None,
) -> ContingencyTables:
    """Melt ``wide`` and aggregate every crosstab cell in one shuffle.

    The aggregation is a plain hash ``groupBy`` with map-side partial
    aggregation, so a hot cell (a sentinel answer in one big cluster)
    sends at most one partial row per map task to its reducer — skew in
    a single cell costs no extra reduce work. Building the tables
    launches no Spark job.
    """
    if variables is None:
        excluded = {cluster_col, weight_col, *(id_vars or [])}
        variables = [c for c in wide.columns if c not in excluded]

    keep = [cluster_col] + ([weight_col] if weight_col else [])
    # A constant pseudo-variable rides the melt so per-cluster row counts
    # fall out of the SAME aggregation — cluster sizes must count every
    # row (answered or not), which no real variable's cells can provide,
    # and a separate groupBy over `wide` would be a second full-data scan.
    row_marker = "__rows__"
    while row_marker in variables:  # survey columns are externally named
        row_marker += "_"
    long = melt(
        wide.select(*keep, *variables, F.lit("1").alias(row_marker)),
        id_vars=keep,
        value_vars=variables + [row_marker],
    )

    w = cell_weight(weight_col)
    # THE one big-data shuffle (and the only pass over the input). Its
    # result is tiny (|vars| x |values| x |clusters|) and is collected
    # once by the first statistic that needs it.
    all_cells = (
        long.filter(F.col("value").isNotNull())
        .withColumn("_w", w)
        .groupBy("variable", cluster_col, "value")
        .agg(
            F.count(F.lit(1)).alias("observed"),
            F.sum("_w").alias("w_observed"),
        )
    )
    cells = all_cells.filter(F.col("variable") != row_marker)

    cluster_sizes = all_cells.filter(F.col("variable") == row_marker).select(
        cluster_col,
        F.col("observed").alias("cluster_n"),
        F.col("w_observed").alias("cluster_w"),
    )
    return ContingencyTables(
        spark=wide.sparkSession,
        cluster_col=cluster_col,
        cluster_type=wide.schema[cluster_col].dataType.simpleString(),
        weighted=weight_col is not None,
        names=variables,
        cells=cells,
        cluster_sizes=cluster_sizes,
        _all_cells=all_cells,
        _row_marker=row_marker,
    )


def pattern_tables(
    spark: SparkSession,
    patterns: list[dict],
    variables: list[str],
    weighted: bool,
    cluster_col: str = "prediction",
    cluster_type: str = "int",
) -> ContingencyTables:
    """The :class:`ContingencyTables` of a labelled pattern table, with no
    Spark job: each pattern — its ``variables`` as strings (NULL as
    None), its cluster ``cluster_col`` and that cluster as a string
    ``_seg``, its row count ``_n`` and weight sum ``_wt`` — adds its
    counts to one cell per answered variable and to its cluster's size.
    Summed in the patterns' order, the counts equal
    :func:`contingency_tables`' over the rows the patterns stand for."""
    cells: dict = {}
    sizes: dict = {}

    def add(at: dict, key, p: dict) -> None:
        n, w = at.get(key, (0, 0.0))
        at[key] = (n + p["_n"], w + p["_wt"])

    for p in patterns:
        k = (p[cluster_col], p["_seg"])
        add(sizes, k, p)
        for var in variables:
            if p[var] is not None:
                add(cells, (var, p[var], k), p)
    raw: dict[str, list[_Cell]] = {v: [] for v in variables}
    for (var, value, (k, seg)), (n, w) in cells.items():
        raw[var].append(_Cell(value, k, seg, n, w))
    tables = ContingencyTables(
        spark, cluster_col, cluster_type, weighted, list(variables)
    )
    tables._load(raw, [_Cell("1", k, seg, n, w) for (k, seg), (n, w) in sizes.items()])
    return tables


def local_frame(spark: SparkSession, ddl: str, rows: list[tuple]) -> DataFrame:
    """``rows`` as a local (``LocalRelation``) frame with the DDL schema
    ``ddl``: how every schema-sized result is built.

    Built through Arrow: a plain list would be parallelized into an RDD,
    so every action on the frame would run a Spark job through a Python
    worker. A local relation is read on the driver, job-free.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)


def _frame(tables: ContingencyTables, fields: str, rows: list[tuple]) -> DataFrame:
    """:func:`local_frame` of ``rows`` with the DDL schema ``fields``, in
    which ``{cluster}`` stands for the cluster column, typed as in the
    cells."""
    cc = tables.cluster_col.replace("`", "``")
    cluster = f"`{cc}`: {tables.cluster_type}"
    return local_frame(tables.spark, fields.format(cluster=cluster), rows)


def deliver_stats(
    tables: ContingencyTables,
    alpha: float = 0.05,
    include_chi2_stat: bool = True,
) -> DataFrame:
    """The flagship inference output ("deliver_pg_stats").

    One row per (significant variable, segment):
      q_code, pop_mode, response_rate, mode_pop_perc, chi_2_result,
      sig_more_category, category_percentages, targeting_seg
      [+ chi2_stat] [+ weighted_pop_mode, weighted_pop_mode_perc,
      weighted_category_percentages when the input was weighted]
    ordered by (chi_2_result, q_code, targeting_seg).

    One cell shuffle and one collect (:class:`ContingencyTables`); the
    rest is the driver-side finalizer, returned as a local frame whose
    readers run no Spark job. The collected table has
    |variables| x |values| x |clusters| rows whatever the respondent
    count, which is what keeps this driver-side at any scale.

    Reference: chisquared_tester.py:1434-1589 (lazy path) and :1671-1731.
    - answer denominators per (variable, cluster) include sentinel
      values — pandas value_counts(normalize=True) (:1527-1536);
    - both population modes exclude "Not shown", ties broken by
      ascending value like pandas .mode() (:914-918);
    - response rate sums EVERY cluster's cells, NULL-cluster rows
      included, over the total row count (:1503);
    - significant "more" categories are the 'pos' cells, 'not selected'
      stripped (:1653 + helper_functions.py:24-30), in value order; a
      segment with none has no row.
    A cluster whose weights are all zero (or NULL) has NULL weighted
    percentages, the Spark spelling of the reference's NaN.
    Divergence note: the reference's weighted_pop_mode takes
    ``category_sizes.max()["category"]`` — the lexicographic max category,
    an apparent bug (chisquared_tester.py:966-971). We compute the argmax
    of the weighted count (the documented intent: "the category with the
    highest weighted sum").
    """
    sizes = {c.cluster: c for c in tables.sizes() if c.cluster is not None}
    total_rows = float(tables.n_rows)
    rows = []
    for var in tables.variables():
        if not var.p_value <= alpha:
            continue
        response_rate = sum(c.observed for c in var.cells) / total_rows * 100
        pos_cells = [
            g
            for g, _, label in var.post_hoc(alpha)
            if label == "pos" and g.value != NOT_SELECTED
        ]
        for k in var.clusters:
            pos = [g for g in pos_cells if g.cluster == k]
            if not pos:
                continue
            answered = [c for c in var.cells if c.cluster == k]
            answered_n = sum(c.observed for c in answered)
            answered_w = 0.0
            for c in answered:  # a fixed order: ascending value
                answered_w += c.w_observed
            shown = [c for c in answered if c.value != NOT_SHOWN]
            mode = min(shown, key=lambda c: (-c.observed, c.value))
            size_n, size_w = sizes[k].observed, sizes[k].w_observed
            row = (
                var.name,
                mode.value,
                response_rate,
                round(mode.observed / size_n * 100, 2),
                round(var.p_value, 5),
                [g.value for g in pos],
                [round(g.observed / answered_n * 100, 2) for g in pos],
                answered[0].seg,
            )
            if include_chi2_stat:
                row += (round(var.chi2_stat, 2),)
            if tables.weighted:
                wmode = min(shown, key=lambda c: (-c.w_observed, c.value))
                row += (
                    wmode.value,
                    round(wmode.w_observed / size_w * 100, 0) if size_w else None,
                    [
                        round(g.w_observed / answered_w * 100, 2)
                        if answered_w
                        else None
                        for g in pos
                    ],
                )
            rows.append(row)
    rows.sort(key=lambda r: (r[4], r[0], r[7]))
    return _frame(
        tables,
        "q_code: string, pop_mode: string, response_rate: double,"
        " mode_pop_perc: double, chi_2_result: double,"
        " sig_more_category: array<string>,"
        " category_percentages: array<double>, targeting_seg: string"
        + (", chi2_stat: double" if include_chi2_stat else "")
        + (
            ", weighted_pop_mode: string, weighted_pop_mode_perc: double,"
            " weighted_category_percentages: array<double>"
            if tables.weighted
            else ""
        ),
        rows,
    )


def cluster_mode_list(tables: ContingencyTables) -> DataFrame:
    """Per-cluster modal answer for every column — the third element of
    the reference's ``return_API_data`` triple (M26).

    Reference: chisquared_tester.py:1788-1792 — for each cluster group,
    ``sub_frame.mode(dropna=False).head(1)``: per column the most
    frequent value, with nulls counted as a value, ties broken by the
    ascending sort pandas.mode applies (nulls last). pandas groupby drops
    NaN group keys, so NULL clusters get no rows. The group sub-frame
    includes the cluster column itself, so its (trivial) mode row is kept
    for output-shape parity.

    Read from the tables' one collect: a value's count is its cell, the
    NULL count is the cluster's row count less its answered cells. Output
    (a local frame, |columns| x |clusters| rows): cluster (string),
    variable, mode_value.
    """
    rows = []
    sizes = sorted(
        (c for c in tables.sizes() if c.cluster is not None),
        key=lambda c: c.cluster,
    )
    for size in sizes:
        for name, cells in tables.raw().items():
            if name == tables.cluster_col:
                continue
            counts = [(c.observed, c.value) for c in cells if c.cluster == size.cluster]
            nulls = size.observed - sum(n for n, _ in counts)
            if nulls:
                counts.append((nulls, None))
            # higher count, then non-NULL, then the lower value
            _, mode = min(counts, key=lambda nv: (-nv[0], nv[1] is None, nv[1] or ""))
            rows.append((size.seg, name, mode))
        rows.append((size.seg, tables.cluster_col, size.seg))
    return local_frame(
        tables.spark,
        "cluster: string, variable: string, mode_value: string",
        rows,
    )


def discover_stats(deliver: DataFrame, n_feats: int = 10) -> DataFrame:
    """Top-``n_feats`` variables per segment by ascending p-value.

    Reference: seg_discover_stats_df (chisquared_tester.py:1671-1731) —
    renames pop_mode->mode / mode_pop_perc->mode_perc, drops rows whose
    mode is NULL or a sentinel, keeps the first n_feats per segment in
    (chi_2_result, q_code) order, NULLs first as Spark's ``asc`` sorts.

    ``deliver`` is schema-sized (:func:`deliver_stats`' local frame), so
    its rows are ranked on the driver; the result is a local frame whose
    column types are the input's.
    """
    cols = [
        "targeting_seg", "q_code", "pop_mode", "mode_pop_perc",
        "sig_more_category", "category_percentages",
    ]
    renamed = {"pop_mode": "mode", "mode_pop_perc": "mode_perc"}

    def asc(v):  # Spark's ascending order: NULLs first
        return (v is not None, v)

    ranked = sorted(
        (
            r
            for r in deliver.collect()
            if r["pop_mode"] not in (None, NOT_SELECTED, NOT_SHOWN)
        ),
        key=lambda r: (asc(r["chi_2_result"]), asc(r["q_code"])),
    )
    kept = Counter()
    rows = []
    for r in ranked:
        kept[r["targeting_seg"]] += 1
        if kept[r["targeting_seg"]] <= n_feats:
            rows.append(tuple(r[c] for c in cols))
    types = {f.name: f.dataType.simpleString() for f in deliver.schema.fields}
    return local_frame(
        deliver.sparkSession,
        ", ".join(f"{renamed.get(c, c)}: {types[c]}" for c in cols),
        rows,
    )
