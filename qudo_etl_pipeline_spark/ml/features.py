"""Feature pipeline: the scheme table, dtype sniffing, label encoding.

Re-implements the reference's feature prep (reference:
src/kraken/app/clustering.py:101-109,207-291) Spark-first:

- dynamic typing: ``data.apply(pd.to_numeric, errors='ignore')``
  (clustering.py:101) -> read from each column's distinct values: a
  string column is numeric iff every distinct value try-casts to double
  (SURVEY §1.3).
- whole-table label encode: ``data.apply(LabelEncoder().fit_transform)``
  (clustering.py:103-109) -> sorted-distinct-value codes per column,
  from the same distinct values. sklearn sorts values (numerics
  numerically, strings lexicographically), so codes are computed per
  column in sorted order — NOT Spark StringIndexer's frequency order.

Scale notes (100 TB design):
- A survey scheme reads its data through ONE aggregate,
  :func:`scheme_table`: a ``groupBy`` over the full answer pattern. Its
  rows are the sufficient statistic of the categorical fits, the chi²
  cells and the cluster metrics, and, projected on each column, the
  code maps and the numeric sniff. It is sized by the schema, up to
  ``PATTERN_THRESHOLD`` full patterns; above it the full patterns are a
  priority sample and the profile is one melt + groupBy pass
  (:func:`build_code_maps`).
- The per-column dictionaries (answer options — tiny) are re-applied as
  `F.create_map` literals, so ENCODING ADDS NO SHUFFLE to the downstream
  plan and survives Catalyst pushdown.
- Scaling and PCA are fitted on the same table's weighted patterns
  (``ml.clustering.kmeans_table``); the catalog's MLlib versions are
  ``catalog.ml_q``'s.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qudo_etl_pipeline_spark.functions.hashing import token_hash64
from qudo_etl_pipeline_spark.operators.contingency import cell_weight
from qudo_etl_pipeline_spark.plans.melt import melt

_LOG = logging.getLogger(__name__)

# the most full patterns a scheme table (or pattern table) holds
# exactly: a larger one is a priority sample of this many patterns —
# bounds driver memory at any input size
PATTERN_THRESHOLD = 200_000

def _profile(
    schema: T.StructType, distinct: dict[str, dict]
) -> tuple[dict[str, dict[str, int]], list[str]]:
    """Code maps and numeric columns from each column's distinct string
    forms (NULL included), each mapped to its ``try_cast`` as double in
    Spark — the one place the code order and the numeric sniff are
    decided.

    Codes mirror per-column ``LabelEncoder().fit_transform``
    (clustering.py:103): a column whose every value casts to double sorts
    numerically (equal doubles by their strings), others as strings.
    Numeric columns (P10): numeric-typed columns, then string columns in
    which casting adds no NULLs (pd.to_numeric errors='ignore'
    semantics: all-or-nothing per column), each group in schema order. A
    column with no row (an empty frame) is not numeric."""
    maps, castable = {}, {}
    for c, values in distinct.items():
        nums = {v: values[v] for v in sorted(v for v in values if v is not None)}
        castable[c] = bool(values) and None not in nums.values()
        order = sorted(nums, key=nums.get) if castable[c] else list(nums)
        maps[c] = {v: i for i, v in enumerate(order)}
    fields = [f for f in schema.fields if f.name in distinct]
    numeric = [f.name for f in fields if isinstance(f.dataType, T.NumericType)]
    numeric += [
        f.name
        for f in fields
        if isinstance(f.dataType, T.StringType) and castable[f.name]
    ]
    return maps, numeric


def build_code_maps(
    df: DataFrame, cols: list[str]
) -> tuple[dict[str, dict[str, int]], list[str]]:
    """The column profile of ``cols`` in one pass: sorted-distinct-value
    integer codes per column, and the numeric columns (:func:`_profile`).
    A scheme table that fits reads the same profile off its rows."""
    long = melt(df.select(cols), id_vars=[], value_vars=cols)
    distinct: dict[str, dict] = {c: {} for c in cols}
    for var, value, num in (
        long.select("variable", "value")
        .distinct()
        .withColumn("_num", F.col("value").try_cast("double"))
        .collect()
    ):
        distinct[var][value] = num
    return _profile(df.schema, distinct)


def _priority_sample(
    table: DataFrame, keys: list[str], n_col: str, scaled: tuple[str, ...] = ()
) -> tuple[list[dict], bool]:
    """The ``PATTERN_THRESHOLD`` rows of ``table`` with the largest
    ``n_col / u``, ``u`` in (0, 1] a hash of the row's ``keys``
    (deterministic, independent of partitioning; ties break on the keys):
    a priority sample (Duffield, Lund & Thorup, JACM 2007). With tau the
    next-largest priority, each kept ``n_col`` becomes the
    Horvitz-Thompson weight ``max(n_col, tau)`` and each ``scaled``
    measure grows with it, so weighted sums over the sample
    estimate the full table's. Returns (rows, whether they are a
    sample): a table that fits is returned whole."""
    threshold = PATTERN_THRESHOLD
    h = token_hash64(F.to_json(F.struct(*keys)), 0)
    u = (h + 1).cast("double") / 2.0**60
    rows = (
        table.withColumn("_pri", F.col(n_col) / u)
        .orderBy(F.col("_pri").desc(), *keys)
        .limit(threshold + 1)
        .collect()
    )
    tau = 0.0
    if len(rows) > threshold:
        tau = rows[threshold]["_pri"]
        _LOG.info("table sampled: %d patterns kept, tau %r", threshold, tau)
    out = []
    for r in rows[:threshold]:
        d = r.asDict()
        del d["_pri"]
        if d[n_col] < tau:
            for c in scaled:
                d[c] *= tau / d[n_col]
            d[n_col] = tau
        out.append(d)
    return out, len(rows) > threshold


@dataclass
class SchemeTable:
    """One scheme's data, as :func:`scheme_table` collects it.

    ``rows`` — one dict per full pattern: each of ``cols`` as a string
    (NULL as None), ``_n`` its row count, ``_wt`` its weight sum, ``_mid``
    its least id; in (value, NULL last) order. ``exact`` is False when
    the patterns overflowed ``PATTERN_THRESHOLD`` and ``rows`` is their
    priority sample, whose ``_n`` and ``_wt`` are Horvitz-Thompson
    estimates. ``code_maps`` and ``numeric`` are the exact column
    profile (:func:`_profile`) either way."""

    cols: list[str]
    rows: list[dict]
    exact: bool
    code_maps: dict[str, dict[str, int]]
    numeric: list[str]

    def coded(self, cols: list[str]) -> list[dict]:
        """``rows`` with each of ``cols`` replaced by its label code."""
        maps = self.code_maps
        return [r | {c: maps[c].get(r[c]) for c in cols} for r in self.rows]


def scheme_table(
    df: DataFrame,
    cols: list[str],
    weight_col: str | None = None,
    id_col: str | None = None,
    profile: tuple[dict[str, dict[str, int]], list[str]] | None = None,
) -> SchemeTable:
    """ONE aggregate of ``df`` and one collect: a ``groupBy`` over the
    full pattern of ``cols``, every column cast to string as
    ``plans.melt`` casts it, with ``count``, the sum of the contingency
    cells' ``cell_weight`` and ``min(id_col)``, and each column's value
    try-cast to double as a projection of the aggregate's rows.

    Every distinct value of a column occurs in some full pattern, so a
    table that fits ``PATTERN_THRESHOLD`` (the collect is bounded by
    ``limit``) is also the exact column profile. A table that overflows
    takes a priority sample of its full patterns
    (:func:`_priority_sample`) and reads its profile with
    :func:`build_code_maps`, unless the caller passes the exact
    ``profile`` (code maps, numeric columns) of a table over ``cols``
    and more: then it reads no profile at all."""
    ident = F.col(id_col) if id_col else F.lit(None).cast("long")
    table = (
        df.select(
            *[F.col(c).cast("string").alias(c) for c in cols],
            cell_weight(weight_col).alias("_wt"),
            ident.alias("_id"),
        )
        .groupBy(*cols)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_wt").alias("_wt"),
            F.min("_id").alias("_mid"),
        )
    )
    casts = [
        F.col(c).try_cast("double").alias(f"_num{i}") for i, c in enumerate(cols)
    ]
    rows = table.select("*", *casts).limit(PATTERN_THRESHOLD + 1).collect()
    exact = len(rows) <= PATTERN_THRESHOLD
    if exact:
        distinct: dict[str, dict] = {c: {} for c in cols}
        full = []
        for r in rows:
            d = r.asDict()
            for i, c in enumerate(cols):
                distinct[c][d[c]] = d.pop(f"_num{i}")
            full.append(d)
        maps, numeric = _profile(df.schema, distinct)
    else:
        full, sampled = _priority_sample(table, cols, "_n", scaled=("_wt",))
        exact = not sampled
        if profile is None:
            maps, numeric = build_code_maps(df, cols)
        else:
            maps = {c: profile[0][c] for c in cols}
            numeric = [c for c in profile[1] if c in cols]
    full.sort(key=lambda r: [(r[c] is None, r[c] or "") for c in cols])
    return SchemeTable(list(cols), full, exact, maps, numeric)


def group_patterns(rows: list[dict], keys: list) -> list[dict]:
    """``rows`` grouped by their ``keys`` values, in first-seen order:
    per group the keys, ``_w`` the summed ``_n`` and ``_mid`` the least
    non-NULL ``_mid``."""
    out: dict = {}
    for r in rows:
        key = tuple(r[c] for c in keys)
        g = out.get(key)
        if g is None:
            g = out[key] = dict(zip(keys, key), _w=0, _mid=None)
        g["_w"] += r["_n"]
        mid = r.get("_mid")
        if mid is not None and (g["_mid"] is None or mid < g["_mid"]):
            g["_mid"] = mid
    return list(out.values())


def label_encode(
    df: DataFrame,
    cols: list[str] | None = None,
    code_maps: dict[str, dict[str, int]] | None = None,
    suffix: str = "",
) -> DataFrame:
    """Apply code maps as broadcast literal lookups (no shuffle, M1).

    Encoded columns are int; unmapped/null values encode to null.
    """
    if cols is None:
        cols = [c for c in df.columns]
    if code_maps is None:
        code_maps, _ = build_code_maps(df, cols)
    out = df
    for c in cols:
        entries = []
        for v, i in code_maps[c].items():
            entries += [F.lit(v), F.lit(i)]
        if entries:
            mapping = F.create_map(*entries)
            out = out.withColumn(
                c + suffix, mapping[F.col(c).cast("string")].cast("int")
            )
        else:
            out = out.withColumn(c + suffix, F.lit(None).cast("int"))
    return out
