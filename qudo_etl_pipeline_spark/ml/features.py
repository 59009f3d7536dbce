"""Feature pipeline: dtype sniffing, label encoding, scaling, PCA.

Re-implements the reference's feature prep (reference:
src/kraken/app/clustering.py:101-109,207-291) Spark-first:

- dynamic typing: ``data.apply(pd.to_numeric, errors='ignore')``
  (clustering.py:101) -> read from the column profile
  (:func:`build_code_maps`): a string column is numeric iff every
  distinct value try-casts to double (SURVEY §1.3).
- whole-table label encode: ``data.apply(LabelEncoder().fit_transform)``
  (clustering.py:103-109) -> sorted-distinct-value codes per column,
  from the same profile. sklearn sorts values (numerics numerically,
  strings lexicographically), so codes are computed per column in
  sorted order — NOT Spark StringIndexer's frequency order.
- StandardScaler (clustering.py:236-257) -> population-std z-score
  (sklearn ddof=0; MLlib StandardScaler would use ddof=1).
- PCA component selection (clustering.py:259-291): smallest n with
  cumulative explained variance >= 0.5.

Scale notes (100 TB design):
- The column profile (code maps + numeric columns) is ONE melt +
  groupBy pass over the table; the per-column dictionaries (answer
  options — tiny) are collected once and re-applied as broadcast
  `F.create_map` literals, so ENCODING ADDS NO SHUFFLE to the
  downstream plan and survives Catalyst pushdown.
- Scaling statistics are a single agg; the transform is pure column
  arithmetic (whole-stage codegen).
- PCA runs on MLlib vectors (distributed covariance/SVD), k<=#features.
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qudo_etl_pipeline_spark.functions.hashing import token_hash64
from qudo_etl_pipeline_spark.plans.melt import melt

_LOG = logging.getLogger(__name__)


def build_code_maps(
    df: DataFrame, cols: list[str]
) -> tuple[dict[str, dict[str, int]], list[str]]:
    """The column profile of ``cols``, in ONE pass: sorted-distinct-value
    integer codes per column, and the numeric columns.

    Codes mirror per-column ``LabelEncoder().fit_transform``
    (clustering.py:103): they follow sorted value order. Columns whose
    every value casts to double sort numerically; others sort as strings.

    Numeric columns (P10): numeric-typed columns, then string columns
    in which casting adds no NULLs (pd.to_numeric errors='ignore'
    semantics: all-or-nothing per column), each group in schema order.
    A string column of an empty frame is not numeric.
    """
    long = melt(df.select(cols), id_vars=[], value_vars=cols)
    dist = (
        long.groupBy("variable", "value")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_num", F.col("value").try_cast("double"))
        .collect()
    )
    by_col: dict[str, list] = {c: [] for c in cols}
    all_numeric: dict[str, bool] = {c: True for c in cols}
    for r in dist:
        by_col[r["variable"]].append((r["value"], r["_num"]))
        if r["value"] is not None and r["_num"] is None:
            all_numeric[r["variable"]] = False
    maps: dict[str, dict[str, int]] = {}
    for c in cols:
        vals = [(v, n) for v, n in by_col[c] if v is not None]
        if all_numeric[c]:
            vals.sort(key=lambda t: t[1])
        else:
            vals.sort(key=lambda t: str(t[0]))
        maps[c] = {v: i for i, (v, _) in enumerate(vals)}
    fields = [f for f in df.schema.fields if f.name in cols]
    numeric = [f.name for f in fields if isinstance(f.dataType, T.NumericType)]
    numeric += [
        f.name
        for f in fields
        if isinstance(f.dataType, T.StringType)
        # a non-empty frame gives every column at least one group
        and by_col[f.name]
        and all_numeric[f.name]
    ]
    return maps, numeric


# the most patterns a fit collects: a larger table is fitted on a
# priority sample of this many patterns — bounds driver memory at any
# input size
PATTERN_THRESHOLD = 200_000


def pattern_table(
    df: DataFrame,
    cols: list[str],
    num_cols: Sequence[str] = (),
    min_col: str | None = None,
) -> list[Row]:
    """The (pattern, count ``_w``[, min ``min_col`` as ``_mid``]) table
    of ``cols + num_cols``: the sufficient statistic the categorical fit
    families (kmodes, LCA) iterate over driver-side, and that the
    post-fit cluster metrics (ml.quality, ml.business) are computed
    from. At most ``PATTERN_THRESHOLD`` rows reach the driver.

    Probe rule: a categorical-only input always probes (its pattern
    space is bounded by the answer-option product); numeric columns make
    patterns ~ rows, so a mixed input probes only when ``df.count()``
    fits under the threshold. The probe is one shuffle; ``limit`` bounds
    what it collects. When it overflows, or is skipped, the table is a
    priority sample (Duffield, Lund & Thorup, JACM 2007) of the threshold
    many patterns with the largest ``_w / u``, ``u`` in (0, 1] a hash of
    the pattern (deterministic, independent of partitioning; ties break
    on the pattern). With tau the next-largest priority, each kept
    ``_w`` becomes the Horvitz-Thompson weight ``max(_w, tau)``, so
    weighted sums over the sample estimate the full table's."""
    threshold = PATTERN_THRESHOLD
    keys = [*cols, *num_cols]
    aggs = [F.count(F.lit(1)).alias("_w")]
    if min_col is not None:
        aggs.append(F.min(min_col).alias("_mid"))
    table = df.groupBy(*keys).agg(*aggs)
    if not num_cols or df.count() <= threshold:
        rows = table.limit(threshold + 1).collect()
        if len(rows) <= threshold:
            return rows
    # u in (0, 1] from the pattern's 60-bit hash
    h = token_hash64(F.to_json(F.struct(*keys)), 0)
    u = (h + 1).cast("double") / 2.0**60
    rows = (
        table.withColumn("_pri", F.col("_w") / u)
        .orderBy(F.col("_pri").desc(), *keys)
        .limit(threshold + 1)
        .collect()
    )
    tau = 0.0
    if len(rows) > threshold:
        tau = rows[threshold]["_pri"]
        _LOG.info(
            "pattern table sampled: %d patterns kept, tau %r", threshold, tau
        )
    out = []
    for r in rows[:threshold]:
        d = r.asDict()
        del d["_pri"]
        d["_w"] = max(float(d["_w"]), tau)
        out.append(Row(**d))
    return out


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


def standardize(
    df: DataFrame, cols: list[str], stats: dict | None = None
) -> tuple[DataFrame, dict]:
    """Population-std z-score (sklearn StandardScaler parity, M2).

    Constant columns pass through centered (std 0 -> divide by 1,
    sklearn's behavior). Returns (transformed df, fitted stats) so a
    train-fit can be replayed on test data (model-consistency checks).
    """
    if stats is None:
        aggs = []
        for c in cols:
            aggs.append(F.avg(F.col(c).cast("double")).alias(f"m_{c}"))
            aggs.append(F.stddev_pop(F.col(c).cast("double")).alias(f"s_{c}"))
        row = df.agg(*aggs).collect()[0]
        stats = {
            c: (row[f"m_{c}"], row[f"s_{c}"] if row[f"s_{c}"] else 1.0)
            for c in cols
        }
    out = df.select(
        *[
            ((F.col(c).cast("double") - F.lit(stats[c][0])) / F.lit(stats[c][1])).alias(c)
            if c in cols
            else F.col(c)
            for c in df.columns
        ]
    )
    return out, stats


def assemble_array(
    df: DataFrame, cols: list[str], out_col: str = "features"
) -> DataFrame:
    """Pack columns into an array<double> features column."""
    return df.withColumn(
        out_col, F.array(*[F.col(c).cast("double") for c in cols])
    )


def find_n_components(
    df: DataFrame,
    features_col: str = "features",
    var_threshold: float = 0.5,
):
    """Fit full-rank PCA; smallest n with cum. explained variance >=
    threshold (clustering.py:259-274). Returns (ideal_n, fitted model)."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    vdf = df.select(
        array_to_vector(F.col(features_col).cast("array<double>")).alias("_v")
    )
    dim = len(vdf.first()["_v"])
    model = PCA(k=dim, inputCol="_v", outputCol="_pca").fit(vdf)
    cum = 0.0
    ideal_n = dim
    for i, ratio in enumerate(model.explainedVariance):
        cum += ratio
        if cum >= var_threshold:
            ideal_n = i + 1
            break
    return ideal_n, model


def pca_transform(
    df: DataFrame,
    features_col: str = "features",
    n_components: int | None = None,
    var_threshold: float = 0.5,
) -> tuple[DataFrame, int]:
    """Project features onto the first n principal components (M3).

    Output column replaces `features_col` with the array<double>
    projection; other columns pass through.
    """
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vdf = df.withColumn(
        "_v", array_to_vector(F.col(features_col).cast("array<double>"))
    )
    if n_components is None:
        # reuse the full-rank model find_n_components already fitted:
        # PCA components are nested (same ordered eigenvectors), so the
        # first n coordinates of the full projection ARE the
        # n-component projection — a second covariance/SVD job over the
        # data would recompute the identical subspace
        n_components, model = find_n_components(
            df, features_col, var_threshold
        )
        projected = F.slice(
            vector_to_array(F.col("_pca")), 1, n_components
        )
    else:
        model = PCA(k=n_components, inputCol="_v", outputCol="_pca").fit(vdf)
        projected = vector_to_array(F.col("_pca"))
    out = (
        model.transform(vdf)
        .withColumn(features_col, projected)
        .drop("_v", "_pca")
    )
    return out, n_components
