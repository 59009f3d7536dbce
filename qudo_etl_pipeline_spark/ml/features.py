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

from pyspark.sql import Column, DataFrame, Row
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
    families (kmodes, LCA) iterate over driver-side. At most
    ``PATTERN_THRESHOLD`` rows reach the driver.

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


def target_encode_oof(
    df: DataFrame,
    id_col: str,
    cat_col: str,
    target_col: str,
    n_folds: int = 5,
    smoothing: int = 20,
    seed: int = 0,
) -> DataFrame:
    """K-fold out-of-fold target (mean) encoding of a categorical
    column — the leakage-safe form of the classic high-cardinality
    encoder: each row's encoding uses ONLY target statistics from the
    OTHER folds, so the feature never memorizes its own row's label,
    plus additive smoothing toward the global mean for rare categories
    (encoding = (sum_other_folds + smoothing * global_mean) /
    (cnt_other_folds + smoothing)).

    Fold assignment is ``hash64(seed || id) % n_folds`` — a pure row
    function: deterministic across engines/reruns, no shuffle. The
    statistics are ONE groupBy(category, fold) over exact integer/
    DECIMAL sums; per-category totals derive from that cell frame
    (never a second scan) and out-of-fold = total - own fold, exact.
    The only IEEE steps are the final two divisions (global mean,
    encoding), each one fixed expression — engine-identical.

    Output: (id, category, fold, target, te6). NULL categories encode
    to the smoothed global mean (their statistics pool is empty).
    """
    from qudo_etl_pipeline_spark.functions.hashing import hash64
    from qudo_etl_pipeline_spark.functions.rounding import ref_round

    t = F.col(target_col).cast("bigint")
    fold = (
        hash64(
            F.concat(F.lit(f"fold:{seed}:"), F.col(id_col).cast("string"))
        )
        % n_folds
    )
    src = df.select(
        F.col(id_col).alias("_id"),
        F.col(cat_col).alias("_c"),
        t.alias("_t"),
        fold.alias("_f"),
    ).filter(F.col("_t").isNotNull())
    from qudo_etl_pipeline_spark.operators.prefix import (
        acquire_operator_cache,
    )

    # cached once ((category, fold)-bounded) so "per-category totals
    # derive from that cell frame (never a second scan)" holds
    # physically: the per-category, global and stats branches would
    # otherwise each re-run the scan + groupBy (measured: 5 scans per
    # execution; 2 remain — the cell build and the encode join-back)
    cells = acquire_operator_cache(
        src.groupBy("_c", "_f").agg(
            F.count(F.lit(1)).alias("_n"), F.sum("_t").alias("_s")
        )
    )
    per_cat = cells.groupBy("_c").agg(
        F.sum("_n").alias("_cn"), F.sum("_s").alias("_cs")
    )
    glob = cells.agg(
        F.sum("_n").alias("_gn"), F.sum("_s").alias("_gs")
    )
    stats = (
        cells.join(per_cat, "_c")
        .crossJoin(F.broadcast(glob))
        .select(
            "_c",
            "_f",
            (F.col("_cn") - F.col("_n")).alias("_on"),
            (F.col("_cs") - F.col("_s")).alias("_os"),
            "_gn",
            "_gs",
        )
    )
    gmean = F.col("_gs").cast("double") / F.col("_gn").cast("double")
    te = (
        F.col("_os").cast("double") + F.lit(float(smoothing)) * gmean
    ) / (F.col("_on").cast("double") + F.lit(float(smoothing)))
    enc = stats.select(
        "_c", "_f", ref_round(te, 6).alias("te6")
    )
    out = src.join(enc, ["_c", "_f"], "left")
    # categories absent from the stats pool (NULL category) take the
    # smoothed-empty encoding = global mean
    fallback = glob.select(
        ref_round(gmean, 6).alias("_te_fallback")
    )
    return (
        out.crossJoin(F.broadcast(fallback))
        .select(
            F.col("_id").alias(id_col),
            F.col("_c").alias(cat_col),
            F.col("_f").alias("fold"),
            F.col("_t").alias(target_col),
            F.coalesce(F.col("te6"), F.col("_te_fallback")).alias("te6"),
        )
    )


def hashed_features(
    df: DataFrame,
    id_col: str,
    cols: list[str],
    n_features: int = 1024,
) -> DataFrame:
    """The hashing trick (Weinberger et al., ICML'09): map arbitrary
    categorical columns onto a FIXED feature space with a signed hash,
    index = hash64(col || value) % n_features and sign from the hash's
    next bit — no vocabulary pass, no fit state, new categories at
    serving time land deterministically. The standard featurizer when
    label encoding's sorted-vocabulary contract can't hold (unbounded
    or drifting domains).

    Map-only (one projection + explode; no shuffle, no driver state).
    Output long form — (id, col_name, feature_index, sign) one row per
    non-NULL input cell — the shape both a sparse-vector assembler and
    the DuckDB oracle consume directly.
    """
    from qudo_etl_pipeline_spark.functions.hashing import hash64

    structs = []
    for c in cols:
        h = hash64(F.concat(F.lit(f"feat:{c}:"), F.col(c).cast("string")))
        structs.append(
            F.when(
                F.col(c).isNotNull(),
                F.struct(
                    F.lit(c).alias("col_name"),
                    (h % n_features).alias("feature_index"),
                    # sign bit = (h // n) % 2, written as the pure-
                    # modulo identity h mod 2n < n: exact BIGINT
                    # arithmetic (h / n would be a DOUBLE division in
                    # Spark — lossy past 2^53 and engine-divergent)
                    F.when(h % (2 * n_features) < n_features, F.lit(1))
                    .otherwise(F.lit(-1))
                    .cast("bigint")
                    .alias("sign"),
                ),
            )
        )
    return (
        df.select(
            F.col(id_col).alias(id_col),
            F.explode(
                F.filter(
                    F.array(*structs), lambda s: s.isNotNull()
                )
            ).alias("_f"),
        )
        .select(id_col, "_f.col_name", "_f.feature_index", "_f.sign")
    )
