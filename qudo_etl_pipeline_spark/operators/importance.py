"""Data-selection by importance resampling (DSIR) for pretraining corpora.

Beyond-reference operator: the DSIR method of
Xie et al., "Data Selection for Language Models via Importance
Resampling" (NeurIPS 2023). A target distribution (the high-quality
domain you want more of) and the raw corpus are both modeled as
bag-of-hashed-n-gram multinomials; every document is scored with its
log importance weight  sum_f log(p_target(f) / p_raw(f))  and selection
keeps the top-weighted documents. The paper samples with Gumbel noise;
this implementation ranks deterministically on the rounded weight so the
result is reproducible and oracle-checkable.

Scale design (100 TB corpus):
- features are word uni+bigrams hashed into ``n_buckets`` (the paper's
  10k-bucket device) — a narrow map, one md5 per gram;
- both multinomials come from ONE groupBy over the exploded feature
  stream (target counts are a conditional sum, not a second scan);
- the per-bucket log-ratio table is ``n_buckets`` rows — broadcast side
  of the feature join at any corpus size;
- per-document weights are one id-keyed aggregation; top-k selection is
  a distributed TakeOrdered, not a global sort.

Cross-engine determinism: per-bucket log-ratios are rounded to 9
decimals before the per-document sum, outputs to 6 (the cos9 device used
throughout the catalog).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.functions.hashing import hash64

# uni+bigram stream over a PRE-SPLIT token array column ``{w}``; the
# 1-word degenerate doc contributes its word twice (concat_ws skips the
# missing neighbor), mirrored exactly in the DuckDB oracle. The token
# array must be projected once into a column first: inlining the split
# into the lambda re-tokenizes the text for every bigram element
# (measured ~5x the whole operator's runtime).
_GRAMS_OF_W = (
    "concat({w}, "
    "transform(sequence(1, greatest(size({w}) - 1, 1)), "
    "i -> concat_ws(' ', try_element_at({w}, i), "
    "try_element_at({w}, i + 1))))"
)


def dsir_weights(
    docs: DataFrame,
    target: Column,
    n_buckets: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document DSIR log importance weight.

    ``target`` is a boolean Column marking the documents that define the
    target distribution (e.g. ``F.col("source") == "src0"``). Both
    multinomials are Laplace-smoothed over the full bucket space:
    p(b) = (c_b + 1) / (T + n_buckets).

    Output: ``doc_id``, ``n_feats`` (gram count), ``dsir_logratio``
    (6-decimal log weight; positive = looks like the target).
    """
    # The feature stream (one md5 per gram) is the expensive map; it is
    # consumed exactly ONCE: the first aggregation collapses it to
    # per-(doc, bucket) counts, and everything downstream — bucket
    # totals, corpus totals, the weight sum — derives from that small
    # table. (A naive counts/totals/join-back shape re-executes the
    # explode+hash three times.)
    feats = (
        docs.select(
            F.col(id_col),
            target.alias("_tgt"),
            F.split(F.lower(F.col(text_col)), " ").alias("_w"),
        )
        .select(
            id_col,
            "_tgt",
            F.explode(F.expr(_GRAMS_OF_W.format(w="_w"))).alias("g"),
        )
        .filter(F.col("g") != "")
        .withColumn("b", hash64("g") % n_buckets)
    )
    db = feats.groupBy(id_col, "_tgt", "b").agg(
        F.count(F.lit(1)).alias("n")
    )
    counts = db.groupBy("b").agg(
        F.sum("n").alias("c_raw"),
        F.sum(F.when(F.col("_tgt"), F.col("n")).otherwise(0)).alias("c_tgt"),
    )
    # corpus totals as a global window over the counts table — bounded
    # at n_buckets rows by construction, so the single-partition window
    # is constant-size at any corpus scale
    tot = Window.partitionBy()
    ratios = counts.select(
        "b",
        F.round(
            F.log(
                ((F.col("c_tgt") + 1.0)
                 / (F.sum("c_tgt").over(tot) + n_buckets))
                / ((F.col("c_raw") + 1.0)
                   / (F.sum("c_raw").over(tot) + n_buckets))
            ),
            9,
        ).alias("lr9"),
    )
    return (
        db.join(F.broadcast(ratios), "b")
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("bigint").alias("n_feats"),
            F.round(F.sum(F.col("lr9") * F.col("n")), 6).alias(
                "dsir_logratio"
            ),
        )
    )


def dsir_select(
    weights: DataFrame, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Top-``k`` documents by DSIR weight, deterministically.

    Rank on (rounded weight DESC, id ASC): ties on the 6-decimal weight
    cannot reorder across engines. The cut itself is
    ``orderBy(...).limit(k)`` — Spark's distributed TakeOrdered (per-
    partition top-k, then a k-row merge), NOT a global sort; the
    row_number window that materializes ``sel_rank`` runs over the
    already-cut k rows only, so no full-table single-partition stage
    exists at any scale.
    """
    order = [F.desc("dsir_logratio"), F.asc(id_col)]
    top = weights.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.select(
        id_col,
        "n_feats",
        "dsir_logratio",
        F.row_number().over(w).cast("bigint").alias("sel_rank"),
    )
