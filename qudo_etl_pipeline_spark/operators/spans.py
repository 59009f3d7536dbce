"""Exact substring-span deduplication (corpus-level duplicated n-grams).

Beyond-reference operator: the ExactSubstr
method of Lee et al., "Deduplicating Training Data Makes Language Models
Better" (ACL 2022) — find every token span that occurs two or more times
ANYWHERE in the corpus (other documents or the same one) and measure, per
document, how much of it is covered by such spans. The published
implementation builds a single-node suffix array; the distributed
re-expression is the standard n-gram inversion: every k-token window
becomes one (doc, position, hash) row, a corpus-wide groupBy counts each
hash, and positions whose window hash occurs >= 2 times are merged into
covered intervals per document.

Scale design (100 TB corpus):
- gram emission is a narrow map (higher-order array expressions over the
  token array — one md5 per window, no Python);
- the groupBy and the gram<->frequency join shuffle (doc_id, pos, hash)
  triples — ~16 bytes/token of shuffle, never document text;
- interval merging is two windows + one aggregate per document, all
  integer arithmetic (gaps-and-islands), so the whole statistic is
  bit-exact and fully DuckDB-oracle-checkable;
- output is one row per document — row-count bound, not token bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.functions.hashing import hash64


def span_grams(
    docs: DataFrame, k: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per k-token window: (id, n_tokens, pos, gh).

    ``pos`` is the 0-based token index of the window start; ``gh`` is the
    cross-engine 60-bit hash of the space-joined window text. Documents
    shorter than ``k`` tokens emit no rows (they cannot contain a
    duplicated k-span). Narrow map — no shuffle.
    """
    toks = docs.select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("t"),
    ).select(
        id_col, "t", F.size("t").alias("n_tokens")
    )
    # sequence(1, n-k+1) is ascending only when n >= k; guard the short
    # docs explicitly (sequence() would otherwise count DOWN and emit
    # phantom windows).
    starts = F.when(
        F.col("n_tokens") >= k,
        F.sequence(F.lit(1), F.col("n_tokens") - k + 1),
    ).otherwise(F.array().cast("array<int>"))
    return toks.select(
        id_col,
        "n_tokens",
        F.posexplode(
            F.transform(
                starts,
                lambda i: hash64(F.concat_ws(" ", F.slice("t", i, k))),
            )
        ).alias("pos", "gh"),
    )


def span_dedup_stats(
    docs: DataFrame, k: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document duplicated-span coverage.

    Output: one row per input document —
      ``n_tokens``     total tokens,
      ``dup_tokens``   tokens covered by at least one k-span that occurs
                       >= 2 times corpus-wide (within-document repeats
                       count, as in Lee et al.),
      ``dup_fraction`` dup_tokens / n_tokens rounded to 6 decimals.

    Overlapping duplicated windows are merged (gaps-and-islands over
    window starts) so no token is counted twice; adjacent islands sum to
    the same coverage as a merged one, so only true overlaps need the
    merge.
    """
    grams = span_grams(docs, k=k, id_col=id_col, text_col=text_col)
    # corpus-wide occurrence count as a window over the gram hash: ONE
    # shuffle of the gram stream and ONE tokenize+md5 pass, where a
    # groupBy + join-back shape would shuffle the stream twice and
    # re-run the gram map for the probe side
    dup = (
        grams.withColumn(
            "_n_occ", F.count(F.lit(1)).over(Window.partitionBy("gh"))
        )
        .filter(F.col("_n_occ") >= 2)
        .select(id_col, "pos")
    )

    by_doc = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        by_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dup.withColumn(
        "_new",
        F.when(prev_end.isNull() | (F.col("pos") >= prev_end), 1).otherwise(0),
    ).withColumn("_isl", F.sum("_new").over(by_doc))
    covered = (
        islands.groupBy(id_col, "_isl")
        .agg((F.max(F.col("pos") + k) - F.min("pos")).alias("_c"))
        .groupBy(id_col)
        .agg(F.sum("_c").alias("dup_tokens"))
    )

    base = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("n_tokens"),
    )
    return base.join(covered, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint").alias(
            "dup_tokens"
        ),
        F.round(
            F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_fraction"),
    )
