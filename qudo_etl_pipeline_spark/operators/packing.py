"""Sequence packing: place documents into fixed-length training rows.

Beyond-reference operators: the last step of
every pretraining data pipeline — documents become training sequences of
exactly ``seq_len`` tokens. Two standard layouts:

- :func:`pack_boundary` — GPT-style concat-and-cut: documents are
  concatenated in order and the stream is cut every ``seq_len`` tokens;
  a document may straddle a cut. Pure window arithmetic (one cumulative
  sum per shard), no Python anywhere.
- :func:`pack_greedy` — first-fit greedy: a document never straddles a
  sequence; when it doesn't fit in the open sequence a new one starts
  (documents longer than ``seq_len`` get an overfull sequence of their
  own). The per-shard scan is inherently sequential, so it runs as an
  Arrow-batched ``applyInPandas`` kernel — one pass, one group per
  shard; the DuckDB oracle mirrors it with a recursive CTE.

Both operators shard the corpus first (``shard = id % n_shards``): each
shard packs independently, which is how packing actually parallelizes at
100 TB — a global greedy order would serialize the whole corpus through
one task. n_shards scales with the cluster; determinism is preserved
because the shard function and the in-shard order (ascending id) are
data-derived, not partition-derived.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sharded_tokens(
    docs: DataFrame, id_col: str, text_col: str, n_shards: int
) -> DataFrame:
    # NULL text is dropped up front (its NULL n_tokens would NaN-crash
    # the greedy pandas kernel and silently skew the boundary windows),
    # and so is a NULL id: packing position is defined by ascending id,
    # which an id-less document does not have (r11 NULL-salt parity).
    # pmod, not %, so negative ids still land in [0, n_shards)
    return docs.filter(
        F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("bigint").alias("shard"),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias(
            "n_tokens"
        ),
    )


def pack_boundary(
    docs: DataFrame,
    seq_len: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-cut packing: seq index / offset per document.

    Per shard, documents are laid end-to-end in ascending id order;
    sequence ``i`` is token span [i*seq_len, (i+1)*seq_len). Returns
    (id, shard, n_tokens, seq_idx = sequence holding the document's
    first token, offset_in_seq, spans_boundary = 1 when the document
    crosses a cut).

    One cumulative-sum window per shard — at scale this is a single
    range-partitioned sort per shard key, all JVM-side.
    """
    t = _sharded_tokens(docs, id_col, text_col, n_shards)
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return t.select(
        id_col,
        "shard",
        "n_tokens",
        F.floor(cum / seq_len).cast("bigint").alias("seq_idx"),
        (cum % seq_len).cast("bigint").alias("offset_in_seq"),
        ((cum % seq_len) + F.col("n_tokens") > seq_len)
        .cast("bigint")
        .alias("spans_boundary"),
    )


def pack_greedy(
    docs: DataFrame,
    seq_len: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """First-fit greedy packing: (id, shard, n_tokens, seq_idx, seq_fill).

    ``seq_fill`` is the open sequence's token count after placing the
    document. The scan state is (current seq, current fill); it cannot
    be expressed as a prefix aggregate (the reset is data-dependent), so
    each shard runs one Arrow-batched pandas scan — the canonical
    applyInPandas use: per-group sequential logic over groups that each
    fit one executor. Shard count, not corpus size, bounds the group.
    """
    t = _sharded_tokens(docs, id_col, text_col, n_shards)

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        seq_idx: list[int] = []
        fills: list[int] = []
        cur, fill = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if fill > 0 and fill + n > seq_len:
                cur += 1
                fill = 0
            fill += n
            seq_idx.append(cur)
            fills.append(fill)
        pdf["seq_idx"] = pd.Series(seq_idx, dtype="int64")
        pdf["seq_fill"] = pd.Series(fills, dtype="int64")
        return pdf

    out_schema = (
        f"{id_col} bigint, shard bigint, n_tokens bigint, "
        "seq_idx bigint, seq_fill bigint"
    )
    return t.groupBy("shard").applyInPandas(scan, out_schema)


def packing_efficiency(packed: DataFrame, seq_len: int = 512) -> DataFrame:
    """Corpus-level packing diagnostics from a :func:`pack_greedy` frame:
    per shard, the sequence count and the token-fill ratio (tokens packed
    over capacity used) — the number a data engineer actually watches."""
    per_seq = packed.groupBy("shard", "seq_idx").agg(
        F.sum("n_tokens").alias("_seq_tokens")
    )
    return (
        per_seq.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("_seq_tokens").alias("n_tokens"),
            F.round(
                F.sum("_seq_tokens") / (F.count(F.lit(1)) * seq_len), 6
            ).alias("fill_ratio"),
        )
    )


__all__: Iterable[str] = (
    "pack_boundary",
    "pack_greedy",
    "packing_efficiency",
    "chunk_documents",
    "shuffle_shard",
)


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window token chunking: split each document into chunks of
    ``chunk_tokens`` whitespace tokens, starting every
    ``chunk_tokens - overlap`` tokens (so consecutive chunks share
    ``overlap`` tokens — the standard RAG/long-context preprocessing
    step before embedding or packing).

    Chunking stops at the first chunk that reaches the document's end
    (the splitter convention): every non-final chunk is exactly
    ``chunk_tokens`` long and shares exactly ``overlap`` tokens with its
    successor; the final chunk may be shorter but is never empty and is
    never fully contained in the previous chunk. Consequently
    sum(n_tok) - overlap*(n_chunks-1) == n_tokens per document (pinned
    in tests). Output: (id_col, chunk_idx, n_tok, chunk_text) — a
    narrow map-only plan (split + sequence-explode + slice), no shuffle
    at all: chunking parallelizes per input split at any scale.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    # last start = step * k, k = smallest int with k*step + chunk >= n
    last_k = F.greatest(
        F.lit(0),
        F.floor((F.col("__n") - chunk_tokens + step - 1) / step),
    )
    starts = F.sequence(F.lit(0), (last_k * step).cast("int"), F.lit(step))
    return (
        docs.select(id_col, toks.alias("__toks"), F.size(toks).alias("__n"))
        .filter(F.col("__n") > 0)
        .select(
            id_col,
            "__toks",
            "__n",
            F.explode(starts).alias("__start"),
        )
        .select(
            id_col,
            (F.col("__start") / step).cast("bigint").alias("chunk_idx"),
            F.least(F.lit(chunk_tokens), F.col("__n") - F.col("__start"))
            .cast("bigint")
            .alias("n_tok"),
            F.array_join(
                F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens),
                " ",
            ).alias("chunk_text"),
        )
    )


def shuffle_shard(
    docs: DataFrame,
    n_shards: int = 8,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Seeded deterministic global shuffle + sharding of a corpus.

    Training runs need the corpus in random-but-reproducible order: the
    permutation must be a pure function of (id, seed) so every re-run,
    resume, and engine (the DuckDB oracle) sees the same order, and a
    new epoch is just a new seed. Each document gets a 60-bit seeded
    hash; the shard is ``hash % n_shards`` and ``pos`` is the document's
    rank by (hash, id) within its shard.

    Scale shape: the hash is a narrow map; the only movement is ONE
    hash-partitioned exchange on ``shard`` with a per-shard sort — the
    same shape as any shuffle write. Downstream, :func:`pack_boundary` /
    :func:`pack_greedy` can consume (shard, pos) as their layout order
    instead of ascending id, giving shuffled packed sequences with no
    extra pass.
    """
    from qudo_etl_pipeline_spark.functions.hashing import token_hash64

    key = token_hash64(F.col(id_col).cast("string"), seed)
    t = docs.select(
        F.col(id_col),
        F.pmod(key, F.lit(n_shards)).cast("bigint").alias("shard"),
        key.alias("sort_key"),
    )
    w = Window.partitionBy("shard").orderBy("sort_key", id_col)
    return t.select(
        id_col,
        "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
    )
