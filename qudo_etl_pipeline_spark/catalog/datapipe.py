"""Training-data pipeline operators on documents/embeddings tables.

Dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard, fingerprinting),
similarity search, and text analysis — each oracle-checked in DuckDB via
the shared md5-prefix hash family (functions/hashing.py), which both
engines compute identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.catalog import load_table, load_table_spread, register
from qudo_etl_pipeline_spark.functions.rounding import ref_round_sql
from qudo_etl_pipeline_spark.operators import dedup as D
from qudo_etl_pipeline_spark.operators import similarity as SIM
from qudo_etl_pipeline_spark.operators import text as TX

# DuckDB fragment of the seeded md5-prefix hash (mirror of Spark's
# functions.hashing.hash64 / token_hash64).
def _dh(expr: str, seed: int) -> str:
    return f"(('0x' || substr(md5('{seed}:' || {expr}), 1, 15))::BIGINT)"


def _dh_raw(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def _shingles(col: str = "text", k: int = 3) -> str:
    """DuckDB mirror of dedup._shingles_frag: word k-shingles."""
    w = f"string_split({col}, ' ')"
    parts = ", ".join(f"{w}[i + {j}]" for j in range(k))
    return (
        f"list_transform(generate_series(1, greatest(len({w}) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', {parts}))"
    )


def _mh_base_cte(col: str = "text", k: int = 3) -> str:
    """CTE body: per-doc 31-bit base hashes of the shingles (mirror of
    dedup.minhash_signatures' `_hb` array)."""
    from qudo_etl_pipeline_spark.operators.dedup import MINHASH_RANGE

    return (
        f"SELECT doc_id, list_transform({_shingles(col, k)}, "
        f"t -> ({_dh_raw('t')} % {MINHASH_RANGE})) AS hb FROM documents"
    )


def _mh_sig(seed: int) -> str:
    """Signature component over the `hb` array (mirror of the affine
    universal hash in dedup.minhash_params)."""
    from qudo_etl_pipeline_spark.operators.dedup import MINHASH_MOD, minhash_params

    a, b = minhash_params(seed)
    return f"list_min(list_transform(hb, h -> (({a} * h + {b}) % {MINHASH_MOD})))"


# --- dedup ----------------------------------------------------------------

@register(
    "dedup_exact_groups",
    oracle=f"""
    SELECT {_dh_raw('text')} AS text_hash, COUNT(*) AS n_docs,
           MIN(doc_id) AS keeper_id
    FROM documents GROUP BY 1
    """,
    survey_ids=["P7"],
    description="Exact dedup: group by content hash, keep min doc_id",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain load_table: one 64-bit hash per row is NOT CPU-bound, so the
    # spread repartition (an O(input-bytes) shuffle) only adds cost here
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "minhash_signatures",
    oracle=f"""
    WITH base AS ({_mh_base_cte()})
    SELECT doc_id,
           {_mh_sig(0)} AS mh0,
           {_mh_sig(1)} AS mh1,
           {_mh_sig(2)} AS mh2,
           {_mh_sig(3)} AS mh3
    FROM base
    """,
    survey_ids=["P7"],
    description="MinHash signatures (4-fn affine universal-hash family, narrow map)",
)
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_signatures(load_table_spread(spark, sf_dir, "documents"), n_hashes=4)


@register(
    "minhash_lsh_buckets",
    oracle=f"""
    WITH base AS ({_mh_base_cte()}),
    sig AS (
      SELECT doc_id,
             {_mh_sig(0)} AS mh0,
             {_mh_sig(1)} AS mh1,
             {_mh_sig(2)} AS mh2,
             {_mh_sig(3)} AS mh3
      FROM base
    )
    SELECT doc_id, 0::BIGINT AS band,
           {_dh_raw("mh0::VARCHAR || '_' || mh1::VARCHAR")} AS bucket FROM sig
    UNION ALL
    SELECT doc_id, 1::BIGINT AS band,
           {_dh_raw("mh2::VARCHAR || '_' || mh3::VARCHAR")} AS bucket FROM sig
    """,
    survey_ids=["P7"],
    description="LSH banding of MinHash signatures (2 bands x 2 hashes)",
)
def minhash_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = D.minhash_signatures(load_table_spread(spark, sf_dir, "documents"), n_hashes=4)
    return D.lsh_bands(sigs, n_hashes=4, band_size=2)


@register(
    "ngram_jaccard_chain",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.t, b.t)) * 1.0 /
                 (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))), 6) AS jaccard
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id < 200
    """,
    survey_ids=["P7"],
    description="Token-set Jaccard similarity over adjacent doc pairs",
)
def ngram_jaccard_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_spread(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("t")
    )
    a = toks.filter(F.col("doc_id") < 200).select(
        F.col("doc_id").alias("id_a"), F.col("t").alias("ta")
    )
    b = toks.select((F.col("doc_id") - 1).alias("join_id"),
                    F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    union = F.size(F.col("ta")) + F.size(F.col("tb")) - inter
    return (
        a.join(b, a.id_a == b.join_id)
        .select("id_a", "id_b", F.round(inter * 1.0 / union, 6).alias("jaccard"))
    )


def _simhash_oracle() -> str:
    # PER-ROW form (r11 NULL-salt parity): the old unnest -> GROUP BY
    # doc_id shape silently DROPPED a NULL-text document (unnest of a
    # NULL list emits zero rows) and MERGED all NULL-id documents into
    # one vote group — while the Spark operator is a pure per-row
    # column expression that keeps every row and yields a NULL
    # fingerprint for NULL text. The per-row list arithmetic below is
    # the exact mirror (identical votes on NULL-free data).
    bit = (
        "(CASE WHEN list_sum(list_transform(hs, h -> "
        "CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END)) > 0 "
        "THEN {w} ELSE 0 END)"
    )
    packed = " + ".join(bit.format(i=i, w=1 << i) for i in range(16))
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_transform(list_distinct(string_split(text, ' ')),
                            tok -> {_dh('tok', 0)}) AS hs
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN hs IS NULL THEN NULL
                ELSE CAST({packed} AS BIGINT) END AS simhash
    FROM t
    """


@register(
    "simhash16",
    oracle=_simhash_oracle(),
    survey_ids=["P7"],
    description="16-bit SimHash fingerprint per document (bit-vote aggregate)",
)
def simhash16_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_spread(spark, sf_dir, "documents")
    return docs.select("doc_id", D.simhash16("text").alias("simhash"))


@register(
    "doc_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(t) >= 3 THEN
             list_min(list_transform(range(len(t) - 2), i ->
               {_dh("array_to_string(list_slice(t, i + 1, i + 3), ' ')", 7)}))
           ELSE {_dh('text', 7)} END AS fingerprint
    FROM toks
    """,
    survey_ids=["P7", "P8"],
    description="Rolling 3-gram shingle fingerprint (1-hash MinHash over shingles)",
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.doc_fingerprint(load_table_spread(spark, sf_dir, "documents"))


# --- text analysis --------------------------------------------------------

@register(
    "token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique_tokens,
           ROUND(len(list_distinct(string_split(text, ' '))) * 1.0 /
                 len(string_split(text, ' ')), 6) AS type_token_ratio,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
    survey_ids=["P9"],
    description="Token counting + type-token ratio per document",
)
def token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_stats(load_table_spread(spark, sf_dir, "documents"))


_STOP_EN = "'the','a','of','and','in','to','is'"


@register(
    "text_quality",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_tokens,
             length(text) AS n_chars,
             len(list_filter(string_split(text, ' '),
                             t -> list_contains([{_STOP_EN}], t))) AS stop
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND((n_chars - (n_tokens - 1)) * 1.0 / n_tokens, 6) AS avg_word_len,
           ROUND(stop * 1.0 / n_tokens, 6) AS stopword_ratio,
           ROUND(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
             LEAST(1.0, ROUND(stop * 1.0 / n_tokens, 6) * 2 + 0.5) *
             LEAST(1.0, n_tokens / 50.0) END, 6) AS quality_score
    FROM base
    """,
    survey_ids=["P9", "P6"],
    description="Heuristic quality scoring: word length, stopword density",
)
def text_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_score(load_table_spread(spark, sf_dir, "documents"))


def _langid_score_cols() -> str:
    from qudo_etl_pipeline_spark.operators.text import STOPWORDS

    return ",\n           ".join(
        "len(list_filter(string_split(text, ' '), t -> list_contains(["
        + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        + f"], t))) AS score_{lang}"
        for lang in sorted(STOPWORDS)
    )


def _langid_pred_sql() -> str:
    """The argmax CASE over score_{lang} columns (must be in scope) —
    same strict-> semantics as the Spark side: first sorted lang wins
    ties."""
    from qudo_etl_pipeline_spark.operators.text import STOPWORDS

    langs = sorted(STOPWORDS)
    pred = "CASE"
    for lang in langs:
        prior = [f"score_{o} < score_{lang}" for o in langs[: langs.index(lang)]]
        later = [f"score_{o} <= score_{lang}" for o in langs[langs.index(lang) + 1 :]]
        conds = prior + later + [f"score_{lang} > -1"]
        pred += f" WHEN {' AND '.join(conds)} THEN '{lang}'"
    return pred + " ELSE 'und' END"


def _langid_oracle() -> str:
    from qudo_etl_pipeline_spark.operators.text import STOPWORDS

    langs = sorted(STOPWORDS)
    score_cols = _langid_score_cols()
    pred = _langid_pred_sql()
    return f"""
    WITH scored AS (
      SELECT doc_id, lang,
           {score_cols}
      FROM documents
    )
    SELECT doc_id,
           {', '.join(f'CAST(score_{lang} AS BIGINT) AS score_{lang}' for lang in langs)},
           {pred} AS pred_lang,
           lang AS claimed_lang,
           CAST(CASE WHEN ({pred}) = lang THEN 1 ELSE 0 END AS BIGINT) AS is_match
    FROM scored
    """


@register(
    "langid_heuristic",
    oracle=_langid_oracle(),
    survey_ids=["P9"],
    description="Stopword-vote language identification with deterministic argmax",
)
def langid_heuristic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.langid_heuristic(load_table_spread(spark, sf_dir, "documents"))


@register(
    "bpe_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9 ]+')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           ROUND(length(text) * 1.0 /
                 NULLIF(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9 ]+')), 0), 6)
             AS chars_per_token
    FROM documents
    """,
    survey_ids=["P8"],
    description="BPE-ish regex token counting vs whitespace tokens",
)
def bpe_token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.bpe_token_stats(load_table_spread(spark, sf_dir, "documents"))


@register(
    "corpus_length_quantiles",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(quantile_cont(n_chars, 0.25), 6) AS q25,
           ROUND(quantile_cont(n_chars, 0.5), 6) AS median,
           ROUND(quantile_cont(n_chars, 0.75), 6) AS q75,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang
    """,
    survey_ids=["A8"],
    description="Per-language corpus length quantiles (exact interpolated "
    "percentiles, the standard corpus-curation diagnostic)",
)
def corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.25)"), 6).alias("q25"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("median"),
        F.round(F.expr("percentile(n_chars, 0.75)"), 6).alias("q75"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


def _ivf_learned_oracle(
    k_cells: int = 4, iters: int = 2, nprobe: int = 2, topk: int = 5
) -> str:
    """Mirror of the full train-then-index IVF path: the deterministic
    Lloyd trainer (similarity.ivf_train — rank-order init, round-9
    cosine assignment, DECIMAL-exact per-dim means rounded via
    ref_round) unrolled as CTEs, then the same probed-cell top-k as the
    fixed-centroid oracle."""
    cos = (
        "(FLOOR((list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
        " * 1000000000.0 + 0.5) / 1000000000.0)"
    )
    mean6 = ref_round_sql(
        "CAST(SUM(CAST(u.val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)", 6
    )
    ctes = [
        f"""v AS (
      -- id-less vectors excluded: the rank-order init and the ANN
      -- result rows are keyed by vec_id (r11 NULL-salt parity)
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id IS NOT NULL
    )""",
        f"""cent0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e AS cv
      FROM v ORDER BY vec_id LIMIT {k_cells}
    )""",
    ]
    for t in range(iters):
        ctes.append(f"""asg{t} AS (
      SELECT vec_id, e, cid FROM (
        SELECT v.vec_id, v.e, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {cos.format(a='v.e', b='c.cv')} DESC, c.cid ASC) AS rn
        FROM v CROSS JOIN cent{t} c
      ) WHERE rn = 1
    )""")
        ctes.append(f"""m{t} AS (
      SELECT cid, u.pos, {mean6} AS mv
      FROM asg{t}, LATERAL (SELECT unnest(e) AS val,
                                   generate_subscripts(e, 1) AS pos) u
      GROUP BY cid, u.pos
    )""")
        ctes.append(f"""cent{t + 1} AS (
      SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
      FROM cent{t} p LEFT JOIN
        (SELECT cid, list(mv ORDER BY pos) AS cv FROM m{t} GROUP BY cid) m
        USING (cid)
    )""")
    cent = f"cent{iters}"
    return f"""
    WITH {', '.join(ctes)},
    vcell AS (
      SELECT vec_id, e, cid AS cell FROM (
        SELECT v.vec_id, v.e, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {cos.format(a='v.e', b='c.cv')} DESC, c.cid ASC) AS rn
        FROM v CROSS JOIN {cent} c
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT query_id, qe, cid AS cell FROM (
        SELECT q.vec_id AS query_id, q.e AS qe, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 {cos.format(a='q.e', b='c.cv')} DESC, c.cid ASC) AS rn
        FROM v q CROSS JOIN {cent} c WHERE q.vec_id < 10
      ) WHERE rn <= {nprobe}
    ),
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
             {cos.format(a='qe', b='e')} AS cos9
      FROM qprobe JOIN vcell USING (cell)
      WHERE query_id <> vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           (FLOOR(cos9 * 1000000.0 + 0.5) / 1000000.0) AS cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos9 DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {topk}
    """


@register(
    "ann_ivf_learned",
    oracle=_ivf_learned_oracle(),
    survey_ids=["A10", "W2", "M4"],
    description="IVF ANN with data-learned centroids: the full "
    "train-then-index path (deterministic distributed Lloyd trainer, "
    "DECIMAL-exact centroid means — DuckDB oracle unrolls the same "
    "iterations as CTEs)",
)
def ann_ivf_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    # id-less vectors excluded: the trainer's rank-order init and the
    # neighbor rows are keyed by vec_id (r11 NULL-salt parity)
    vecs = load_table_spread(
        spark, sf_dir, "embeddings", predicate=F.col("vec_id").isNotNull()
    )
    centroids = SIM.ivf_train(vecs, k=4, iters=2)
    queries = vecs.filter(F.col("vec_id") < 10)
    return SIM.ivf_topk(vecs, queries, centroids, nprobe=2, k=5)


# --- multimodal -----------------------------------------------------------

def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table synthesized from documents: the text
    bytes stand in for an opaque payload; kind cycles image/audio/video;
    typed metadata follows operators.multimodal.MEDIA_META."""
    docs = load_table_spread(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("synthetic").alias("format"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


_KIND_SQL = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
)


@register(
    "multimodal_features",
    oracle=f"""
    SELECT doc_id AS media_id,
           {_KIND_SQL} AS kind,
           -- COALESCE 0: the kernel featurizes a NULL payload as the
           -- zero vector with n_bytes = 0 (missing media is routine at
           -- corpus scale), it does not NULL out the row
           CAST(COALESCE(strlen(text), 0) AS BIGINT) AS n_bytes,
           CAST(COALESCE(strlen(text), 0) % 251 AS BIGINT) AS mod_bucket
    FROM documents
    WHERE doc_id IS NOT NULL  -- extract_features drops id-less media
    """,
    survey_ids=["P6"],
    description="Multimodal feature extraction: Arrow mapInPandas kernel "
    "over binary payloads (decode stubbed, plumbing real)",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators import multimodal as MM

    feats = MM.extract_features(_media(spark, sf_dir), decoder="fake")
    # mod_bucket comes OUT of the feature vector, proving the kernel's
    # Arrow round-trip (features[7] = n_bytes % 251 by construction)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.col("features")[7].cast("bigint").alias("mod_bucket"),
    )


@register(
    "multimodal_frame_plan",
    oracle=f"""
    WITH video AS (
      SELECT doc_id AS media_id, n_chars * 10 AS duration_ms
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT media_id,
           CAST(unnest(generate_series(0,
                greatest(CAST(FLOOR(duration_ms / 1000) AS INT) - 1, 0))) AS BIGINT)
             AS frame_idx,
           CAST(unnest(generate_series(0,
                greatest(CAST(FLOOR(duration_ms / 1000) AS INT) - 1, 0))) * 1000 AS BIGINT)
             AS frame_ts_ms
    FROM video
    """,
    survey_ids=["P6", "R2"],
    description="Video frame-sampling plan from metadata only (payload pruned)",
)
def multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators import multimodal as MM

    plan = MM.frame_sample_plan(_media(spark, sf_dir), every_ms=1000)
    return plan.select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("frame_ts_ms").cast("bigint").alias("frame_ts_ms"),
    )


# --- similarity search ----------------------------------------------------

@register(
    "ann_bruteforce_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             (FLOOR((list_dot_product(q.e, n.e) /
                   (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e)))) * 1000000000.0 + 0.5) / 1000000000.0) AS cos9
      FROM v q JOIN v n ON q.vec_id < 10 AND q.vec_id <> n.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           (FLOOR(cos9 * 1000000.0 + 0.5) / 1000000.0) AS cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos9 DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    survey_ids=["A10", "W2"],
    description="Exact cosine top-5 neighbors for the first 10 vectors",
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load_table_spread(spark, sf_dir, "embeddings")
    queries = vecs.filter(F.col("vec_id") < 10)
    return SIM.brute_force_topk(vecs, queries, k=5)


def _ivf_oracle(n_cells: int, dim: int, nprobe: int, k: int) -> str:
    from qudo_etl_pipeline_spark.operators.similarity import demo_centroids

    cents = ", ".join(
        f"({ci}, [{', '.join(str(x) for x in c)}]::DOUBLE[])"
        for ci, c in enumerate(demo_centroids(n_cells, dim))
    )
    cos = (
        "(FLOOR((list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
        " * 1000000000.0 + 0.5) / 1000000000.0)"
    )
    return f"""
    WITH cent AS (SELECT * FROM (VALUES {cents}) AS t(cid, cv)),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    vcell AS (
      SELECT vec_id, e, cid AS cell FROM (
        SELECT v.vec_id, v.e, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {cos.format(a='v.e', b='c.cv')} DESC, c.cid ASC) AS rn
        FROM v CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT query_id, qe, cid AS cell FROM (
        SELECT q.vec_id AS query_id, q.e AS qe, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 {cos.format(a='q.e', b='c.cv')} DESC, c.cid ASC) AS rn
        FROM v q CROSS JOIN cent c WHERE q.vec_id < 10
      ) WHERE rn <= {nprobe}
    ),
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
             {cos.format(a='qe', b='e')} AS cos9
      FROM qprobe JOIN vcell USING (cell)
      WHERE query_id <> vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           (FLOOR(cos9 * 1000000.0 + 0.5) / 1000000.0) AS cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos9 DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "ann_ivf_topk",
    oracle=_ivf_oracle(n_cells=4, dim=64, nprobe=2, k=5),
    survey_ids=["A10", "W2"],
    description="IVF ANN top-5: nearest-cell quantization + nprobe=2 probe join",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.similarity import demo_centroids

    vecs = load_table_spread(spark, sf_dir, "embeddings")
    queries = vecs.filter(F.col("vec_id") < 10)
    return SIM.ivf_topk(
        vecs, queries, demo_centroids(4, 64), nprobe=2, k=5
    )


@register(
    "lsh_candidate_pairs",
    oracle=f"""
    WITH base AS ({_mh_base_cte()}),
    sig AS (
      SELECT doc_id,
             {_mh_sig(0)} AS mh0,
             {_mh_sig(1)} AS mh1,
             {_mh_sig(2)} AS mh2,
             {_mh_sig(3)} AS mh3
      FROM base
    ), bands AS (
      SELECT doc_id, 0::BIGINT AS band,
             {_dh_raw("mh0::VARCHAR || '_' || mh1::VARCHAR")} AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 1::BIGINT AS band,
             {_dh_raw("mh2::VARCHAR || '_' || mh3::VARCHAR")} AS bucket FROM sig
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.doc_id < b.doc_id
    """,
    survey_ids=["P7", "J3"],
    description="MinHash-LSH candidate pairs (bucket self-join on signatures)",
)
def lsh_candidate_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = D.minhash_signatures(load_table_spread(spark, sf_dir, "documents"), n_hashes=4)
    return D.lsh_candidate_pairs(D.lsh_bands(sigs, n_hashes=4, band_size=2))


def _vp_ctes() -> str:
    """Shared CTE chain ending in ``vp(id_a, id_b, jaccard)`` — the
    verified near-dup pair set (signatures -> bands -> candidates ->
    token-Jaccard gate), used by the stage-2 oracle and as the edge set
    of the stage-3 connected-components oracles."""
    return f"""base AS ({_mh_base_cte()}),
    sig AS (
      SELECT doc_id,
             {_mh_sig(0)} AS mh0,
             {_mh_sig(1)} AS mh1,
             {_mh_sig(2)} AS mh2,
             {_mh_sig(3)} AS mh3
      FROM base
    ), bands AS (
      SELECT doc_id, 0::BIGINT AS band,
             {_dh_raw("mh0::VARCHAR || '_' || mh1::VARCHAR")} AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 1::BIGINT AS band,
             {_dh_raw("mh2::VARCHAR || '_' || mh3::VARCHAR")} AS bucket FROM sig
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id
    ), toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
    ), vp AS (
      SELECT id_a, id_b, jaccard FROM (
        SELECT c.id_a, c.id_b,
               ROUND(len(list_intersect(a.t, b.t)) * 1.0 /
                     (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))), 6)
                 AS jaccard
        FROM cand c JOIN toks a ON c.id_a = a.doc_id
                    JOIN toks b ON c.id_b = b.doc_id
      ) WHERE jaccard >= 0.5
    )"""


# Connected components as a recursive CTE: symmetric closure of the
# verified pairs, then every node's group is the minimum id it can reach
# (bare UNION dedups the frontier, so the recursion terminates). The
# Spark implementations (min-label propagation and star contraction)
# both converge to exactly this labeling.
_CC_ORACLE = f"""
    WITH RECURSIVE {_vp_ctes()},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM vp
      UNION
      SELECT id_b AS src, id_a AS dst FROM vp
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS group_id
    FROM reach GROUP BY src
    """


@register(
    "lsh_verified_pairs",
    oracle=f"""
    WITH {_vp_ctes()}
    SELECT id_a, id_b, jaccard FROM vp
    """,
    survey_ids=["P7", "J3"],
    description="Near-dup pipeline stage 2: LSH candidates verified by "
    "true token Jaccard >= 0.5",
)
def lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_spread(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, n_hashes=4)
    cand = D.lsh_candidate_pairs(D.lsh_bands(sigs, n_hashes=4, band_size=2))
    return D.verified_pairs(docs, cand, threshold=0.5)


@register(
    "neardup_groups_cc",
    oracle=_CC_ORACLE,
    survey_ids=["P7"],
    description="Near-dup pipeline stage 3: connected-component dup groups "
    "by min-label propagation (oracle: recursive-CTE reachability over "
    "the verified pair set)",
)
def neardup_groups_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_spread(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, n_hashes=4)
    cand = D.lsh_candidate_pairs(D.lsh_bands(sigs, n_hashes=4, band_size=2))
    verified = D.verified_pairs(docs, cand, threshold=0.5)
    return D.neardup_groups(verified).orderBy("doc_id")


@register(
    "neardup_groups_star",
    oracle=_CC_ORACLE,
    survey_ids=["P7"],
    description="Near-dup groups by alternating large-star/small-star "
    "contraction — O(log n) rounds, diameter-independent (oracle: "
    "recursive-CTE reachability; property-tested equal to label "
    "propagation)",
)
def neardup_groups_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_spread(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, n_hashes=4)
    cand = D.lsh_candidate_pairs(D.lsh_bands(sigs, n_hashes=4, band_size=2))
    verified = D.verified_pairs(docs, cand, threshold=0.5)
    return D.neardup_groups(verified, method="star").orderBy("doc_id")


def _curation_oracle(
    min_tokens: int = 5, min_quality: float = 0.5, thr: float = 0.5
) -> str:
    """Full SQL mirror of operators.curation.curate_corpus: quality and
    language gates, exact dedup (min id per content hash) among
    survivors, near-dup pair-domination drop among exact survivors."""
    from qudo_etl_pipeline_spark.operators.dedup import MINHASH_RANGE

    # The 5 / 0.5 / 50.0 literals below are the quality-score FORMULA's
    # own constants, fixed in text.quality_exprs on the Spark side too —
    # they are deliberately NOT the min_tokens/min_quality gate
    # parameters (those interpolate into the `gated` clause only), so
    # non-default gates stay consistent with curate_corpus (round-3
    # ADVICE clarification).
    quality = (
        "ROUND(CASE WHEN n_tokens < 5 THEN 0.0 ELSE "
        "LEAST(1.0, ROUND(stop * 1.0 / n_tokens, 6) * 2 + 0.5) * "
        "LEAST(1.0, n_tokens / 50.0) END, 6)"
    )
    shingle_hb = (
        f"list_transform({_shingles('text', 3)}, "
        f"t -> ({_dh_raw('t')} % {MINHASH_RANGE}))"
    )
    return f"""
    WITH flags AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                             t -> list_contains([{_STOP_EN}], t))) AS stop,
             {_langid_score_cols()}
      FROM documents
    ), gated AS (
      SELECT doc_id, text,
             CASE WHEN n_tokens < {min_tokens}
                       OR {quality} < {min_quality} THEN 'low_quality'
                  WHEN ({_langid_pred_sql()}) <> 'en' THEN 'language'
             END AS g
      FROM flags
    ), s1 AS (SELECT doc_id, text FROM gated WHERE g IS NULL),
    hashes AS (
      SELECT doc_id, {_dh_raw('text')} AS h FROM s1
    ),
    keepers AS (SELECT h, MIN(doc_id) AS keeper FROM hashes GROUP BY h),
    exact_drop AS (
      SELECT hashes.doc_id FROM hashes JOIN keepers USING (h)
      WHERE doc_id <> keeper
    ),
    s2 AS (
      SELECT * FROM s1
      WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)
    ),
    base AS (SELECT doc_id, {shingle_hb} AS hb FROM s2),
    sig AS (
      SELECT doc_id,
             {_mh_sig(0)} AS mh0,
             {_mh_sig(1)} AS mh1,
             {_mh_sig(2)} AS mh2,
             {_mh_sig(3)} AS mh3
      FROM base
    ), bands AS (
      SELECT doc_id, 0::BIGINT AS band,
             {_dh_raw("mh0::VARCHAR || '_' || mh1::VARCHAR")} AS bucket FROM sig
      UNION ALL
      SELECT doc_id, 1::BIGINT AS band,
             {_dh_raw("mh2::VARCHAR || '_' || mh3::VARCHAR")} AS bucket FROM sig
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id
    ), toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM s2
    ), near_drop AS (
      -- ROUND first: the Spark side filters on the 6-decimal jaccard
      SELECT DISTINCT c.id_b AS doc_id
      FROM cand c JOIN toks a ON c.id_a = a.doc_id
                  JOIN toks b ON c.id_b = b.doc_id
      WHERE ROUND(len(list_intersect(a.t, b.t)) * 1.0 /
            (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))), 6) >= {thr}
    )
    SELECT g.doc_id,
           COALESCE(g.g,
                    CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup' END,
                    CASE WHEN n.doc_id IS NOT NULL THEN 'near_dup' END,
                    'kept') AS drop_reason,
           CAST(CASE WHEN g.g IS NULL AND e.doc_id IS NULL
                          AND n.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS kept
    FROM gated g
    LEFT JOIN exact_drop e ON g.doc_id = e.doc_id
    LEFT JOIN near_drop n ON g.doc_id = n.doc_id
    """


@register(
    "corpus_curation",
    oracle=_curation_oracle(),
    survey_ids=["P6", "P7", "P9"],
    description="End-to-end corpus curation: quality gate -> language "
    "gate -> exact dedup -> LSH near-dup pair-domination drop, one "
    "verdict row per document",
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.curation import curate_corpus

    return curate_corpus(load_table_spread(spark, sf_dir, "documents"))


def _decontamination_oracle(ngram: int = 5) -> str:
    """Mirror of curation.decontaminate: word n-gram hash collision
    between the corpus and the (doc_id % 97 == 0) benchmark slice."""
    sh = _shingles("text", ngram)
    return f"""
    WITH bh AS (
      SELECT DISTINCT {_dh_raw('g')} AS gh FROM (
        SELECT unnest(list_distinct({sh})) AS g
        FROM documents WHERE doc_id % 97 = 0)
    ),
    ch AS (
      SELECT doc_id, {_dh_raw('g')} AS gh FROM (
        SELECT doc_id, unnest(list_distinct({sh})) AS g FROM documents)
    )
    SELECT doc_id, CAST(COUNT(DISTINCT gh) AS BIGINT) AS n_hits,
           MIN(gh) AS sample_gram_hash
    FROM ch JOIN bh USING (gh) GROUP BY doc_id
    """


@register(
    "decontamination",
    oracle=_decontamination_oracle(),
    survey_ids=["P7", "J1"],
    description="Benchmark decontamination: flag training docs sharing "
    "any word 5-gram with the eval slice (hash-join on gram hashes — "
    "the GPT-3-style n-gram collision pass)",
)
def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.curation import decontaminate

    docs = load_table_spread(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench)


@register(
    "decontamination_shuffle",
    oracle=_decontamination_oracle(),
    survey_ids=["P7", "J1"],
    description="Decontamination via the forced shuffle-join fallback "
    "(the over-broadcast-limit path): must hash-match the broadcast "
    "plan's oracle",
)
def decontamination_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.curation import decontaminate

    docs = load_table_spread(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench, bench_strategy="shuffle")


@register(
    "token_budget_sample",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                             t -> list_contains([{_STOP_EN}], t))) AS stop
      FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), scored AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             ROUND(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
               LEAST(1.0, ROUND(stop * 1.0 / n_tokens, 6) * 2 + 0.5) *
               LEAST(1.0, n_tokens / 50.0) END, 6) AS quality_score
      FROM base
    ), ranked AS (
      SELECT *, SUM(n_tokens) OVER (ORDER BY quality_score DESC,
                                    doc_id ASC) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, n_tokens, quality_score,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked WHERE cum_tokens - n_tokens < 20000
    """,
    survey_ids=["W3", "P6"],
    description="Quality-ranked token-budget selection: best docs first "
    "until the 20k-token budget line (greedy knapsack prefix over a "
    "global window sort)",
)
def token_budget_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.curation import (
        token_budget_sample,
    )

    return token_budget_sample(
        load_table_spread(spark, sf_dir, "documents"), budget_tokens=20_000
    )


@register(
    "source_mixture_weights",
    oracle="""
    WITH agg AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source
    ), sh AS (
      SELECT *, n_tokens * 1.0 / SUM(n_tokens) OVER () AS share FROM agg
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(share, 6) AS token_share,
           ROUND(pow(share, 0.3) / SUM(pow(share, 0.3)) OVER (), 6)
             AS mixture_weight
    FROM sh
    """,
    survey_ids=["A9", "A5"],
    description="Temperature-scaled (alpha=0.3) domain-mixture sampling "
    "weights per source from token shares — the multilingual/domain "
    "rebalancing rule",
)
def source_mixture_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.curation import (
        source_mixture_weights,
    )

    return source_mixture_weights(
        load_table_spread(spark, sf_dir, "documents")
    )


@register(
    "embedding_neardup_pairs",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id < 300
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           (FLOOR((FLOOR((list_dot_product(a.e, b.e) /
                 (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) * 1000000000.0 + 0.5) / 1000000000.0) * 1000000.0 + 0.5) / 1000000.0) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE (FLOOR((list_dot_product(a.e, b.e) /
          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) * 1000000000.0 + 0.5) / 1000000000.0) >= 0.35
    """,
    survey_ids=["P7", "J3"],
    description="Embedding-cosine near-duplicate pairs above a threshold",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table_spread(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    v = e.select(
        "vec_id", SIM._as_double(F.col("embedding")).alias("e")
    )
    a = v.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb"))
    from qudo_etl_pipeline_spark.functions.rounding import fp_round

    cos9 = fp_round(SIM.cosine(F.col("ea"), F.col("eb")), 9)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos9.alias("cos9"))
        .filter(F.col("cos9") >= 0.35)
        .select("id_a", "id_b", fp_round(F.col("cos9"), 6).alias("cosine"))
    )


def _ann_lsh_oracle(n_planes: int = 8, seed: int = 42, dim: int = 64) -> str:
    """Mirror of similarity.hyperplane_lsh_buckets with planes inlined."""
    bucket_terms = []
    for p in range(n_planes):
        vals = ", ".join(
            "1.0" if ((seed * 1_000_003 + p * 10_007 + i * 101) % 7) < 3 else "-1.0"
            for i in range(dim)
        )
        bucket_terms.append(
            f"(CASE WHEN list_dot_product(e, [{vals}]) > 0 THEN {1 << p} ELSE 0 END)"
        )
    bucket = " + ".join(bucket_terms)
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), buck AS (
      SELECT vec_id, e, CAST({bucket} AS BIGINT) AS bucket FROM v
    ), scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             (FLOOR((list_dot_product(a.e, b.e) /
                   (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))) * 1000000000.0 + 0.5) / 1000000000.0) AS cos9
      FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           (FLOOR(cos9 * 1000000.0 + 0.5) / 1000000.0) AS cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos9 DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@register(
    "ann_lsh_topk",
    oracle=_ann_lsh_oracle(),
    survey_ids=["A10", "W2", "J3"],
    description="ANN top-5 within hyperplane-LSH buckets (the scale path)",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.lsh_topk(load_table_spread(spark, sf_dir, "embeddings"), k=5, dim=64)


def _ann_lsh_multiprobe_oracle(
    n_planes: int = 8, seed: int = 42, dim: int = 64, nprobe: int = 4, k: int = 5
) -> str:
    """Mirror of similarity.lsh_topk(nprobe>1): per-plane projections,
    signature, margin-ordered single-bit flips, probed bucket join."""
    from qudo_etl_pipeline_spark.operators.similarity import _plane_vectors

    planes = _plane_vectors(n_planes, seed, dim)
    proj_cols = ", ".join(
        f"list_dot_product(e, [{', '.join(str(x) for x in pl)}]) AS p{p}"
        for p, pl in enumerate(planes)
    )
    bucket = " + ".join(
        f"(CASE WHEN p{p} > 0 THEN {1 << p} ELSE 0 END)" for p in range(n_planes)
    )
    # ref_round_sql, not ROUND: mirrors the Spark side's ref_round on the
    # probe-order margins (true-binary-value half-even — engine-identical)
    margins = ", ".join(
        f"{{'m': {ref_round_sql(f'ABS(p{p})', 6)}, 'p': {p}}}"
        for p in range(n_planes)
    )
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), proj AS (
      SELECT vec_id, e, {proj_cols} FROM v
    ), tagged AS (
      SELECT vec_id, e, CAST({bucket} AS BIGINT) AS bucket,
             list_sort([{margins}]) AS ms
      FROM proj
    ), probes AS (
      SELECT vec_id AS query_id, e AS qe,
             unnest(list_distinct(list_prepend(bucket,
               list_transform(ms[1:{nprobe - 1}],
                 s -> xor(bucket, CAST(pow(2, s.p) AS BIGINT)))))) AS bucket
      FROM tagged
    ), scored AS (
      SELECT DISTINCT q.query_id, t.vec_id AS neighbor_id,
             (FLOOR((list_dot_product(q.qe, t.e) /
                   (sqrt(list_dot_product(q.qe, q.qe)) *
                    sqrt(list_dot_product(t.e, t.e)))) * 1000000000.0 + 0.5) / 1000000000.0) AS cos9
      FROM probes q JOIN tagged t USING (bucket)
      WHERE q.query_id <> t.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           (FLOOR(cos9 * 1000000.0 + 0.5) / 1000000.0) AS cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos9 DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "ann_lsh_multiprobe",
    oracle=_ann_lsh_multiprobe_oracle(),
    survey_ids=["A10", "W2", "J3"],
    description="Multi-probe LSH ANN top-5: each query also searches the "
    "buckets of its 3 least-confident flipped signature bits — the recall "
    "recovery path for near-boundary neighbors",
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.lsh_topk(
        load_table_spread(spark, sf_dir, "embeddings"), k=5, dim=64, nprobe=4
    )


@register(
    "embedding_centroid_norm",
    oracle="""
    WITH expanded AS (
      SELECT label, u.pos, CAST(u.val AS DECIMAL(28,12)) AS val
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS val,
                           generate_subscripts(embedding, 1) - 1 AS pos) u
    ), dims AS (
      SELECT label, pos, CAST(SUM(val) AS DOUBLE) / COUNT(*) AS mean_val
      FROM expanded GROUP BY label, pos
    )
    SELECT CAST(label AS BIGINT) AS label,
           ROUND(sqrt(SUM(mean_val * mean_val)), 6) AS centroid_norm
    FROM dims GROUP BY label
    """,
    survey_ids=["A8", "M3"],
    description="Per-label embedding centroid norm (exact decimal dim-sums)",
)
def embedding_centroid_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table_spread(spark, sf_dir, "embeddings")
    dims = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
             / F.count(F.lit(1))).alias("mean_val")
        )
    )
    return dims.groupBy(F.col("label").cast("bigint").alias("label")).agg(
        F.round(F.sqrt(F.sum(F.col("mean_val") * F.col("mean_val"))), 6).alias(
            "centroid_norm"
        )
    )


# --- corpus hygiene & packing (beyond-reference) -------------------------

# DuckDB mirror of text._2GRAMS (word bigrams; 1-word doc degenerates to
# its single word via NULL-skipping concat_ws on both engines)
_D_2GRAMS = (
    "list_transform(generate_series(1, greatest(len({w}) - 1, 1)), "
    "i -> concat_ws(' ', {w}[i], {w}[i + 1]))"
)


def _repetition_oracle() -> str:
    """Mirror of text.repetition_stats: run-length counting over the
    sorted bigram array (same sentinel/run-start construction)."""
    w = "string_split(text, ' ')"
    g = _D_2GRAMS.format(w=w)
    return f"""
    WITH base AS (
      SELECT doc_id, len({w}) AS n_tok,
             len(list_distinct({w})) AS n_uniq, {g} AS g
      FROM documents
    ), srt AS (
      SELECT doc_id, n_tok, n_uniq, len(g) AS n2, list_sort(g) AS s
      FROM base
    ), st AS (
      SELECT *, list_filter(generate_series(1, n2),
               i -> i = 1 OR s[i] != s[i - 1]) AS starts
      FROM srt
    ), runs AS (
      SELECT doc_id, n_tok, n_uniq, n2,
             list_transform(generate_series(1, len(starts)),
               j -> COALESCE(starts[j + 1], n2 + 1) - starts[j]) AS runs
      FROM st
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
           ROUND((n_tok - n_uniq) * 1.0 / n_tok, 6) AS dup_word_frac,
           ROUND(list_max(runs) * 1.0 / n2, 6) AS top_2gram_frac,
           ROUND(list_sum(list_transform(runs,
                 c -> CASE WHEN c > 1 THEN c ELSE 0 END)) * 1.0 / n2, 6)
             AS dup_2gram_frac
    FROM runs
    """


@register(
    "repetition_stats",
    oracle=_repetition_oracle(),
    survey_ids=["P9", "A8"],
    description="Gopher-style repetition filters: duplicate-word fraction, "
    "most-common-bigram fraction, duplicated-bigram fraction (map-only "
    "higher-order array expressions)",
)
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.repetition_stats(load_table_spread(spark, sf_dir, "documents"))


def _pii_planted() -> tuple[str, str]:
    """(spark_expr, duck_expr) for the deterministically planted PII text:
    every 7th doc gains an email, every 11th a dashed phone number."""
    spark = (
        "concat(text,"
        " case when doc_id % 7 = 0 then"
        " concat(' reach user', cast(doc_id as string), '@example.com')"
        " else '' end,"
        " case when doc_id % 11 = 0 then ' call 555-123-4567' else '' end)"
    )
    duck = (
        "text ||"
        " CASE WHEN doc_id % 7 = 0 THEN"
        " ' reach user' || doc_id || '@example.com' ELSE '' END ||"
        " CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567' ELSE '' END"
    )
    return spark, duck


def _pii_oracle() -> str:
    _, duck_text = _pii_planted()
    email_red = f"regexp_replace(t, '{TX.EMAIL_PATTERN}', '[EMAIL]', 'g')"
    redacted = (
        f"regexp_replace({email_red}, '{TX.PHONE_PATTERN}', '[PHONE]', 'g')"
    )
    return f"""
    WITH planted AS (SELECT doc_id, {duck_text} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{TX.EMAIL_PATTERN}')) AS BIGINT)
             AS n_emails,
           -- phones counted on the email-redacted text (the Spark
           -- side's sequential-redaction contract)
           CAST(len(regexp_extract_all({email_red},
                '{TX.PHONE_PATTERN}')) AS BIGINT) AS n_phones,
           {_dh(redacted, 13)} AS redacted_hash
    FROM planted
    """


@register(
    "pii_scrub_planted",
    oracle=_pii_oracle(),
    survey_ids=["P8", "P9"],
    description="PII scrub on planted emails/phones: per-doc match counts "
    "and the 64-bit hash of the redacted text (map-only regex pass)",
)
def pii_scrub_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark_text, _ = _pii_planted()
    docs = load_table_spread(spark, sf_dir, "documents").select(
        "doc_id", F.expr(spark_text).alias("text")
    )
    return TX.pii_redact(docs)


def _line_dedup_oracle(line_tokens: int = 10) -> str:
    w = "string_split(text, ' ')"
    segs = (
        f"list_transform(generate_series(0, (len({w}) - 1) // {line_tokens}), "
        f"i -> concat_ws(' ', list_slice({w}, i * {line_tokens} + 1, "
        f"i * {line_tokens} + {line_tokens})))"
    )
    return f"""
    WITH segs AS (
      SELECT doc_id, unnest(list_transform({segs},
             s -> {{'line': s}})) AS u,
             unnest(generate_series(1, len({segs}))) AS i
      FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), lines AS (
      SELECT doc_id, i - 1 AS pos, {_dh_raw("(u).line")} AS lh FROM segs
    ), marked AS (
      SELECT doc_id, CASE WHEN ROW_NUMBER() OVER (
               PARTITION BY lh ORDER BY doc_id, pos) > 1
             THEN 1 ELSE 0 END AS dup
      FROM lines
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(dup) AS BIGINT) AS n_dup_lines,
           ROUND((COUNT(*) - SUM(dup)) * 1.0 / COUNT(*), 6)
             AS kept_line_frac
    FROM marked GROUP BY doc_id
    """


@register(
    "line_dedup_stats",
    oracle=_line_dedup_oracle(),
    survey_ids=["P7", "A4"],
    description="C4-style cross-corpus line dedup verdicts per document "
    "(first occurrence keeps the line; only hashes shuffle)",
)
def line_dedup_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.curation import line_dedup_stats

    return line_dedup_stats(load_table_spread(spark, sf_dir, "documents"))


_PACK_T_CTE = """
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY doc_id % 8
                                ORDER BY doc_id) AS rn
      FROM documents
      WHERE text IS NOT NULL AND doc_id IS NOT NULL
"""


@register(
    "pack_boundary_seqs",
    oracle=f"""
    WITH t AS ({_PACK_T_CTE}),
    c AS (
      SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS cum
      FROM t
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
           CAST(cum // 512 AS BIGINT) AS seq_idx,
           CAST(cum % 512 AS BIGINT) AS offset_in_seq,
           CAST(CASE WHEN cum % 512 + n_tokens > 512 THEN 1 ELSE 0 END
                AS BIGINT) AS spans_boundary
    FROM c
    """,
    survey_ids=["W1", "A5"],
    description="GPT-style concat-and-cut sequence packing: per-shard "
    "cumulative token windows assign each document its training-sequence "
    "index and offset",
)
def pack_boundary_seqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.packing import pack_boundary

    return pack_boundary(load_table_spread(spark, sf_dir, "documents"))


_PACK_GREEDY_CTE = f"""
    WITH RECURSIVE t AS ({_PACK_T_CTE}),
    s AS (
      SELECT doc_id, shard, n_tokens, rn,
             CAST(0 AS BIGINT) AS seq_idx, n_tokens AS seq_fill
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.shard, t.n_tokens, t.rn,
             CASE WHEN s.seq_fill + t.n_tokens > 512
                  THEN s.seq_idx + 1 ELSE s.seq_idx END,
             CASE WHEN s.seq_fill + t.n_tokens > 512
                  THEN t.n_tokens ELSE s.seq_fill + t.n_tokens END
      FROM s JOIN t ON t.shard = s.shard AND t.rn = s.rn + 1
    )
"""


@register(
    "pack_greedy_seqs",
    oracle=_PACK_GREEDY_CTE
    + """
    SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
           seq_idx, seq_fill
    FROM s
    """,
    survey_ids=["W1"],
    description="First-fit greedy sequence packing (no document straddles "
    "a sequence): per-shard Arrow-batched sequential scan, mirrored by a "
    "recursive-CTE oracle",
)
def pack_greedy_seqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.packing import pack_greedy

    return pack_greedy(load_table_spread(spark, sf_dir, "documents"))


@register(
    "packing_efficiency",
    oracle=_PACK_GREEDY_CTE
    + """
    , per_seq AS (
      SELECT shard, seq_idx, SUM(n_tokens) AS st
      FROM s GROUP BY shard, seq_idx
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(SUM(st) AS BIGINT) AS n_tokens,
           ROUND(SUM(st) / (COUNT(*) * 512.0), 6) AS fill_ratio
    FROM per_seq GROUP BY shard
    """,
    survey_ids=["A4", "A9"],
    description="Packing diagnostics per shard: sequence count and "
    "token-fill ratio of the greedy layout",
)
def packing_efficiency_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.packing import (
        pack_greedy,
        packing_efficiency,
    )

    return packing_efficiency(
        pack_greedy(load_table_spread(spark, sf_dir, "documents"))
    )


@register(
    "stratified_sample_docs",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE ({_dh("CAST(doc_id AS VARCHAR)", 29)} % 10000) <
          CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000
                    WHEN 'es' THEN 2000 ELSE 500 END
    """,
    survey_ids=["R5", "P6"],
    description="Deterministic hash-based stratified sampling per language "
    "(map-only filter; same ids survive under any partitioning)",
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.curation import stratified_sample

    docs = load_table_spread(spark, sf_dir, "documents")
    return stratified_sample(
        docs, rates={"en": 0.5, "de": 0.2, "es": 0.2}, default_rate=0.05
    ).select("doc_id", "lang")


@register(
    "corpus_top_ngrams",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, unnest({_shingles('text', 3)}) AS ngram
      FROM documents
    )
    SELECT ngram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM grams GROUP BY ngram
    ORDER BY n_occurrences DESC, ngram ASC LIMIT 20
    """,
    survey_ids=["A4", "A7", "W3"],
    description="Corpus-level top-20 word trigrams with document "
    "frequencies (one shuffle on the n-gram key)",
)
def corpus_top_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.corpus_top_ngrams(load_table_spread(spark, sf_dir, "documents"))


@register(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.term
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS term) t
      WHERE t.term <> ''
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT doc_id, term, tf,
             tf * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS s
      FROM tf JOIN dfq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           ROUND(s, 6) AS score6, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY s DESC, term ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
    survey_ids=["A4", "W2", "J5"],
    description="Per-document top-3 TF-IDF terms (smooth idf): one "
    "explode, one (doc, term) aggregation, |vocab|-row df broadcast back",
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.tfidf_top_terms(load_table_spread(spark, sf_dir, "documents"))


@register(
    "embedding_quantize",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), m AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) AS mx
      FROM v
    ), s AS (
      SELECT vec_id, mx,
             list_transform(e, x ->
               CASE WHEN mx = 0.0 THEN 0.0 ELSE x * 127.0 / mx END) AS sc
      FROM m
    )
    SELECT vec_id,
           {ref_round_sql('mx / 127.0', 6)} AS scale6,
           to_json(
             list_transform(sc, x -> CAST({ref_round_sql('x', 0)} AS BIGINT))
           )::VARCHAR AS q_json
    FROM s
    """,
    survey_ids=["P10", "M2"],
    description="Symmetric per-vector int8 embedding quantization "
    "(map-only; ref_round parity so both engines emit identical codes; "
    "codes serialized to canonical JSON — the driver's pandas hasher "
    "cannot hash list cells, so no catalog output may be complex-typed)",
)
def embedding_quantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = SIM.embedding_quantize(load_table_spread(spark, sf_dir, "embeddings"))
    # to_json on BOTH engines: Spark to_json(array<bigint>) and DuckDB
    # to_json(BIGINT[])::VARCHAR emit the identical "[1,-5,...]" bytes
    # INCLUDING "null" for a NULL element — the previous
    # array_to_string oracle silently skipped NULLs, so a NULL
    # embedding component would have surfaced as a confusing hash
    # mismatch instead of two identical (and visibly null) codes
    return out.select("vec_id", "scale6", F.to_json("q").alias("q_json"))


def _semantic_dedup_oracle(
    n_cells: int = 4,
    dim: int = 64,
    threshold: float = 0.35,
    spread: bool = False,
    id_cap: int | None = None,
) -> str:
    """Mirror of similarity.semantic_dedup over demo_centroids (or
    spread_centroids when ``spread``): nearest cell by round-9 cosine
    (ties -> low cid), within-cell pairs above the threshold,
    keep-lowest-id verdicts. ``id_cap`` mirrors the Spark side's
    exhibit-scale input cap (``vec_id < id_cap``)."""
    from qudo_etl_pipeline_spark.operators.similarity import (
        demo_centroids,
        spread_centroids,
    )

    gen = spread_centroids if spread else demo_centroids
    cents = ", ".join(
        f"({ci}, [{', '.join(str(x) for x in c)}]::DOUBLE[])"
        for ci, c in enumerate(gen(n_cells, dim))
    )
    cos = (
        "(FLOOR((list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
        " * 1000000000.0 + 0.5) / 1000000000.0)"
    )
    # vec_id IS NOT NULL mirrors semantic_dedup's id-less-vector
    # exclusion (and the exhibit cap composes with it)
    cap_sql = " WHERE vec_id IS NOT NULL" + (
        f" AND vec_id < {id_cap}" if id_cap is not None else ""
    )
    return f"""
    WITH cent AS (SELECT * FROM (VALUES {cents}) AS t(cid, cv)),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings{cap_sql}
    ),
    vcell AS (
      SELECT vec_id, e, CAST(cid AS BIGINT) AS cell FROM (
        SELECT v.vec_id, v.e, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {cos.format(a='v.e', b='c.cv')} DESC, c.cid ASC) AS rn
        FROM v CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    dup AS (
      SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS dup_of
      FROM vcell a JOIN vcell b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos.format(a='a.e', b='b.e')} >= {threshold}
      GROUP BY b.vec_id
    )
    SELECT v.vec_id, v.cell, d.dup_of,
           CAST(d.dup_of IS NULL AS INT) AS keep
    FROM vcell v LEFT JOIN dup d USING (vec_id)
    """


# The 4-cell exhibit's input cap: within-cell pairs grow as (n/k)^2,
# so at a FIXED k=4 this query is quadratic in the corpus by
# construction (SCALING.md r10 study: sf1 16 s -> sf3 147 s, 9.2x for
# 3x rows) — kept deliberately as the measured documentation of the
# SemDeDup k-must-grow-with-n rule, but pinned to its exhibit scale so
# off-scale sweeps pay a constant instead of minutes. 2000 = the sf0.1
# embeddings row count: sf0.01 (500 ids) and sf0.1 (2000 ids) outputs
# are bit-identical to the uncapped query (vec_id is dense 0..n-1), so
# committed oracle hashes and the bench series are unchanged; above
# sf0.1 the exhibit stops growing. semantic_dedup_scaled (64 spread
# cells, uncapped) is the configuration that scales.
SEMANTIC_DEDUP_EXHIBIT_CAP = 2000


@register(
    "semantic_dedup_verdicts",
    oracle=_semantic_dedup_oracle(id_cap=SEMANTIC_DEDUP_EXHIBIT_CAP),
    survey_ids=["P7", "J3", "M4"],
    description="SemDeDup-style semantic dedup: nearest-centroid cells, "
    "within-cell cosine pairs, keep-lowest-id verdict per vector "
    "(4-cell quadratic-pitfall exhibit, input-capped at vec_id<2000 — "
    "see semantic_dedup_scaled for the configuration that scales)",
)
def semantic_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.similarity import demo_centroids

    vecs = load_table_spread(
        spark,
        sf_dir,
        "embeddings",
        predicate=F.col("vec_id") < SEMANTIC_DEDUP_EXHIBIT_CAP,
    )
    return SIM.semantic_dedup(vecs, demo_centroids(4, 64), threshold=0.35)


@register(
    "semantic_dedup_scaled",
    oracle=_semantic_dedup_oracle(n_cells=64, spread=True),
    survey_ids=["P7", "J3", "M4"],
    description="SemDeDup at the production cell count (64 distinct "
    "cells): same cluster-then-compare semantics as "
    "semantic_dedup_verdicts, but with cells sized so the quadratic "
    "within-cell pair stage stays bounded — the "
    "n_cells-proportional-to-corpus rule SemDeDup itself prescribes "
    "(the 4-cell entry measured 26x wall for 10x rows at sf1)",
)
def semantic_dedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with MORE cells than the 4-cell exhibit, but still a
    FIXED 64 at every SF — fine at the gate scale, super-linear beyond
    it (r12 solo min-of-5: 2.34 s at sf1 -> 9.90 s at sf3, 4.2x for 3x
    rows — per-cell population grows with n, so the within-cell pair
    stage grows as (n/64)^2 by construction). Kept as the measured
    mid-point of the k-must-grow-with-n rule; the configuration that
    actually scales is :func:`semantic_dedup_autok` below. Uses
    spread_centroids — demo_centroids aliases every cell index mod 7,
    so requesting 64 of them still yields only 7 effective cells
    (measured: 20k sf1 vectors landed on exactly 7)."""
    from qudo_etl_pipeline_spark.operators.similarity import spread_centroids

    vecs = load_table_spread(spark, sf_dir, "embeddings")
    return SIM.semantic_dedup(vecs, spread_centroids(64, 64), threshold=0.35)


def _semantic_dedup_autok_oracle(
    dim: int = 64,
    threshold: float = 0.35,
    per_cell: int = 250,
) -> str:
    """Mirror of :func:`semantic_dedup_autok`: the cell count is a
    FUNCTION OF THE DATA (k = clamp(ceil(n/per_cell), 64, 997)), so
    the oracle derives both k and the spread_centroids vectors in SQL
    (the generator's closed form — verified bit-identical to the
    Python list for every cid) instead of inlining literals."""
    cos = (
        "(FLOOR((list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
        " * 1000000000.0 + 0.5) / 1000000000.0)"
    )
    return f"""
    WITH nk AS (
      SELECT LEAST(997, GREATEST(64,
               CAST(CEIL(COUNT(*) / {per_cell}.0) AS BIGINT))) AS k
      FROM embeddings WHERE vec_id IS NOT NULL
    ),
    cent AS (
      SELECT cid, list_transform(generate_series(0, {dim - 1}),
               i -> (((cid * 131 + i * 173) % 997) - 498) / 500.0) AS cv
      FROM (SELECT UNNEST(generate_series(0,
              (SELECT k FROM nk) - 1)) AS cid)
    ),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id IS NOT NULL
    ),
    vcell AS (
      SELECT vec_id, e, CAST(cid AS BIGINT) AS cell FROM (
        SELECT v.vec_id, v.e, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {cos.format(a='v.e', b='c.cv')} DESC, c.cid ASC) AS rn
        FROM v CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    dup AS (
      SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS dup_of
      FROM vcell a JOIN vcell b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos.format(a='a.e', b='b.e')} >= {threshold}
      GROUP BY b.vec_id
    )
    SELECT v.vec_id, v.cell, d.dup_of,
           CAST(d.dup_of IS NULL AS INT) AS keep
    FROM vcell v LEFT JOIN dup d USING (vec_id)
    """


@register(
    "semantic_dedup_autok",
    oracle=_semantic_dedup_autok_oracle(),
    survey_ids=["P7", "J3", "M4"],
    description="SemDeDup with the cell count PROPORTIONAL to the "
    "corpus (k = clamp(ceil(n/250), 64, 997)) — the paper's own "
    "scaling rule as a runnable, oracle-checked configuration: "
    "per-cell population stays ~constant, so the within-cell pair "
    "stage is LINEAR in n (the fixed-k siblings document the "
    "quadratic failure mode this rule prevents)",
)
def semantic_dedup_autok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The configuration that holds at 100 TB: one cheap count job
    sizes the cell grid to the corpus (~250 vectors per cell), so the
    within-cell quadratic term is (per_cell)^2 * k = O(n) instead of
    (n/k)^2 * k = O(n^2/k). The count and the clamp are mirrored in
    the oracle, and the centroid generator's closed form is computed
    IN SQL — the same derivation on both engines, no literal tables.
    spread_centroids keeps all k <= 997 cells pairwise distinct
    (similarity.py:223); the 997 clamp matches its documented domain.
    """
    import math

    from qudo_etl_pipeline_spark.operators.similarity import spread_centroids

    vecs = load_table_spread(spark, sf_dir, "embeddings")
    n = vecs.where(F.col("vec_id").isNotNull()).count()
    k = min(997, max(64, math.ceil(n / 250)))
    return SIM.semantic_dedup(vecs, spread_centroids(k, 64), threshold=0.35)


def _quantized_topk_oracle(rerank: int = 20, k: int = 5) -> str:
    """Mirror of similarity.quantized_topk: int8 codes from the
    embedding_quantize oracle, coarse top-``rerank`` on code cosine,
    exact float rescore, top-``k``."""
    cos = (
        "(FLOOR((list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
        " * 1000000000.0 + 0.5) / 1000000000.0)"
    )
    q_frag = ref_round_sql("x", 0)
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), m AS (
      SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx
      FROM v
    ), codes AS (
      SELECT vec_id,
             list_transform(
               list_transform(e, x ->
                 CASE WHEN mx = 0.0 THEN 0.0 ELSE x * 127.0 / mx END),
               x -> CAST(CAST({q_frag} AS BIGINT) AS DOUBLE)) AS cv
      FROM m
    ), coarse AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.e AS qe,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
               {cos.format(a='q.e', b='c.cv')} DESC, c.vec_id ASC) AS arank
      FROM v q CROSS JOIN codes c
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ), scored AS (
      SELECT query_id, neighbor_id, {cos.format(a='qe', b='n.e')} AS cos9
      FROM coarse JOIN v n ON coarse.neighbor_id = n.vec_id
      WHERE arank <= {rerank}
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           (FLOOR(cos9 * 1000000.0 + 0.5) / 1000000.0) AS cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos9 DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "ann_quantized_topk",
    oracle=_quantized_topk_oracle(),
    survey_ids=["A10", "W2", "P10"],
    description="Two-stage ANN: flat scan over int8 quantized codes "
    "(top-20 coarse) + exact float rerank to top-5",
)
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load_table_spread(spark, sf_dir, "embeddings")
    queries = vecs.filter(F.col("vec_id") < 10)
    return SIM.quantized_topk(vecs, queries, k=5, rerank=20)


@register(
    "unigram_logprob_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM documents,
           LATERAL (SELECT unnest(string_split(lower(text), ' ')) AS tok) t
      WHERE t.tok <> ''
    ), counts AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), totals AS (
      SELECT SUM(c) AS t, COUNT(*) AS v FROM counts
    ), lp AS (
      SELECT tok, ROUND(ln((c + 1.0) / (t + v)), 9) AS lp9
      FROM counts, totals
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(lp9), 6) AS mean_logprob,
           ROUND(exp(-AVG(lp9)), 6) AS ppl
    FROM toks JOIN lp USING (tok)
    GROUP BY doc_id
    """,
    survey_ids=["A4", "A8", "J1"],
    description="CCNet-style corpus-LM quality score: Laplace-smoothed "
    "unigram mean log-probability and perplexity proxy per document",
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.unigram_logprob(load_table_spread(spark, sf_dir, "documents"))


@register(
    "shuffle_shard_order",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             {{h}} % 8 AS shard,
             {{h}} AS sort_key
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                   ORDER BY sort_key, doc_id) - 1 AS BIGINT)
             AS pos
    FROM keyed
    """.format(h="(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)"),
    survey_ids=["R5", "W1"],
    description="Seeded deterministic corpus shuffle: 60-bit hash order "
    "within hash-assigned shards (reproducible training data order)",
)
def shuffle_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.packing import shuffle_shard

    return shuffle_shard(load_table_spread(spark, sf_dir, "documents"))


@register(
    "chunk_documents_overlap",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks, len(toks) AS n
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks, n,
             UNNEST(range(0, GREATEST(0, (n - 64 + 47) // 48) * 48 + 1,
                          48)) AS start
      FROM t WHERE n > 0
    )
    SELECT doc_id,
           CAST(start / 48 AS BIGINT) AS chunk_idx,
           CAST(LEAST(64, n - start) AS BIGINT) AS n_tok,
           (('0x' || substr(md5(
              array_to_string(toks[start + 1 : start + 64], ' ')
            ), 1, 15))::BIGINT) AS chunk_hash
    FROM s
    """,
    survey_ids=["R2", "P9"],
    description="Sliding-window token chunking (64 tokens, 16 overlap): "
    "map-only explode+slice, chunk content verified by cross-engine "
    "60-bit hash",
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.functions.hashing import hash64
    from qudo_etl_pipeline_spark.operators.packing import chunk_documents

    chunks = chunk_documents(
        load_table_spread(spark, sf_dir, "documents"),
        chunk_tokens=64,
        overlap=16,
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "n_tok",
        hash64(F.col("chunk_text")).alias("chunk_hash"),
    )


def _kl_oracle() -> str:
    term = ("ROUND((c_st * 1.0 / t_s) "
            "* ln((c_st * 1.0 / t_s) / (c_t * 1.0 / t)), 9)")
    return f"""
    WITH toks AS (
      SELECT source AS src, UNNEST(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    toks2 AS (SELECT src, tok FROM toks WHERE tok <> ''),
    sc AS (SELECT src, tok, COUNT(*) AS c_st FROM toks2 GROUP BY 1, 2),
    corpus AS (SELECT tok, SUM(c_st) AS c_t FROM sc GROUP BY 1),
    st AS (SELECT src, SUM(c_st) AS t_s FROM sc GROUP BY 1),
    pool AS (SELECT SUM(c_t) AS t FROM corpus)
    SELECT src AS source,
           CAST(ROUND(SUM(CAST({term} AS DECIMAL(38,9))), 6) AS DOUBLE)
             AS kl,
           CAST(MAX(t_s) AS BIGINT) AS n_tokens
    FROM sc JOIN corpus USING (tok) JOIN st USING (src) CROSS JOIN pool
    GROUP BY src
    """


@register(
    "source_kl_divergence",
    oracle=_kl_oracle(),
    survey_ids=["A5", "A9", "J1"],
    description="Per-source unigram KL divergence vs the pooled corpus "
    "(domain-shift diagnostic): round-9 terms summed exactly in "
    "DECIMAL, one explode feeding both distributions",
)
def source_kl_divergence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.source_kl_divergence(
        load_table_spread(spark, sf_dir, "documents")
    )


@register(
    "inverted_index_tokens",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id AS doc,
             UNNEST(string_split(lower(text), ' ')) AS tok
      FROM documents WHERE doc_id IS NOT NULL
    ),
    idx AS (
      SELECT tok, COUNT(*) AS df,
             string_agg(CAST(doc AS VARCHAR), ',' ORDER BY doc) AS p
      FROM (SELECT DISTINCT tok, doc FROM toks WHERE tok <> '')
      GROUP BY tok
    )
    SELECT tok, CAST(df AS BIGINT) AS df,
           (('0x' || substr(md5(p), 1, 15))::BIGINT) AS postings_hash
    FROM idx WHERE df >= 5
    """,
    survey_ids=["R2", "A7", "W4"],
    description="Inverted index build (token -> sorted doc-id posting "
    "list, df >= 5): ONE explode + distinct + groupBy; posting-list "
    "CONTENT verified by cross-engine hash",
)
def inverted_index_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.functions.hashing import hash64
    from qudo_etl_pipeline_spark.operators.index import inverted_index

    idx = inverted_index(
        load_table_spread(spark, sf_dir, "documents",
                          columns=["doc_id", "text"]),
        min_df=5,
    )
    return idx.select(
        "tok",
        "df",
        hash64(F.array_join("postings", ",")).alias("postings_hash"),
    )


@register(
    "boolean_and_docs",
    oracle="""
    SELECT doc_id AS doc FROM documents
    WHERE doc_id IS NOT NULL
      AND list_contains(string_split(lower(text), ' '), 'table')
      AND list_contains(string_split(lower(text), ' '), 'hash')
    """,
    survey_ids=["J3", "P6"],
    description="Boolean AND retrieval through the inverted index: "
    "intersect two posting lists (array work on two index rows) instead "
    "of scanning the corpus; oracle is the direct corpus scan",
)
def boolean_and_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.index import (
        boolean_and_query,
        inverted_index,
    )

    idx = inverted_index(
        load_table_spread(spark, sf_dir, "documents",
                          columns=["doc_id", "text"])
    )
    return boolean_and_query(idx, ["table", "hash"])


# --- exact substring-span dedup (Lee et al. ExactSubstr) ------------------

_SPAN_K = 5


def _span_dedup_oracle(k: int = _SPAN_K) -> str:
    """Mirror of spans.span_dedup_stats: n-gram inversion + corpus-wide
    frequency + gaps-and-islands interval merge. All-integer arithmetic,
    so every column hash-compares exactly."""
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), grams AS (
      SELECT doc_id, i - 1 AS pos,
             {_dh_raw(f"array_to_string(list_slice(t, i, i + {k} - 1), ' ')")}
               AS gh
      FROM toks, unnest(range(1, n_tok - {k} + 2)) AS u(i)
      WHERE n_tok >= {k}
    ), dup AS (
      SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2
    ), ds AS (
      SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gh)
    ), w AS (
      SELECT doc_id, pos,
             MAX(pos + {k}) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM ds
    ), isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev_end IS NULL OR pos >= prev_end
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM w
    ), cov AS (
      SELECT doc_id, island, MAX(pos + {k}) - MIN(pos) AS c
      FROM isl GROUP BY doc_id, island
    ), per_doc AS (
      SELECT doc_id, SUM(c) AS dup_tokens FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_tok AS BIGINT) AS n_tokens,
           CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           ROUND(COALESCE(p.dup_tokens, 0) * 1.0 / t.n_tok, 6)
             AS dup_fraction
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    """


@register(
    "span_dedup_stats",
    oracle=_span_dedup_oracle(),
    survey_ids=["P7", "A4", "W1"],
    description="Exact substring-span dedup (Lee et al. ExactSubstr, "
    "distributed as n-gram inversion): per-doc fraction of tokens covered "
    "by a k-token span occurring >= 2 times corpus-wide",
)
def span_dedup_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.spans import span_dedup_stats

    return span_dedup_stats(
        load_table_spread(spark, sf_dir, "documents",
                          columns=["doc_id", "text"]),
        k=_SPAN_K,
    )


# --- DSIR importance resampling -------------------------------------------

_DSIR_BUCKETS = 10_000


def _dsir_oracle(k: int = 100, n_buckets: int = _DSIR_BUCKETS) -> str:
    """Mirror of importance.dsir_weights + dsir_select: hashed uni+bigram
    multinomials, Laplace-smoothed log-ratios rounded to 9 before the
    per-doc sum (outputs to 6), top-k on (weight DESC, doc_id)."""
    w = "string_split(lower(text), ' ')"
    grams = (
        f"list_concat({w}, "
        f"list_transform(generate_series(1, greatest(len({w}) - 1, 1)), "
        f"i -> concat_ws(' ', {w}[i], {w}[i + 1])))"
    )
    return f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(source = 'src0' AS BIGINT) AS tgt,
             ({_dh_raw('u.g')} % {n_buckets}) AS b
      FROM documents, unnest({grams}) AS u(g)
      WHERE u.g <> ''
    ), db AS (
      SELECT doc_id, tgt, b, COUNT(*) AS n FROM feats GROUP BY doc_id, tgt, b
    ), counts AS (
      SELECT b, SUM(n) AS c_raw, SUM(CASE WHEN tgt = 1 THEN n ELSE 0 END) AS c_tgt
      FROM db GROUP BY b
    ), totals AS (
      SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt FROM counts
    ), ratios AS (
      SELECT b, ROUND(ln(((c_tgt + 1.0) / (t_tgt + {n_buckets}))
                       / ((c_raw + 1.0) / (t_raw + {n_buckets}))), 9) AS lr9
      FROM counts, totals
    ), wts AS (
      -- product-then-sum over the per-(doc,bucket) counts, mirroring
      -- the Spark plan's association exactly
      SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_feats,
             ROUND(SUM(lr9 * n), 6) AS dsir_logratio
      FROM db JOIN ratios USING (b)
      GROUP BY doc_id
    )
    SELECT doc_id, n_feats, dsir_logratio,
           CAST(ROW_NUMBER() OVER (ORDER BY dsir_logratio DESC, doc_id ASC)
                AS BIGINT) AS sel_rank
    FROM wts
    ORDER BY dsir_logratio DESC, doc_id ASC
    LIMIT {k}
    """


@register(
    "dsir_selection",
    oracle=_dsir_oracle(),
    survey_ids=["A4", "A9", "W2"],
    description="DSIR data selection (Xie et al. 2023): hashed-n-gram "
    "importance weights against a target domain, deterministic top-k",
)
def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.importance import (
        dsir_select,
        dsir_weights,
    )

    docs = load_table_spread(
        spark, sf_dir, "documents", columns=["doc_id", "text", "source"]
    )
    wts = dsir_weights(
        docs, target=F.col("source") == "src0", n_buckets=_DSIR_BUCKETS
    )
    return dsir_select(wts, k=100)


# --- link-graph PageRank --------------------------------------------------


def _pagerank_oracle(n_iter: int = 10) -> str:
    """Recursive-CTE mirror of graph.pagerank_fixed_point. The zero-
    weight self-edge in ``edges2`` guarantees every node appears as a
    dst each round (so no-in-edge nodes keep a row) without referencing
    the recursive table twice."""
    from qudo_etl_pipeline_spark.operators.graph import FP_SCALE

    base15 = FP_SCALE * 15 // 100
    return f"""
    WITH RECURSIVE raw_e AS (
      SELECT DISTINCT user_id AS src,
             CAST(json_extract(props, '$.k') AS BIGINT) AS dst
      FROM events
      WHERE user_id <> CAST(json_extract(props, '$.k') AS BIGINT)
    ), deg AS (
      SELECT src, COUNT(*) AS outdeg FROM raw_e GROUP BY src
    ), nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM raw_e UNION SELECT dst FROM raw_e
      )
    ), nn AS (SELECT COUNT(*) AS n FROM nodes),
    edges2 AS (
      SELECT e.src, e.dst, d.outdeg, FALSE AS self
      FROM raw_e e JOIN deg d USING (src)
      UNION ALL
      SELECT node, node, 1, TRUE FROM nodes
    ), pr AS (
      SELECT 0 AS it, node, ({FP_SCALE} // n) AS r FROM nodes, nn
      UNION ALL
      SELECT it + 1, dst AS node,
             ({base15} // (SELECT n FROM nn))
               + (17 * SUM(CASE WHEN self THEN 0
                                ELSE r // outdeg END)) // 20
      FROM (
        SELECT p.it, e2.dst, e2.outdeg, e2.self, p.r
        FROM pr p JOIN edges2 e2 ON e2.src = p.node
        WHERE p.it < {n_iter}
      ) GROUP BY it, dst
    )
    SELECT node, CAST(r AS BIGINT) AS rank_fp,
           ROUND(r / {float(FP_SCALE)}, 9) AS pagerank
    FROM pr WHERE it = {n_iter}
    """


@register(
    "pagerank_events_graph",
    oracle=_pagerank_oracle(),
    survey_ids=["J1", "A4", "A9"],
    description="Fixed-point PageRank (damping 0.85, 10 rounds) over the "
    "events user->item link graph: all-BIGINT power iteration, "
    "bit-identical to the recursive-CTE oracle",
)
def pagerank_events_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.graph import pagerank_fixed_point

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("src"),
        F.get_json_object("props", "$.k").cast("bigint").alias("dst"),
    )
    return pagerank_fixed_point(ev, n_iter=10)


# --- prefix-filtering exact similarity join -------------------------------

_SIMJOIN_T = 0.5
# Deterministic stride: the synthetic corpus draws from a tiny shared
# vocabulary, so EVERY doc shares "rare" tokens with most others and the
# prefix filter (correctly) degenerates toward all-pairs — a property of
# this generator, not the operator (same caveat as span_dedup_stats).
# The gate therefore verifies exactness on a fixed stride of docs.
_SIMJOIN_STRIDE = 37


def _simjoin_oracle(t: float = _SIMJOIN_T) -> str:
    return f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % {_SIMJOIN_STRIDE} = 0
    ),
    toks AS (
      SELECT doc_id AS id, t.tok
      FROM docs,
           LATERAL (SELECT unnest(list_distinct(string_split(text, ' ')))
                    AS tok) t
    ),
    freq AS (SELECT tok, COUNT(*) AS f FROM toks GROUP BY tok),
    ranked AS (
      SELECT id, tok,
             ROW_NUMBER() OVER (
               PARTITION BY id ORDER BY f ASC, tok ASC
             ) AS rn,
             COUNT(*) OVER (PARTITION BY id) AS n
      FROM toks JOIN freq USING (tok)
    ),
    prefix AS (
      SELECT id, tok FROM ranked
      WHERE rn <= n - CAST(CEIL({t!r} * n) AS BIGINT) + 1
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM prefix a JOIN prefix b
        ON a.tok = b.tok AND a.id < b.id
    ),
    sets AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
      FROM docs
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT c.id_a, c.id_b,
             ROUND(len(list_intersect(a.s, b.s)) * 1.0 /
                   (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))),
                   6) AS jaccard
      FROM cand c JOIN sets a ON c.id_a = a.doc_id
                  JOIN sets b ON c.id_b = b.doc_id
    ) WHERE jaccard >= {t!r}
    ORDER BY id_a, id_b
    """


@register(
    "similarity_join_exact",
    oracle=_simjoin_oracle(),
    survey_ids=["P7", "J3"],
    description="EXACT all-pairs token-Jaccard join at t=0.5 by prefix "
    "filtering (rarest-first global token order; no false negatives, "
    "unlike LSH banding) + true-Jaccard verification",
)
def similarity_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_spread(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _SIMJOIN_STRIDE == 0
    )
    return D.similarity_join(docs, _SIMJOIN_T).orderBy("id_a", "id_b")


# --- triangle counting / clustering coefficient --------------------------

_TRI_MOD = 211  # fold the bipartite user->item ids into one node space


def _triangle_oracle() -> str:
    cc6 = ref_round_sql(
        "2.0 * COALESCE(triangles, 0) / (degree * (degree - 1.0))", 6
    )
    return f"""
    WITH raw AS (
      SELECT user_id % {_TRI_MOD} AS a,
             CAST(json_extract(props, '$.k') AS BIGINT) % {_TRI_MOD} AS b
      FROM events
    ),
    e AS (
      SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b
      FROM raw WHERE a IS NOT NULL AND b IS NOT NULL AND a <> b
    ),
    deg AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN da.degree < db.degree
                    OR (da.degree = db.degree AND e.a < e.b)
                  THEN e.a ELSE e.b END AS src,
             CASE WHEN da.degree < db.degree
                    OR (da.degree = db.degree AND e.a < e.b)
                  THEN e.b ELSE e.a END AS dst
      FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node
    ),
    wedge AS (
      SELECT o1.src AS c, o1.dst AS v, o2.dst AS w
      FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst
    ),
    tri AS (
      SELECT c, v, w FROM wedge
      JOIN e ON LEAST(v, w) = e.a AND GREATEST(v, w) = e.b
    ),
    pt AS (
      SELECT node, COUNT(*) AS triangles FROM (
        SELECT c AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri
      ) GROUP BY node
    )
    SELECT deg.node AS node, degree,
           COALESCE(triangles, 0) AS triangles,
           CASE WHEN degree >= 2 THEN {cc6} ELSE 0.0 END AS clustering
    FROM deg LEFT JOIN pt ON deg.node = pt.node
    ORDER BY node
    """


@register(
    "triangle_clustering",
    oracle=_triangle_oracle(),
    survey_ids=["J1", "A4"],
    description="Per-node triangle counts + local clustering coefficient "
    "by degree-ordered wedge closure (O(m^1.5) bound) over the folded "
    "events graph",
)
def triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.graph import triangle_counts

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % _TRI_MOD).alias("src"),
        (
            F.get_json_object("props", "$.k").cast("bigint") % _TRI_MOD
        ).alias("dst"),
    )
    return triangle_counts(ev).orderBy("node")


# --- BM25 ranked retrieval ------------------------------------------------

_BM25_TERMS = ["table", "hash", "spark"]


def _bm25_oracle(k: int = 20, k1: float = 1.2, b: float = 0.75) -> str:
    """Mirror of index.bm25_topk's pivoted single-shuffle form: per-term
    tf columns from one GROUP BY doc, df/N/avgdl from one aggregate of
    that table, and the SAME fixed-order per-term score sum. idf rounds
    to 9 before scoring, score to 6, ties on ascending doc id."""
    q = _BM25_TERMS
    tf_cols = ",\n             ".join(
        f"SUM(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS tf{i}"
        for i, t in enumerate(q)
    )
    df_cols = ",\n             ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(q))
    )
    terms_sum = "\n               + ".join(
        f"(ROUND(ln((n_docs - df{i} + 0.5) / (df{i} + 0.5) + 1.0), 9)"
        f" * (tf{i} * ({k1} + 1.0)"
        f" / (tf{i} + {k1} * (1.0 - {b} + {b} * dl / avgdl))))"
        for i in range(len(q))
    )
    any_tf = " + ".join(f"tf{i}" for i in range(len(q)))
    return f"""
    WITH toks AS (
      SELECT doc_id AS doc, t.tok
      FROM documents,
           LATERAL (SELECT unnest(string_split(lower(text), ' ')) AS tok) t
      WHERE t.tok <> ''
    ), per_doc AS (
      SELECT doc, COUNT(*) AS dl,
             {tf_cols}
      FROM toks GROUP BY doc
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             SUM(dl) / COUNT(*) AS avgdl,
             {df_cols}
      FROM per_doc
    ), out AS (
      SELECT doc,
             ROUND({terms_sum}, 6) AS bm25
      FROM per_doc, stats
      WHERE {any_tf} > 0
    )
    SELECT doc, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc ASC) AS BIGINT)
             AS rank
    FROM out ORDER BY bm25 DESC, doc ASC LIMIT {k}
    """


@register(
    "bm25_topk_docs",
    oracle=_bm25_oracle(),
    survey_ids=["A10", "W2", "J1"],
    description="BM25 ranked retrieval (Lucene idf variant, k1=1.2 "
    "b=0.75): term-filtered tf stream, distributed TakeOrdered top-20",
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.index import bm25_topk

    return bm25_topk(
        load_table_spread(spark, sf_dir, "documents",
                          columns=["doc_id", "text"]),
        _BM25_TERMS,
        k=20,
    )


# --- real PNG decode path -------------------------------------------------


@register(
    "multimodal_png_stats",
    oracle="""
    WITH imgs AS (
      SELECT doc_id AS media_id,
             4 + doc_id % 5 AS w,
             4 + doc_id % 7 AS h
      FROM documents WHERE doc_id < 200
    ), px AS (
      SELECT media_id, w, h,
             (media_id * 7 + 3 * u.x + 5 * v.y + 11 * t.c) % 256 AS p
      FROM imgs,
           LATERAL unnest(range(w)) AS u(x),
           LATERAL unnest(range(h)) AS v(y),
           LATERAL unnest(range(3)) AS t(c)
    )
    SELECT media_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(SUM(p) AS BIGINT) AS pixel_sum,
           CAST(MIN(p) AS BIGINT) AS px_min,
           CAST(MAX(p) AS BIGINT) AS px_max,
           ROUND(SUM(p) / (w * h * 3.0), 6) AS px_mean
    FROM px GROUP BY media_id, w, h
    """,
    survey_ids=["P6", "P10"],
    description="REAL PNG encode->decode through the stdlib-only codec "
    "(Arrow kernels both ways); the oracle aggregates the generator's "
    "closed-form pixel pattern without touching a PNG, so codec "
    "correctness is what the hash-match proves",
)
def multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.multimodal import (
        extract_features,
        synthetic_png_media,
    )

    ids = (
        load_table_spread(spark, sf_dir, "documents", columns=["doc_id"])
        .filter(F.col("doc_id") < 200)
        .select(F.col("doc_id").alias("media_id"))
    )
    feats = extract_features(synthetic_png_media(ids), decoder="png")
    f = F.col("features")
    sum_b = f[3].cast("bigint")
    return feats.select(
        "media_id",
        f[0].cast("bigint").alias("width"),
        f[1].cast("bigint").alias("height"),
        sum_b.alias("pixel_sum"),
        f[4].cast("bigint").alias("px_min"),
        f[5].cast("bigint").alias("px_max"),
        F.round(
            sum_b
            / (f[0].cast("bigint") * f[1].cast("bigint") * F.lit(3.0)),
            6,
        ).alias("px_mean"),
    )


@register(
    "multimodal_wav_stats",
    oracle="""
    WITH clips AS (
      SELECT doc_id AS media_id,
             8000 + doc_id % 5 AS rate,
             50 + doc_id % 17 AS n
      FROM documents WHERE doc_id < 200
    ), s AS (
      SELECT media_id, rate, n,
             (media_id * 13 + 7 * u.i) % 201 - 100 AS v
      FROM clips, LATERAL unnest(range(n)) AS u(i)
    )
    SELECT media_id,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sample_sum,
           CAST(MIN(v) AS BIGINT) AS s_min,
           CAST(MAX(v) AS BIGINT) AS s_max,
           ROUND(SUM(v) / (n * 1.0), 6) AS s_mean
    FROM s GROUP BY media_id, rate, n
    """,
    survey_ids=["P6", "P10"],
    description="REAL WAV encode->decode through the stdlib PCM16 codec; "
    "oracle aggregates the generator's closed-form sample pattern "
    "without touching a WAV",
)
def multimodal_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.multimodal import (
        extract_features,
        synthetic_wav_media,
    )

    ids = (
        load_table_spread(spark, sf_dir, "documents", columns=["doc_id"])
        .filter(F.col("doc_id") < 200)
        .select(F.col("doc_id").alias("media_id"))
    )
    feats = extract_features(synthetic_wav_media(ids), decoder="wav")
    f = F.col("features")
    sum_b = f[3].cast("bigint")
    return feats.select(
        "media_id",
        f[0].cast("bigint").alias("sample_rate"),
        f[1].cast("bigint").alias("n_samples"),
        sum_b.alias("sample_sum"),
        f[4].cast("bigint").alias("s_min"),
        f[5].cast("bigint").alias("s_max"),
        F.round(sum_b / f[1].cast("bigint").cast("double"), 6).alias(
            "s_mean"
        ),
    )


@register(
    "multimodal_resize_stats",
    oracle="""
    WITH imgs AS (
      SELECT doc_id AS media_id,
             4 + doc_id % 5 AS w0,
             4 + doc_id % 7 AS h0
      FROM documents WHERE doc_id < 200
    ), px AS (
      -- nearest-neighbor source index per 6x6 target pixel
      SELECT media_id,
             (media_id * 7
              + 3 * ((u.x * w0) // 6)
              + 5 * ((v.y * h0) // 6)
              + 11 * t.c) % 256 AS p
      FROM imgs,
           LATERAL unnest(range(6)) AS u(x),
           LATERAL unnest(range(6)) AS v(y),
           LATERAL unnest(range(3)) AS t(c)
    )
    SELECT media_id,
           CAST(SUM(p) AS BIGINT) AS pixel_sum,
           CAST(MIN(p) AS BIGINT) AS px_min,
           CAST(MAX(p) AS BIGINT) AS px_max
    FROM px GROUP BY media_id
    """,
    survey_ids=["P6", "P10"],
    description="REAL resize: PNG decode -> nearest-neighbor 6x6 -> "
    "re-encode -> decode again; oracle predicts resized pixels from the "
    "generator pattern and the integer index map",
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.multimodal import (
        extract_features,
        resize_images,
        synthetic_png_media,
    )

    ids = (
        load_table_spread(spark, sf_dir, "documents", columns=["doc_id"])
        .filter(F.col("doc_id") < 200)
        .select(F.col("doc_id").alias("media_id"))
    )
    resized = resize_images(synthetic_png_media(ids), width=6, height=6)
    feats = extract_features(resized, decoder="png")
    f = F.col("features")
    return feats.select(
        "media_id",
        f[3].cast("bigint").alias("pixel_sum"),
        f[4].cast("bigint").alias("px_min"),
        f[5].cast("bigint").alias("px_max"),
    )


@register(
    "hash_split_counts",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             ({_dh_raw("'split:' || doc_id::VARCHAR")} % 1000000) AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 800000 THEN 'train'
                WHEN bucket < 900000 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(doc_id) AS BIGINT) AS min_id
    FROM b GROUP BY 1
    """,
    survey_ids=["R5", "P6"],
    description="Deterministic hash-based train/val/test split (80/10/10): "
    "stable across runs/partitionings, id-consistent across derived "
    "tables, map-only",
)
def hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.curation import hash_split

    docs = load_table_spread(spark, sf_dir, "documents", columns=["doc_id"])
    out = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("doc_id").cast("bigint").alias("min_id"),
    )


@register(
    "source_entropy_by_lang",
    oracle="""
    WITH counts AS (
      SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source
    ), shares AS (
      SELECT lang,
             CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang)
                                      AS DOUBLE) AS p
      FROM counts
    ), terms AS (
      SELECT lang,
             CAST(ROUND(-(p * ln(p)), 9) AS DECIMAL(18,9)) AS h,
             CAST(ROUND(p * p, 9) AS DECIMAL(18,9)) AS p2
      FROM shares
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_categories,
           ROUND(CAST(SUM(h) AS DOUBLE), 6) AS entropy,
           ROUND(CASE WHEN COUNT(*) > 1
                      THEN CAST(SUM(h) AS DOUBLE)
                           / ln(CAST(COUNT(*) AS DOUBLE)) END, 6)
             AS norm_entropy,
           ROUND(1.0 - CAST(SUM(p2) AS DOUBLE), 6) AS gini
    FROM terms GROUP BY lang
    """,
    survey_ids=["A4", "A9"],
    description="Realized corpus-mixture diagnostics per language: "
    "Shannon entropy, normalized entropy, and Gini impurity of the "
    "source distribution (one shuffle to the (lang, source) count "
    "table; cos9-rounded terms summed as DECIMAL)",
)
def source_entropy_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.curation import mixture_entropy

    return mixture_entropy(
        load_table_spread(spark, sf_dir, "documents"), "lang", "source"
    )


def _rrf_oracle(c: int = 60, k: int = 10) -> str:
    # Hybrid fusion of the two proven retrieval oracles: the BM25
    # pivoted-form CTE (k=20) and the exact-cosine top-20 of query
    # vector 0, combined with cos9-rounded 1/(c+rank) terms summed as
    # DECIMAL (operators/index.py::rrf_fuse).
    bm = _bm25_oracle(k=20)
    cos9 = (
        "(FLOOR((list_dot_product(q.e, n.e) / "
        "(sqrt(list_dot_product(q.e, q.e)) * "
        "sqrt(list_dot_product(n.e, n.e)))) * 1000000000.0 + 0.5) "
        "/ 1000000000.0)"
    )
    return f"""
    WITH bm AS ({bm}),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    ann AS (
      SELECT neighbor_id AS doc, rank FROM (
        SELECT n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (ORDER BY {cos9} DESC, n.vec_id ASC)
                 AS rank
        FROM v q JOIN v n ON q.vec_id = 0 AND n.vec_id <> 0
      ) WHERE rank <= 20
    ),
    u AS (
      SELECT doc, rank FROM bm
      UNION ALL
      SELECT doc, rank FROM ann
    ),
    scored AS (
      SELECT doc,
             CAST(SUM(CAST(ROUND(1.0 / ({c}.0 + CAST(rank AS DOUBLE)), 9)
                           AS DECIMAL(18,9))) AS DOUBLE) AS rrf,
             CAST(COUNT(*) AS BIGINT) AS n_systems
      FROM u GROUP BY doc
    )
    SELECT doc AS id, n_systems, ROUND(rrf, 9) AS rrf9,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc ASC) AS BIGINT)
             AS rank
    FROM scored ORDER BY rrf DESC, doc ASC LIMIT {k}
    """


@register(
    "rrf_hybrid_topk",
    oracle=_rrf_oracle(),
    survey_ids=["A10", "W2", "R1"],
    description="Hybrid retrieval: reciprocal-rank fusion (c=60) of the "
    "BM25 top-20 and the dense exact-cosine top-20 of query vector 0 — "
    "rank-only combination, no score calibration",
)
def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.index import bm25_topk, rrf_fuse

    docs = load_table_spread(spark, sf_dir, "documents",
                             columns=["doc_id", "text"])
    bm = bm25_topk(docs, _BM25_TERMS, k=20).select("doc", "rank")
    vecs = load_table_spread(spark, sf_dir, "embeddings")
    ann = (
        SIM.brute_force_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=20)
        .select(F.col("neighbor_id").alias("doc"), "rank")
    )
    return rrf_fuse([bm, ann], id_col="doc", rank_col="rank", c=60, k=10)


def _weighted_sample_oracle(k: int = 200, seed: int = 42) -> str:
    from qudo_etl_pipeline_spark.functions.hashing import token_hash64_sql

    h = token_hash64_sql("CAST(doc_id AS VARCHAR)", seed)
    key = (
        f"ln((CAST({h} AS DOUBLE) + 1.0) / 1152921504606846976.0)"
        f" / CAST(n_chars AS DOUBLE)"
    )
    return f"""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           ROUND({key}, 9) AS es_key9
    FROM documents
    WHERE CAST(n_chars AS DOUBLE) > 0
    ORDER BY es_key9 DESC, doc_id ASC
    LIMIT {k}
    """


@register(
    "weighted_sample_docs",
    oracle=_weighted_sample_oracle(),
    survey_ids=["R5", "W2"],
    description="Efraimidis-Spirakis weighted sample (k=200, seeded md5 "
    "uniforms): documents drawn proportional to length in one map + "
    "distributed TakeOrdered — no rejection loop, no prefix sum",
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.curation import weighted_sample

    docs = load_table_spread(
        spark, sf_dir, "documents", columns=["doc_id", "n_chars"]
    )
    return weighted_sample(docs, "doc_id", "n_chars", k=200)


def _js_oracle() -> str:
    import math

    ps = "(c_st * 1.0 / t_s)"
    p = "(c_t * 1.0 / t)"
    m = f"(({ps} + {p}) / 2.0)"
    term = (
        f"ROUND(0.5 * {ps} * ln({ps} / {m})"
        f" + 0.5 * {p} * ln({p} / {m}), 9)"
    )
    half_ln2 = 0.5 * math.log(2.0)
    return f"""
    WITH toks AS (
      SELECT source AS src, UNNEST(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    toks2 AS (SELECT src, tok FROM toks WHERE tok <> ''),
    sc AS (SELECT src, tok, COUNT(*) AS c_st FROM toks2 GROUP BY 1, 2),
    corpus AS (SELECT tok, SUM(c_st) AS c_t FROM sc GROUP BY 1),
    st AS (SELECT src, SUM(c_st) AS t_s FROM sc GROUP BY 1),
    pool AS (SELECT SUM(c_t) AS t FROM corpus)
    SELECT src AS source,
           ROUND(CAST(SUM(CAST({term} AS DECIMAL(38,9))) AS DOUBLE)
                 + {half_ln2!r} * (1.0 - CAST(SUM(c_t) AS DOUBLE)
                                   / CAST(MAX(t) AS DOUBLE)), 6) AS js,
           CAST(MAX(t_s) AS BIGINT) AS n_tokens
    FROM sc JOIN corpus USING (tok) JOIN st USING (src) CROSS JOIN pool
    GROUP BY src
    """


@register(
    "source_js_divergence",
    oracle=_js_oracle(),
    survey_ids=["A5", "A9", "J1"],
    description="Per-source Jensen-Shannon divergence vs the pooled "
    "corpus (symmetric, bounded domain-shift score): round-9 "
    "present-token terms summed in DECIMAL, the absent-vocabulary tail "
    "folded into a closed form over integer corpus counts — no dense "
    "sources x vocab fan-out",
)
def source_js_divergence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.source_js_divergence(
        load_table_spread(spark, sf_dir, "documents")
    )


def _split_oracle() -> str:
    from qudo_etl_pipeline_spark.functions.hashing import hash64_sql

    h = hash64_sql("('split:7:' || md5(text))")
    u = f"({h} % 1000000)"
    return f"""
    WITH docs AS (
      SELECT doc_id, md5(text) AS grp, {u} AS u
      FROM documents WHERE text IS NOT NULL
    ),
    assigned AS (
      SELECT doc_id, grp,
             CASE WHEN u < 800000 THEN 'train'
                  WHEN u < 900000 THEN 'val'
                  ELSE 'test' END AS split
      FROM docs
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups
    FROM assigned GROUP BY split ORDER BY split
    """


@register(
    "split_by_group_documents",
    oracle=_split_oracle(),
    survey_ids=["R5", "P7"],
    description="Leakage-safe train/val/test split of documents with "
    "exact-duplicate groups pinned to one side: assignment is an "
    "integer threshold test on a per-GROUP hash draw (no IEEE "
    "fractions, no shuffle - a pure row function), so byte-identical "
    "texts can never straddle the train/test boundary; the "
    "contamination control row-level random splits lack",
)
def split_by_group_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from qudo_etl_pipeline_spark.operators.curation import split_by_group

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.md5(F.col("text")).alias("grp"))
    )
    out = split_by_group(
        docs,
        "grp",
        {"train": 800_000, "val": 100_000, "test": 100_000},
        seed=7,
    )
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("grp").alias("n_groups"),
        )
        .orderBy("split")
    )
