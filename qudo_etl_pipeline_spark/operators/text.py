"""Text-analysis operators for training-data pipelines.

Beyond-reference operators: token statistics,
quality scoring, n-gram language identification, and rolling-hash document
fingerprinting. Everything is built from JVM-side string/array expressions
(split, filter, transform, aggregate) — no Python UDFs in the hot path —
so the operators run inside whole-stage codegen at corpus scale and every
one has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.operators.dedup import _hash64_frag, _shingles_frag
from qudo_etl_pipeline_spark.operators.prefix import acquire_operator_cache

STOPWORDS = {
    "en": ["the", "a", "of", "and", "in", "to", "is"],
    "es": ["el", "la", "de", "y", "en", "que", "es"],
    "de": ["der", "die", "das", "und", "in", "zu", "ist"],
    "fr": ["le", "la", "de", "et", "en", "que", "est"],
}


def token_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token counts and type-token ratio."""
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    return df.select(
        F.col(id_col),
        n_tokens.cast("bigint").alias("n_tokens"),
        n_unique.cast("bigint").alias("n_unique_tokens"),
        F.round(n_unique / n_tokens, 6).alias("type_token_ratio"),
        F.length(text_col).cast("bigint").alias("n_chars"),
    )


# BPE-style pre-tokenization: letter runs, short digit groups (BPE vocabs
# split long numbers), punctuation runs. Alternation branches match
# disjoint character classes, so Java regex (Spark) and RE2 (DuckDB)
# produce identical tokenizations.
BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9 ]+"


def bpe_token_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """LLM-corpus token estimates: BPE-ish regex tokens vs whitespace.

    The regex count approximates what a byte-pair tokenizer's
    pre-tokenizer yields (words, <=3-digit number groups, punctuation
    runs) — the standard cheap token-budget estimate for a pretraining
    corpus. Pure column expressions; chars_per_token is the usual
    compression diagnostic.
    """
    bpe = F.expr(f"regexp_extract_all({text_col}, '{BPE_TOKEN_PATTERN}', 0)")
    n_bpe = F.size(bpe)
    n_ws = F.size(F.split(F.col(text_col), " "))
    # try_divide: a whitespace-only document has zero BPE tokens, and a
    # plain / would throw DIVIDE_BY_ZERO under ANSI mode (on by default)
    return df.select(
        F.col(id_col),
        n_bpe.cast("bigint").alias("n_bpe_tokens"),
        n_ws.cast("bigint").alias("n_ws_tokens"),
        F.round(F.try_divide(F.length(text_col), n_bpe), 6).alias(
            "chars_per_token"
        ),
    )


def _stopword_count(text_col: str, words: list[str]) -> Column:
    lst = ", ".join(f"'{w}'" for w in words)
    return F.expr(f"size(filter(split({text_col}, ' '), t -> t in ({lst})))")


def quality_exprs(text_col: str = "text") -> dict[str, Column]:
    """The quality-feature column expressions, reusable by any caller
    (quality_score's output frame, the corpus-curation gate)."""
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    alpha_chars = n_chars - (n_tokens - 1)  # chars excluding single spaces
    stop = _stopword_count(text_col, STOPWORDS["en"])
    stop_ratio = F.round(stop / n_tokens, 6)
    awl = F.round(alpha_chars / n_tokens, 6)
    score = F.round(
        F.when(n_tokens < 5, 0.0).otherwise(
            F.least(F.lit(1.0), stop_ratio * 2 + F.lit(0.5))
            * F.least(F.lit(1.0), n_tokens / F.lit(50.0))
        ),
        6,
    )
    return {
        "n_tokens": n_tokens.cast("bigint"),
        "avg_word_len": awl,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic quality features: length, word length, stopword density.

    Mirrors the standard pretraining-corpus filters (length bounds,
    stopword ratio, symbol ratio) in pure column arithmetic.
    """
    ex = quality_exprs(text_col)
    return df.select(
        F.col(id_col), *[c.alias(name) for name, c in ex.items()]
    )


def langid_pred(text_col: str = "text") -> Column:
    """The stopword-vote language prediction as one column expression
    (deterministic argmax: score desc, lang asc; 'und' when all zero...
    all scores are >= 0 so the first sorted language wins an all-zero
    tie — identical semantics to langid_heuristic's loop)."""
    scores = {
        lang: _stopword_count(text_col, words)
        for lang, words in STOPWORDS.items()
    }
    pred = F.lit("und")
    best = F.lit(-1)
    for lang in sorted(STOPWORDS):
        s = scores[lang]
        pred = F.when(s > best, F.lit(lang)).otherwise(pred)
        best = F.when(s > best, s).otherwise(best)
    return pred


def langid_heuristic(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Stopword-vote language ID with deterministic argmax (score desc, lang asc)."""
    scores = {
        lang: _stopword_count(text_col, words) for lang, words in STOPWORDS.items()
    }
    langs = sorted(STOPWORDS)  # tie-break order
    pred = langid_pred(text_col)
    return df.select(
        F.col(id_col),
        *[scores[lang].cast("bigint").alias(f"score_{lang}") for lang in langs],
        pred.alias("pred_lang"),
        F.col(lang_col).alias("claimed_lang"),
        F.when(pred == F.col(lang_col), F.lit(1)).otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_match"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition diagnostics.

    The standard pretraining repetition filters (Rae et al. 2021 §A1.1:
    "fraction of characters in the most common n-gram", "fraction of
    duplicated n-grams") re-expressed over word unigrams/bigrams:

    - ``dup_word_frac``   — fraction of tokens that are repeats of an
      earlier token (1 - distinct/total);
    - ``top_2gram_frac``  — fraction of all bigram slots taken by the
      single most frequent bigram;
    - ``dup_2gram_frac``  — fraction of bigram slots whose bigram occurs
      more than once.

    All three are pure higher-order-array expressions, so the whole
    operator is a map-only stage inside whole-stage codegen and nothing
    shuffles at any corpus size. Per-gram counts come from sorting the
    bigram array and measuring runs of equal neighbours — O(n log n)
    with only adjacent-element comparisons, instead of the naive
    O(distinct * n) filter-per-distinct-gram (measured 20x slower).
    """
    toks = F.split(F.col(text_col), " ")
    # Run-length encoding of the sorted gram array: a run starts where
    # the element differs from its predecessor; run lengths are gaps
    # between consecutive run starts. Each intermediate array is its own
    # projection stage: CollapseProject keeps non-cheap aliases that are
    # referenced more than once, so array_sort/filter evaluate ONCE per
    # row instead of once per enclosing lambda element (the inlined
    # version re-sorted inside the filter lambda -> O(n^2 log n)/row,
    # measured ~85 ms/doc; staged it is O(n log n)).
    staged = (
        df.select(
            F.col(id_col),
            F.size(toks).cast("bigint").alias("_n_tok"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("_n_uniq"),
            # word bigrams = 2-shingles; reuse the dedup fragment so
            # the shingle construction has ONE Spark-side source
            F.expr(_shingles_frag(text_col, 2)).alias("_g"),
        )
        .select(
            id_col, "_n_tok", "_n_uniq",
            F.size("_g").alias("_n2"),
            F.array_sort("_g").alias("_s"),
        )
        .select(
            id_col, "_n_tok", "_n_uniq", "_n2",
            F.expr(
                "filter(sequence(1, _n2), i -> i = 1 OR "
                "try_element_at(_s, i) != try_element_at(_s, i - 1))"
            ).alias("_starts"),
        )
        .select(
            id_col, "_n_tok", "_n_uniq", "_n2",
            F.expr(
                "zip_with(_starts, "
                "concat(slice(_starts, 2, size(_starts) - 1), "
                "array(_n2 + 1)), (a, b) -> b - a)"
            ).alias("_runs"),
        )
    )
    return staged.select(
        F.col(id_col),
        F.col("_n_tok").alias("n_tokens"),
        F.round((F.col("_n_tok") - F.col("_n_uniq")) / F.col("_n_tok"), 6)
        .alias("dup_word_frac"),
        F.round(F.expr("array_max(_runs)") / F.col("_n2"), 6)
        .alias("top_2gram_frac"),
        F.round(
            F.expr(
                "aggregate(_runs, 0L, "
                "(a, c) -> a + if(c > 1, cast(c as bigint), 0L))"
            )
            / F.col("_n2"),
            6,
        ).alias("dup_2gram_frac"),
    )


# word bigrams; a 1-word document degenerates to its single word (the
# same greatest(..., 1) guard as dedup._shingles_frag)
# PII patterns shared with the DuckDB oracle: plain character classes
# only ([.] instead of \\. etc.) so Java regex and RE2 agree exactly.
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PHONE_PATTERN = "[0-9]{3}[-][0-9]{3}[-][0-9]{4}"


def pii_redact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII scrub: count and redact emails / phone numbers per document.

    The standard corpus-hygiene pass before releasing or training on web
    text: emails -> ``[EMAIL]``, dashed phone numbers -> ``[PHONE]``.
    Returns (id, n_emails, n_phones, redacted_hash) — the redacted text
    itself stays in the executor (only its 64-bit hash is emitted), the
    shape a 100 TB scrub job wants: map-only regex work, no shuffle, and
    a hash column cheap enough to verify the rewrite downstream.
    """
    # redaction is sequential (emails first), so phone COUNTING must
    # run on the email-redacted text too — a phone-shaped substring
    # inside an address the email pass consumed is not a phone match,
    # and (n_emails, n_phones, redacted_hash) stays self-consistent
    email_red = (
        f"regexp_replace({text_col}, '{EMAIL_PATTERN}', '[EMAIL]')"
    )
    redacted = (
        f"regexp_replace({email_red}, '{PHONE_PATTERN}', '[PHONE]')"
    )
    return df.select(
        F.col(id_col),
        F.expr(f"size(regexp_extract_all({text_col}, '{EMAIL_PATTERN}', 0))")
        .cast("bigint")
        .alias("n_emails"),
        F.expr(f"size(regexp_extract_all({email_red}, '{PHONE_PATTERN}', 0))")
        .cast("bigint")
        .alias("n_phones"),
        F.expr(_hash64_frag(redacted, 13)).alias("redacted_hash"),
    )


def corpus_top_ngrams(
    df: DataFrame,
    n: int = 3,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level top-k word n-grams: (ngram, n_docs, n_occurrences).

    The classic vocabulary-statistics job over a pretraining corpus
    (feeds tokenizer training, contamination review, boilerplate
    detection). Scale shape: shingling is map-only; ONE shuffle on the
    n-gram string aggregates both the occurrence count and the
    document frequency (count distinct doc via a per-doc pre-distinct),
    then a k-row global sort. No all-corpus collect anywhere.
    """
    from qudo_etl_pipeline_spark.operators.dedup import _shingles_frag

    grams = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.expr(_shingles_frag(text_col, n))).alias("ngram"),
    )
    counts = grams.groupBy("ngram").agg(
        F.countDistinct("_doc").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    return (
        counts.orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k TF-IDF terms (smooth idf, sklearn-style).

    score(t, d) = tf(t, d) * (ln((N + 1) / (df(t) + 1)) + 1), the
    smoothed formulation every retrieval/quality stack uses. Returns
    (id, term, tf, score6, rank) for each document's top-k terms
    (ties -> term asc).

    Scale shape: one explode + one (doc, term) aggregation; document
    frequencies are a |vocab|-row aggregate of that same frame,
    broadcast back. N rides along as a 1-row broadcast crossJoin —
    fully lazy, no plan-build job (the unigram_logprob totals device).
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).filter(F.col("term") != "")
    totals = df.agg(F.count(F.lit(1)).alias("_n"))
    # materialize the (doc, term) aggregate ONCE: the dfreq branch needs
    # only the grouping keys, so column pruning makes its subtree
    # physically distinct from the main branch's and exchange reuse
    # never fires — without a cache the scan + tokenize-explode +
    # (doc, term) shuffle runs twice per execution. The cached frame is
    # the post-aggregation collapse (bounded by distinct (doc, term)
    # pairs, strictly smaller than the token stream it replaces), and
    # MEMORY_AND_DISK spill keeps the second pass a local read at scale.
    tf = acquire_operator_cache(
        toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            "term",
            "tf",
            (
                F.col("tf")
                * (F.log((F.col("_n") + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ).alias("_score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("_score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            "tf",
            F.round("_score", 6).alias("score6"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def doc_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    shingle: int = 3,
) -> DataFrame:
    """Rolling word-shingle fingerprint: min hash over 3-gram shingles.

    Documents sharing a fingerprint are near-dup candidates (a 1-hash
    MinHash over shingles). Short docs (< shingle words) fall back to the
    whole-text hash.
    """
    toks = f"split({text_col}, ' ')"
    grams = (
        f"transform(sequence(0, size({toks}) - {shingle}), i -> "
        f"concat_ws(' ', slice({toks}, i + 1, {shingle})))"
    )
    fp = (
        f"case when size({toks}) >= {shingle} then "
        f"array_min(transform({grams}, g -> {_hash64_frag('g', 7)})) "
        f"else {_hash64_frag(text_col, 7)} end"
    )
    return df.select(F.col(id_col), F.expr(fp).alias("fingerprint"))


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-LM quality scoring: per-document mean unigram log-probability.

    The CCNet-style quality filter (Wenzek et al., arXiv:1911.00359)
    scores each document under a language model trained on the corpus
    itself and drops the high-perplexity tail; this is the unigram
    version, fully expressible in relational algebra. Token
    probabilities are Laplace-smoothed corpus frequencies
    p(t) = (c_t + 1) / (T + V); each document gets
    mean_logprob = avg over its tokens of ln p(t) and the perplexity
    proxy ppl = exp(-mean_logprob). Cross-engine determinism: per-token
    logprobs are rounded to 9 decimals before averaging, outputs to 6
    (the cos9 device).

    Scale shape: one explode feeds BOTH the vocabulary counts and the
    per-document average; the token->logprob lookup is a plain
    equi-join on the token (the vocabulary of a web corpus is too large
    to broadcast), then one id-keyed aggregation. No driver-side state:
    the corpus totals ride along as a 1-row broadcast crossJoin.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    # the vocabulary counts feed two branches (corpus totals and the
    # per-token logprob table) — cached once (vocabulary-sized) so the
    # token stream is not re-exploded per branch; the stream itself
    # stays uncached by design (row-scale)
    counts = acquire_operator_cache(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.agg(
        F.sum("c").alias("_t"), F.count(F.lit(1)).alias("_v")
    )
    lp = counts.crossJoin(F.broadcast(totals)).select(
        "tok",
        F.round(
            F.log((F.col("c") + 1.0) / (F.col("_t") + F.col("_v"))), 9
        ).alias("lp9"),
    )
    return (
        toks.join(lp, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.avg("lp9"), 6).alias("mean_logprob"),
            F.round(F.exp(-F.avg("lp9")), 6).alias("ppl"),
        )
    )


def source_kl_divergence(
    df: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Domain-shift score per corpus slice: KL(P_source || P_corpus)
    over unigram distributions.

    A routine training-mix diagnostic: slices whose token distribution
    diverges from the pooled corpus get inspected / reweighted (the
    same statistic data-selection methods threshold). KL is computed
    over the source's own vocabulary (P_source(t) > 0 there, and
    P_corpus(t) > 0 since the corpus pools every source), so no
    smoothing is needed.

    Cross-engine determinism: each term p_s * ln(p_s/p) is rounded to
    9 decimals (plain ROUND — both engines round half away from zero on
    doubles; the lp9 precedent) and the TERMS are summed as DECIMAL (exact,
    order-independent) — a double sum over a whole vocabulary would be
    reduction-order-dependent in the last ulp.

    Scale shape: ONE token explode feeds both the per-source and the
    pooled counts (the pooled table derives from the per-source one —
    no second scan); per-source totals are a broadcast-sized join.
    """
    toks = df.select(
        F.col(source_col).alias("src"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    # the (source, token) counts feed three branches (pooled corpus,
    # per-source totals, the term join) — cached once (per-source
    # vocabulary-sized) so "ONE explode" holds physically, not just in
    # the lazy plan
    sc = acquire_operator_cache(
        toks.groupBy("src", "tok").agg(F.count(F.lit(1)).alias("c_st"))
    )
    corpus = sc.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    src_tot = sc.groupBy("src").agg(F.sum("c_st").alias("t_s"))
    pool_tot = corpus.agg(F.sum("c_t").alias("t"))
    p_s = F.col("c_st") / F.col("t_s")
    p = F.col("c_t") / F.col("t")
    term = F.round(p_s * F.log(p_s / p), 9)
    return (
        sc.join(corpus, "tok")
        .join(F.broadcast(src_tot), "src")
        .crossJoin(F.broadcast(pool_tot))
        .select("src", "t_s", term.alias("term"))
        .groupBy("src")
        .agg(
            F.round(F.sum(F.col("term").cast("decimal(38,9)")), 6)
            .cast("double")
            .alias("kl"),
            F.max("t_s").alias("n_tokens"),
        )
        .select(F.col("src").alias(source_col), "kl", "n_tokens")
    )


def source_js_divergence(
    df: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Jensen-Shannon divergence per source vs the pooled corpus — the
    SYMMETRIC, bounded ([0, ln 2]) domain-shift score; unlike KL it
    never explodes on vocabulary mismatch, so it compares cleanly
    across slices.

    JS(P_s, P) = 0.5·sum p_s·ln(p_s/m) + 0.5·sum p·ln(p/m),
    m = (p_s + p)/2. Tokens ABSENT from the source contribute a pure
    closed form: their second term is 0.5·p·ln 2, and their pooled
    mass is an INTEGER (total corpus count minus the corpus count of
    the source's own vocabulary) — so the whole absent-vocabulary tail
    costs one subtraction instead of a |sources| x |vocab| dense
    fan-out. Present-token terms follow the KL determinism recipe:
    round-9 terms summed in DECIMAL.

    Same scale shape as :func:`source_kl_divergence`: ONE explode
    feeds every distribution; everything after is vocabulary-sized.
    """
    toks = df.select(
        F.col(source_col).alias("src"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    # the (source, token) counts feed three branches (pooled corpus,
    # per-source totals, the term join) — cached once (per-source
    # vocabulary-sized) so "ONE explode" holds physically, not just in
    # the lazy plan
    sc = acquire_operator_cache(
        toks.groupBy("src", "tok").agg(F.count(F.lit(1)).alias("c_st"))
    )
    corpus = sc.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    src_tot = sc.groupBy("src").agg(F.sum("c_st").alias("t_s"))
    pool_tot = corpus.agg(F.sum("c_t").alias("t"))
    p_s = F.col("c_st") / F.col("t_s")
    p = F.col("c_t") / F.col("t")
    m = (p_s + p) / F.lit(2.0)
    term = F.round(
        F.lit(0.5) * p_s * F.log(p_s / m)
        + F.lit(0.5) * p * F.log(p / m),
        9,
    )
    present = (
        sc.join(corpus, "tok")
        .join(F.broadcast(src_tot), "src")
        .crossJoin(F.broadcast(pool_tot))
        .groupBy("src")
        .agg(
            F.sum(term.cast("decimal(38,9)")).alias("_sum9"),
            F.max("t_s").alias("n_tokens"),
            F.sum("c_t").alias("_cov"),   # corpus count of source vocab
            F.max("t").alias("_t"),
        )
    )
    import math

    tail = (
        F.lit(0.5 * math.log(2.0))
        * (F.lit(1.0) - F.col("_cov").cast("double") / F.col("_t").cast("double"))
    )
    return present.select(
        F.col("src").alias(source_col),
        F.round(F.col("_sum9").cast("double") + tail, 6).alias("js"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )
