"""End-to-end corpus curation: the training-data prep chain as ONE plan.

Beyond-reference operator: the standard
pretraining-corpus pipeline — quality gate, language gate, exact dedup,
near-dup drop — composed from the engine's existing JVM-side operators
into a per-document verdict table. This is the shape a 100 TB corpus
actually runs:

1. **quality gate** (map-only): token count + stopword-density score
   (operators/text.py expressions, no shuffle);
2. **language gate** (map-only): stopword-vote language id;
3. **exact dedup** (1 shuffle on the 64-bit content hash): keep the
   minimum doc id per identical text — hashes shuffle, never text;
4. **near-dup drop** (bucketed joins only): MinHash -> LSH banding ->
   candidate pairs -> true-Jaccard verification (operators/dedup.py),
   then drop every document with a verified near-duplicate of smaller
   id. This is *pair domination* — deterministic, one pass, and
   SQL-oracle-checkable — not transitive closure; component-level
   grouping is `dedup.neardup_groups` (label or star contraction) for
   callers that need whole-clique semantics.

Stages are applied in order: each gate sees only the previous stage's
survivors (dedup hashes are not wasted on rejected docs). Output is one
row per input document: (doc_id, kept, drop_reason) with drop_reason in
{'kept', 'low_quality', 'language', 'exact_dup', 'near_dup'}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.functions.hashing import hash64
from qudo_etl_pipeline_spark.operators import dedup as D
from qudo_etl_pipeline_spark.operators import text as TX


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    jaccard_threshold: float = 0.5,
    n_hashes: int = 4,
    band_size: int = 2,
) -> DataFrame:
    """Per-document curation verdicts for the 4-stage pipeline above."""
    if min_tokens < 5:
        raise ValueError(
            "min_tokens < 5 cannot take effect: quality_exprs zeroes "
            "quality_score below 5 tokens (the formula's own floor), so "
            "shorter documents are dropped as low_quality regardless"
        )
    from qudo_etl_pipeline_spark.operators.prefix import (
        acquire_operator_cache,
    )

    q = TX.quality_exprs(text_col)
    # materialized ONCE through the operator cache registry (the
    # semantic_dedup precedent): the dedup cascade below references the
    # gated frame from many branches (content hashes, the anti-join,
    # minhash signatures, pair verification, the final verdict join),
    # and without a cache each branch re-runs the scan PLUS the
    # quality/langid expression battery (measured: 13 parquet scans
    # per execution). MEMORY_AND_DISK keeps re-reads local at corpus
    # scale; recompute-on-eviction is safe (deterministic exprs).
    flagged = acquire_operator_cache(
        docs.select(
            F.col(id_col),
            F.col(text_col),
            F.when(
                (q["n_tokens"] < min_tokens)
                | (q["quality_score"] < min_quality),
                F.lit("low_quality"),
            )
            .when(
                ~TX.langid_pred(text_col).isin(*langs), F.lit("language")
            )
            .alias("_gate"),
        )
    )

    s1 = flagged.filter(F.col("_gate").isNull()).select(id_col, text_col)

    # exact dedup among gate survivors: min id per content hash
    hashes = s1.select(
        F.col(id_col), D.exact_dup_hash(text_col).alias("_h")
    )
    keepers = hashes.groupBy("_h").agg(F.min(id_col).alias("_keeper"))
    exact_drop = (
        hashes.join(keepers, "_h")
        .filter(F.col(id_col) != F.col("_keeper"))
        .select(F.col(id_col), F.lit("exact_dup").alias("_exact"))
    )

    # near-dup drop among exact survivors: verified pair with smaller id
    s2 = s1.join(exact_drop.select(id_col), id_col, "left_anti")
    sigs = D.minhash_signatures(
        s2, id_col=id_col, text_col=text_col, n_hashes=n_hashes
    )
    cand = D.lsh_candidate_pairs(
        D.lsh_bands(sigs, n_hashes=n_hashes, band_size=band_size),
        id_col=id_col,
    )
    verified = D.verified_pairs(
        s2, cand, id_col=id_col, text_col=text_col,
        threshold=jaccard_threshold,
    )
    near_drop = (
        verified.select(F.col("id_b").alias(id_col))  # pairs have id_a < id_b
        .distinct()
        .withColumn("_near", F.lit("near_dup"))
    )

    # plain joins, NOT broadcast: duplicate sets are corpus-sized at
    # scale (dup share of a raw crawl is routinely 30-50%)
    return (
        flagged.join(exact_drop, id_col, "left")
        .join(near_drop, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("_gate", "_exact", "_near", F.lit("kept")).alias(
                "drop_reason"
            ),
        )
        .withColumn(
            "kept",
            (F.col("drop_reason") == "kept").cast("bigint"),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    ngram: int = 5,
    bench_strategy: str = "auto",
    bench_broadcast_limit: int = 5_000_000,
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    at least one word n-gram with the benchmark/eval set (the standard
    pretraining hygiene pass — n-gram collision against held-out
    benchmarks, GPT-3 appendix C style).

    Returns one row per flagged document: (id_col, n_hits = number of
    distinct colliding n-gram hashes, sample_gram_hash = min colliding
    hash for audit).

    Scale shape: both sides shingle map-only into 64-bit hashes (the
    n-grams themselves never shuffle); the benchmark's DISTINCT hash set
    is usually tiny relative to the corpus and broadcast-joins against
    the corpus's exploded hashes. No all-pairs comparison anywhere —
    cost is corpus-ngrams x 1 lookup.

    ``bench_strategy``: a many-benchmark eval suite can exceed what a
    driver/executor can hold as a broadcast table. "broadcast" forces
    the hint (the single-benchmark fast path); "shuffle" forces a plain
    hash join (both sides exchange on _gh); "auto" (default) counts the
    benchmark's distinct hashes once — the benchmark side is the small
    side by construction, so the count is cheap — and broadcasts iff it
    is at or under ``bench_broadcast_limit`` (5M hashes ~ 40 MB).
    Both strategies are result-identical (tests/test_datapipe.py).
    """
    from qudo_etl_pipeline_spark.operators.dedup import (
        _hash64_raw_frag,
        _shingles_frag,
    )

    def grams(df: DataFrame, idc: str, txc: str) -> DataFrame:
        g = F.expr(
            f"transform({_shingles_frag(txc, ngram)},"
            f" t -> {_hash64_raw_frag('t')})"
        )
        return df.select(
            F.col(idc), F.explode(F.array_distinct(g)).alias("_gh")
        )

    if bench_strategy not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"unknown bench_strategy: {bench_strategy!r}")
    bench_hashes = (
        grams(benchmark, bench_id_col, bench_text_col)
        .select("_gh")
        .distinct()
    )
    if bench_strategy == "auto":
        # one count over the (small-by-construction) benchmark side.
        # Cache only for the duration of the sizing count, then release
        # in a finally — a long-lived session must not accumulate one
        # cached hash set per decontaminate() call. The join pass below
        # therefore re-shingles the benchmark once at execution time;
        # that recompute is map-only over the SMALL side, cheaper than
        # the storage leak.
        bench_hashes = bench_hashes.cache()
        try:
            n_bench = bench_hashes.count()
        finally:
            bench_hashes.unpersist(blocking=False)
        bench_strategy = (
            "broadcast" if n_bench <= bench_broadcast_limit else "shuffle"
        )
    joined_bench = (
        F.broadcast(bench_hashes)
        if bench_strategy == "broadcast"
        else bench_hashes
    )
    hits = grams(docs, id_col, text_col).join(joined_bench, "_gh")
    return hits.groupBy(id_col).agg(
        F.countDistinct("_gh").alias("n_hits"),
        F.min("_gh").alias("sample_gram_hash"),
    )


def line_dedup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_tokens: int = 10,
) -> DataFrame:
    """C4-style cross-document line deduplication verdicts.

    C4 (Raffel et al. 2020 §2.2) drops every repeated occurrence of a
    line across the whole corpus, keeping only its first appearance.
    The synthetic corpus is newline-free, so a "line" here is a
    non-overlapping ``line_tokens``-token segment (documented pseudo-line
    segmentation; on real text pass the '\\n'-split instead). First
    occurrence is the (min doc id, min offset within it) holder of the
    line hash — deterministic, order-insensitive.

    Returns one row per document: (id, n_lines, n_dup_lines,
    kept_line_frac) where dup lines are those first seen elsewhere
    (earlier doc, or earlier offset in the same doc).

    Scale shape: lines never shuffle as text — each segment md5-hashes
    in the mapper and only (hash, doc, pos) triples move; one shuffle to
    find each hash's first occurrence, one to re-aggregate per doc.
    This is exactly the C4 implementation shape at 100 TB.
    """
    toks = f"split({text_col}, ' ')"
    segs = (
        f"transform(sequence(0, cast((size({toks}) - 1) / {line_tokens} "
        f"as int)), i -> concat_ws(' ', slice({toks}, "
        f"i * {line_tokens} + 1, {line_tokens})))"
    )
    # first-occurrence semantics need a real (id, offset): documents
    # with no id or no text take no part in line dedup (r11 NULL-salt
    # parity; NULL-free corpora unchanged)
    docs = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    )
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.expr(segs)).alias("pos", "_line"),
    ).select(
        id_col, "pos", F.expr(D._hash64_raw_frag("_line")).alias("_lh")
    )
    first = lines.groupBy("_lh").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_first")
    )
    verdicts = lines.join(first, "_lh").select(
        F.col(id_col),
        (
            (F.col("_first")[id_col] != F.col(id_col))
            | (F.col("_first")["pos"] != F.col("pos"))
        )
        .cast("bigint")
        .alias("_dup"),
    )
    return verdicts.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("_dup").alias("n_dup_lines"),
        F.round(
            (F.count(F.lit(1)) - F.sum("_dup")) / F.count(F.lit(1)), 6
        ).alias("kept_line_frac"),
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 29,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a document iff the
    seeded 64-bit hash of its id falls under its stratum's rate —
    the reproducible alternative to rng sampling that every corpus
    re-mix wants (same ids survive on every run, any cluster layout,
    any partitioning).

    ``rates`` maps stratum value -> keep fraction in [0, 1]; strata not
    listed use ``default_rate``. Selection threshold is
    ``hash % 10_000 < round(rate * 10_000)`` so the rate is exact to
    1e-4 and integral on both engines.

    Scale shape: a map-only filter — no shuffle, no sort, no count;
    the rate map is a literal CASE expression, never a join.
    """
    thr = F.lit(int(round(default_rate * 10_000)))
    for val, rate in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == val, F.lit(int(round(rate * 10_000)))
        ).otherwise(thr)
    h = F.expr(
        D._hash64_frag(f"cast({id_col} as string)", seed) + " % 10000"
    )
    return docs.filter(h < thr)


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-ranked token-budget selection: take documents in
    descending quality-score order (ties -> ascending id) until the
    cumulative whitespace-token count reaches ``budget_tokens`` — the
    "best data first under a token budget" selection every training-mix
    builder runs. A document is kept while the budget is not yet
    exhausted BEFORE it (so the first document crossing the budget line
    is still included — standard greedy knapsack-prefix semantics).

    Returns (id_col, n_tokens, quality_score, cum_tokens) for kept
    docs. The global cumulative sum is a RANGE-PARTITIONED two-pass
    prefix sum, not a bare Window.orderBy (which would move the whole
    corpus into one partition): rows range-partition on the selection
    order, each partition computes its local running sum, and the
    per-partition totals — a partition-count-sized frame — window into
    offsets that broadcast back. Identical values to the single-window
    form at any partitioning (the order is strict: id breaks ties).
    """
    from qudo_etl_pipeline_spark.operators.text import quality_exprs

    q = quality_exprs(text_col)
    order = [F.desc("quality_score"), F.asc(id_col)]
    # a document without text has no tokens to budget and one without
    # an id has no place in the strict selection order — excluded
    # (r11 NULL-salt parity; NULL-free corpora unchanged)
    docs = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    )
    scored = docs.select(
        F.col(id_col),
        q["n_tokens"].alias("n_tokens"),
        q["quality_score"].alias("quality_score"),
    ).repartitionByRange(*order)
    # Cache the range exchange's output BEFORE deriving _pid: the
    # running-sum side and the offsets side both read _pid from it, and
    # range boundaries are sampled nondeterministically — correctness
    # requires both consumers to see ONE physical partitioning. Plan
    # reuse usually guarantees that, but it is an optimizer behavior,
    # not a contract; the cache makes it structural (both branches scan
    # the same materialized partitions; a recomputed-on-eviction
    # partition refetches the same shuffle output, so assignments stay
    # stable). The cached projection is 3 narrow columns, not the
    # corpus text. Lifecycle: correctness-load-bearing for the returned
    # (lazy) plan, so it cannot be released HERE — it goes through the
    # operator-cache registry, which keeps a strong reference until the
    # caller's prefix_cache_scope exits (after full materialization) or
    # clear_prefix_caches runs; a re-acquire after an external
    # unpersist re-arms the cache (prefix.py registry guard).
    from qudo_etl_pipeline_spark.operators.prefix import (
        acquire_operator_cache,
    )

    scored = acquire_operator_cache(scored)
    part = scored.withColumn("_pid", F.spark_partition_id())
    inner = Window.partitionBy("_pid").orderBy(*order)
    local = part.withColumn("_cum_in", F.sum("n_tokens").over(inner))
    totals = part.groupBy("_pid").agg(F.sum("n_tokens").alias("_pt"))
    off_w = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "_pid", F.coalesce(F.sum("_pt").over(off_w), F.lit(0)).alias("_off")
    )
    ranked = (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("cum_tokens", F.col("_cum_in") + F.col("_off"))
        .drop("_pid", "_cum_in", "_off")
    )
    return ranked.filter(
        F.col("cum_tokens") - F.col("n_tokens") < F.lit(budget_tokens)
    )


def source_mixture_weights(
    docs: DataFrame,
    alpha: float = 0.3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled domain-mixture weights: per source, the token
    share p_s, and the alpha-smoothed sampling weight
    q_s = p_s^alpha / sum(p^alpha) — the standard multilingual/domain
    rebalancing rule (alpha < 1 upsamples small domains).

    Returns (source, n_docs, n_tokens, token_share, mixture_weight).
    One groupBy on the source key; the normalization constant is a
    window over the (|sources|-row) aggregate, never over rows.
    """
    toks = F.size(F.split(F.col(text_col), " "))
    agg = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
    )
    tot = Window.partitionBy()
    shared = agg.select(
        F.col(source_col).alias("source"),
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.sum("n_tokens").over(tot)).alias("_share"),
    )
    return shared.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("_share"), 6).alias("token_share"),
        F.round(
            F.pow("_share", F.lit(alpha))
            / F.sum(F.pow("_share", F.lit(alpha))).over(tot),
            6,
        ).alias("mixture_weight"),
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by id hash.

    Each row lands in exactly one split: the salted 60-bit hash of its
    id, reduced mod 1e6, is binned by the cumulative weight boundaries.
    Unlike ``randomSplit`` this is (a) stable across runs, partitionings
    and Spark versions, (b) consistent for the same id across derived
    tables (join-free leakage control: a document and its chunks land
    in the same split if keyed by the same id), and (c) exactly
    reproducible by the SQL oracle. Map-only — no shuffle, no RNG state.
    """
    if not weights or abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError("split weights must sum to 1")
    bucket = hash64(
        F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
    ) % F.lit(1_000_000)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        # round, not truncate: float cumulation (0.01 + 0.09 ->
        # 0.09999999999999999) would otherwise shift the cut by one
        # bucket and diverge from an oracle written with exact bounds
        bound = round(acc * 1_000_000)
        cond = bucket < bound
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn("split", expr)


def mixture_entropy(
    df: DataFrame,
    group_col: str = "lang",
    cat_col: str = "source",
) -> DataFrame:
    """Per-group diversity of a categorical mixture: Shannon entropy
    (nats), normalized entropy, and Gini impurity of the ``cat_col``
    distribution within each ``group_col`` — the standard diagnostics a
    corpus-mixing pipeline tracks per slice (is one source dominating a
    language?). Complements :func:`source_mixture_weights` (which sets
    target weights) by measuring the realized mixture.

    Scale shape: ONE shuffle to the (group, category) count table —
    row-count-independent from there — then a group-partitioned window
    for totals and one final group aggregation over #categories rows.

    Cross-engine determinism: category shares are single IEEE
    divisions of exact counts; each p·ln(p) / p² term is rounded to 9
    decimals (the cos9 device) and summed as DECIMAL(18,9) — summation
    order can't perturb the result. Entropy of a single-category group
    is exactly 0; normalized entropy is NULL there (ln k = 0).
    """
    counts = df.groupBy(group_col, cat_col).agg(
        F.count(F.lit(1)).alias("_n")
    )
    w = Window.partitionBy(group_col)
    p = F.col("_n") / F.sum("_n").over(w)
    terms = counts.select(
        group_col,
        F.round(-(p * F.log(p)), 9).cast("decimal(18,9)").alias("_h"),
        F.round(p * p, 9).cast("decimal(18,9)").alias("_p2"),
    )
    k = F.count(F.lit(1))
    h = F.sum("_h").cast("double")
    return terms.groupBy(group_col).agg(
        k.cast("bigint").alias("n_categories"),
        F.round(h, 6).alias("entropy"),
        F.round(
            F.when(k > 1, h / F.log(k.cast("double"))), 6
        ).alias("norm_entropy"),
        F.round(F.lit(1.0) - F.sum("_p2").cast("double"), 6).alias("gini"),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006):
    every row gets key = ln(u) / w with u a seeded per-item uniform in
    (0, 1]; the k LARGEST keys are exactly a w-weighted sample — the
    distributed, single-pass answer to "sample documents proportional
    to length/quality" that no rejection loop or global prefix sum
    needs. Changing ``seed`` redraws; the same seed is reproducible
    everywhere because u comes from the md5 hash device, not an RNG.

    Scale shape: map (hash + one ln) → distributed TakeOrdered(k):
    per-partition top-k, one tiny merge. No shuffle of the data.

    Cross-engine determinism: keys are cos9-rounded and tie-break on
    ascending id. Non-positive / NULL weights are excluded (ES is
    undefined there).
    """
    from qudo_etl_pipeline_spark.functions.hashing import token_hash64

    w = F.col(weight_col).cast("double")
    # u in (0, 1]: (h + 1) / 2^60 with h uniform over [0, 2^60)
    u = (
        token_hash64(F.col(id_col).cast("string"), seed).cast("double")
        + 1.0
    ) / 1152921504606846976.0
    # plain cos9 rounding (ref_round validates scales <= 7 only; at 9
    # decimals both engines' ROUND agree away from representational
    # ties, the same convention every retrieval key here uses)
    key9 = F.round(F.log(u) / w, 9)
    return (
        df.filter(w > 0)
        .select(*df.columns, key9.alias("es_key9"))
        .orderBy(F.desc("es_key9"), F.asc(id_col))
        .limit(k)
    )


def split_by_group(
    df: DataFrame,
    group_col: str,
    fracs: dict[str, int],
    seed: int = 0,
    denominator: int = 1_000_000,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: every row of a GROUP
    lands in the same split, so near-duplicates (a neardup_groups /
    dedup_exact group id), documents of one source domain, or all
    events of one user can never straddle the train/test boundary —
    the split-level contamination control a training-data pipeline
    needs ON TOP of decontamination (GPT-3 dedup'd train against test
    precisely because row-level random splits leak).

    ``fracs`` maps split name -> integer parts-per-``denominator``
    (integers, not floats: the assignment is the EXACT integer test
    ``u < cum_parts`` on a deterministic per-group hash draw — no IEEE
    thresholds, identical in any engine; parts must sum to
    ``denominator``). The draw is ``hash64(seed || group)`` mod
    denominator: group-pure by construction, stable under reruns and
    row-order changes, and a pure row function (no shuffle at all —
    the assignment is map-side; only callers that JOIN groups pay one
    shuffle upstream).

    Output: input columns + ``split``.
    """
    if sum(fracs.values()) != denominator:
        raise ValueError(
            f"fracs must sum to denominator={denominator}, got "
            f"{sum(fracs.values())}"
        )
    u = (
        hash64(
            F.concat(
                F.lit(f"split:{seed}:"),
                F.col(group_col).cast("string"),
            )
        )
        % denominator
    )
    expr = None
    cum = 0
    for name, parts in fracs.items():
        cum += parts
        cond = u < F.lit(cum)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    return df.withColumn("split", expr)
