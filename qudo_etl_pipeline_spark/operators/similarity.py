"""Similarity search over embedding columns.

Beyond-reference operators: brute-force cosine
top-k as the exact baseline, and an LSH-bucketed variant as the scale
path. Dot products use zip_with + aggregate (JVM-side, codegen) over
array<double>; no Python in the hot loop.

Scale design (100 TB / billions of vectors):
- brute force is O(Q x N) — fine when the query side is small and
  broadcastable, which is the common "dedup this batch against itself"
  shape at bounded k;
- the LSH variant buckets vectors by random-hyperplane signs so candidate
  generation is a bucket equi-join (shuffle on signature, not on vectors);
- IVF-style coarse quantization can reuse the same shape with learned
  centroids (ml layer) instead of random planes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.functions.rounding import fp_round, ref_round


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x all vectors, window top-k.

    Returns (query_id, neighbor_id, rank, cosine). Deterministic: ranking
    uses the cosine rounded to 9 decimals with neighbor id as tie-break,
    so results are reproducible across engines and runs.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("nv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(v)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            fp_round(cosine(F.col("qv"), F.col("nv")), 9).alias("cos9"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos9"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            fp_round(F.col("cos9"), 6).alias("cosine"),
        )
    )


def hyperplane_lsh_buckets(
    vectors: DataFrame,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH: sign-bit signature per vector.

    Planes are generated deterministically from the seed via a hash-based
    pseudo-random (-1/+1) pattern so the operator needs no stored model
    and the oracle can reproduce it. Vectors in the same bucket are
    likely-close in cosine; ANN search = brute force within buckets.
    """
    return _tag_buckets(
        vectors, n_planes=n_planes, seed=seed, vec_col=vec_col, dim=dim
    ).select(F.col(id_col), F.col("bucket"))


def _plane_vectors(n_planes: int, seed: int, dim: int) -> list[list[float]]:
    """Deterministic +-1 hyperplanes: sign from a bit-mix of (seed, p, i).
    Stored-model-free so the DuckDB oracle can inline identical literals."""
    return [
        [
            1.0 if ((seed * 1_000_003 + p * 10_007 + i * 101) % 7) < 3 else -1.0
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def _projections(vec: Column, planes: list[list[float]]) -> list[Column]:
    return [
        dot(vec, F.array(*[F.lit(x) for x in plane])) for plane in planes
    ]


def _sig_from_projs(projs: list[Column]) -> Column:
    sig = F.lit(0).cast("bigint")
    for p, proj in enumerate(projs):
        sig = sig + F.when(proj > 0, F.lit(2**p).cast("bigint")).otherwise(
            F.lit(0)
        )
    return sig


def _tag_buckets(
    vectors: DataFrame,
    n_planes: int,
    seed: int,
    vec_col: str,
    dim: int | None,
) -> DataFrame:
    """``vectors`` + a ``bucket`` column — a narrow projection, no join.

    Keeping the vector alongside its bucket matters at scale: attaching
    the bucket via an id-join would shuffle the full vector table twice;
    as a withColumn it is free.
    """
    if dim is None:
        dim = len(
            vectors.select(vec_col).limit(1).collect()[0][0]
        )
    v = _as_double(F.col(vec_col))
    planes = _plane_vectors(n_planes, seed, dim)
    return vectors.withColumn("bucket", _sig_from_projs(_projections(v, planes)))


def _probe_buckets(
    vec: Column, n_planes: int, seed: int, dim: int, nprobe: int
) -> Column:
    """Multi-probe LSH bucket candidates (array of nprobe signatures).

    The query's own signature first, then single-bit flips of the
    lowest-|margin| planes — the buckets a near-miss neighbor most
    likely landed in (classic multi-probe LSH: perturb the least
    confident bits). Pure column arithmetic; map-only on the query side.
    """
    planes = _plane_vectors(n_planes, seed, dim)
    projs = _projections(vec, planes)
    sig = _sig_from_projs(projs)
    # margins rounded to 6 decimals so the probe ORDER is reproducible
    # across engines (ties then break on plane id) — same determinism
    # device as the cos9 ranking round. ref_round, not F.round: HALF_UP
    # on the shortest decimal repr could order a near-midpoint margin
    # differently from the DuckDB oracle's true-binary-value rounding
    # (round-3 ADVICE); ref_round and its ref_round_sql mirror agree
    # bit-for-bit on every finite double.
    margins = F.array_sort(
        F.array(
            *[
                F.struct(
                    ref_round(F.abs(projs[p]), 6).alias("m"),
                    F.lit(p).alias("p"),
                )
                for p in range(n_planes)
            ]
        )
    )
    flips = F.slice(margins, 1, max(0, min(nprobe - 1, n_planes)))
    flipped = F.transform(
        flips,
        lambda s: sig.bitwiseXOR(
            F.pow(F.lit(2.0), s["p"].cast("double")).cast("bigint")
        ),
    )
    return F.array_distinct(F.concat(F.array(sig), flipped))


def demo_centroids(n_cells: int, dim: int) -> list[list[float]]:
    """Deterministic centroid grid for oracle-checkable IVF runs.

    Production IVF gets centroids from the ml layer (kmeans_fit over a
    sample); this fixed formula exists so the DuckDB oracle can inline
    the identical literals and hash-compare the full IVF pipeline.

    HARD-CAPPED at 7 cells: the ``% 7`` makes centroid ``c`` identical
    to centroid ``c + 7`` (31 ≡ 3 mod 7), so any larger request
    silently yields at most 7 distinct vectors — the aliasing that hid
    the SemDeDup quadratic cliff until round 10 (20k sf1 vectors
    "spread over 64 cells" had landed on exactly 7). The formula stays
    as-is because committed oracles inline its literals; requests for
    more cells must use :func:`spread_centroids` (distinct up to 997).
    """
    if n_cells > 7:
        raise ValueError(
            f"demo_centroids aliases cells mod 7: {n_cells} requested "
            "cells would yield only 7 distinct centroids. Use "
            "spread_centroids for n_cells > 7."
        )
    return [
        [((c * 31 + i * 17) % 7 - 3) / 10.0 for i in range(dim)]
        for c in range(n_cells)
    ]


def spread_centroids(n_cells: int, dim: int) -> list[list[float]]:
    """Deterministic oracle-inlineable centroids WITHOUT cell aliasing.

    :func:`demo_centroids`' ``% 7`` makes cells ``c`` and ``c + 7``
    identical vectors (31 ≡ 3 mod 7, so the pattern depends only on
    ``c mod 7``) — nearest-centroid ties then collapse every corpus
    onto at most 7 cells no matter how many are requested, which
    defeats the SemDeDup k-proportional-to-n scaling rule. This
    generator uses a prime modulus (997) with a multiplier coprime to
    it, so all ``n_cells <= 997`` centroids are pairwise distinct.
    demo_centroids stays as-is: existing oracle-checked queries inline
    its literals, and changing it would change their answers.
    """
    return [
        [((c * 131 + i * 173) % 997 - 498) / 500.0 for i in range(dim)]
        for c in range(n_cells)
    ]


def ivf_train(
    vectors: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic distributed Lloyd trainer for oracle-checkable IVF.

    MLlib's KMeans is seeded but implementation-defined (init sampling,
    float reduction order), so its centroids cannot be reproduced by a
    SQL oracle. This trainer is a pure function of the data on BOTH
    engines:

    - init: the embeddings of the ``k`` lowest ids (rank order);
    - assign: nearest centroid by the same round-9 cosine as
      :func:`ivf_assign` (ties -> low cell id) — map-only;
    - update: per-cell per-dimension mean with DECIMAL(28,12)
      accumulation — decimal addition is exact, so the sum is
      independent of partitioning/reduction order (the same device as
      the ``embedding_centroid_norm`` oracle) — then Python
      ``round(mean, 6)`` (ref_round semantics cross-engine); empty
      cells keep their previous centroid.

    Scale shape: one shuffle per iteration whose output is k rows of
    (count, dim sums) — row-count independent; only k x dim floats ever
    reach the driver. The DuckDB mirror unrolls the same iterations as
    CTEs (catalog.datapipe._ivf_learned_oracle).
    """
    v = vectors.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_e")
    )
    first = v.orderBy("_id").limit(k).collect()
    if not first:
        raise ValueError("ivf_train: empty input")
    # fewer rows than k: train the cells that exist rather than
    # indexing past the collected seed list
    k = min(k, len(first))
    cents = [[float(x) for x in r["_e"]] for r in first]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = v.withColumn(
            "cell", _nearest_cells(F.col("_e"), cents, 1)[0]
        )
        agg = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.col("_e")[i].cast("decimal(28,12)")).alias(f"s{i}")
                for i in range(dim)
            ],
        ).collect()
        new = {
            int(r["cell"]): [
                round(float(r[f"s{i}"]) / r["n"], 6) for i in range(dim)
            ]
            for r in agg
        }
        cents = [new.get(ci, cents[ci]) for ci in range(k)]
    return cents


def _nearest_cells(vec: Column, centroids: list[list[float]], nprobe: int) -> Column:
    """Array of the ``nprobe`` nearest centroid ids by cosine (ties -> low id).

    Pure column arithmetic over literal centroids: the coarse-quantizer
    assignment is map-only — no join, no shuffle, whatever the row count.

    One-lambda form (r10): the naive build spawned a SEPARATE cosine
    expression tree per centroid — 64 centroids meant 64 higher-order
    aggregates for Catalyst to resolve, and plan analysis alone cost
    9-11 s per DataFrame construction (measured at 64 cells; execution
    was 0.6 s). The centroids now ride in ONE array-of-structs literal
    and the scoring lambda appears ONCE in the plan, evaluated per
    element — the identical arithmetic in the identical order, so every
    cosine (and every committed oracle hash) is bit-identical while
    plan-build collapses to milliseconds.
    """
    # ONE Py4J call: building k x dim literals through F.lit costs
    # ~0.5 ms of driver round-trip per element (~2 s at 64x64); an SQL
    # array literal ships the whole matrix in one expr string and the
    # JVM parser materializes it. repr(float) round-trips every finite
    # double exactly, so the parsed values are bit-identical to
    # F.lit's; non-finite components (ivf_train seeds centroids from
    # raw data, where one bad row can carry NaN/Inf) emit as explicit
    # double casts — repr would yield 'nanD', which the parser rejects.
    import math

    def _dlit(x: float) -> str:
        if math.isfinite(x):
            return f"{x!r}D"
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"

    cents = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(_dlit(float(x)) for x in c) + ")"
            for c in centroids
        )
        + ")"
    )
    scored = F.transform(
        cents,
        lambda v, i: F.struct(
            (-fp_round(cosine(vec, v), 9)).alias("negcos"),
            i.cast("bigint").alias("cell"),
        ),
    )
    return F.slice(F.array_sort(scored), 1, nprobe).getField("cell")


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: nearest-centroid cell id per vector."""
    v = _as_double(F.col(vec_col))
    return vectors.withColumn(
        "cell", _nearest_cells(v, centroids, 1)[0]
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: score queries only against vectors in the nprobe
    nearest cells (inverted-file search, the classic coarse-quantizer
    ANN layout).

    Scale shape: cell assignment is a narrow projection on both sides;
    the only shuffle is the (broadcastable-query) equi-join on `cell`,
    so candidate generation never moves vectors that share no probed
    cell. With learned centroids (ml.clustering.kmeans_fit) this is
    standard IVF-Flat; with `demo_centroids` every stage is
    oracle-checkable.
    """
    tagged = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col).select(
        F.col("cell"),
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("nv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn(
        "cell", F.explode(_nearest_cells(F.col("qv"), centroids, nprobe))
    )
    scored = (
        F.broadcast(q)
        .join(tagged, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            fp_round(cosine(F.col("qv"), F.col("nv")), 9).alias("cos9"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos9"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            fp_round(F.col("cos9"), 6).alias("cosine"),
        )
    )


def lsh_topk(
    vectors: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """ANN top-k within LSH buckets (self-join on bucket, window top-k).

    ``nprobe`` > 1 enables multi-probe: each query also searches the
    buckets reached by flipping its ``nprobe - 1`` least-confident
    signature bits, trading a proportional candidate-set increase for
    recall — the standard answer to LSH's near-boundary misses. The
    shuffle stays a bucket equi-join; vectors never pair without a
    shared (possibly probed) bucket.
    """
    if dim is None:
        dim = len(vectors.select(vec_col).limit(1).collect()[0][0])
    tagged = _tag_buckets(
        vectors, n_planes=n_planes, seed=seed, vec_col=vec_col, dim=dim
    )
    if nprobe > 1:
        a = vectors.select(
            F.explode(
                _probe_buckets(
                    _as_double(F.col(vec_col)), n_planes, seed, dim, nprobe
                )
            ).alias("bucket"),
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
        )
    else:
        a = tagged.select(
            F.col("bucket"),
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
        )
    b = tagged.select(
        F.col("bucket"),
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("nv"),
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            fp_round(cosine(F.col("qv"), F.col("nv")), 9).alias("cos9"),
        )
    )
    if nprobe > 1:
        # a probed bucket can rediscover a pair found in the home bucket;
        # dedup before ranking so a neighbor occupies one rank slot
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cos9"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            fp_round(F.col("cos9"), 6).alias("cosine"),
        )
    )


def embedding_quantize(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization for embedding storage.

    The standard vector-store compression step: each vector is scaled so
    its largest-magnitude component maps to +/-127, components round to
    integers (Python-round/ref_round semantics so the DuckDB oracle is
    bit-identical), and the per-vector ``scale`` (max|x| / 127) restores
    approximate floats at query time. A 4x size cut at ~1% recall loss
    is the classic trade at corpus scale, and quantized dot products run
    integer-SIMD.

    Map-only: one narrow projection, no shuffle, whatever the row count.
    Zero vectors quantize to all-zero with scale 0.
    """
    from qudo_etl_pipeline_spark.functions.rounding import (
        ref_round_spark_sql,
    )

    # the ref_round fragment references its argument ~8 times (Dekker
    # expansion), so scale FIRST into its own array stage — the round
    # then applies to a free lambda variable instead of re-evaluating a
    # compound expression per reference (same staging device as
    # text.repetition_stats)
    q_frag = ref_round_spark_sql("x", 0)
    return (
        vectors.select(
            F.col(id_col), _as_double(F.col(vec_col)).alias("_e")
        )
        .select(
            id_col,
            "_e",
            F.expr("array_max(transform(_e, x -> abs(x)))").alias("_mx"),
        )
        .select(
            id_col,
            "_mx",
            F.expr(
                "transform(_e, x -> if(_mx = 0.0D, 0.0D, x * 127.0D / _mx))"
            ).alias("_s"),
        )
        .select(
            F.col(id_col),
            ref_round(F.col("_mx") / 127.0, 6).alias("scale6"),
            F.expr(
                f"transform(_s, x -> cast({q_frag} as bigint))"
            ).alias("q"),
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column.

    Cluster-then-compare (Abbas et al., "SemDeDup", arXiv:2303.09540):
    assign every vector to its nearest centroid, compare pairs ONLY
    within a cell, and drop any vector whose cell contains a
    lower-id vector with cosine >= ``threshold`` (keep-lowest-id is the
    deterministic stand-in for SemDeDup's keep-one-per-group choice).

    Returns one verdict row per vector:
    (id, cell, dup_of, keep) where ``dup_of`` is the LOWEST id of a
    same-cell above-threshold neighbor (NULL for keepers) and
    ``keep`` is 1/0.

    Scale shape: cell assignment is map-only column arithmetic over
    literal centroids; the pairwise stage is a self-equi-join on
    ``cell`` — candidate pairs are bounded by cell size (pick k so
    n/k fits a partition; SemDeDup's own design argument), never all
    pairs. One shuffle for the join + one id-keyed aggregation.
    The tagged frame is cached: it feeds both sides of the
    self-join and the final verdict join, so an unmaterialized plan
    recomputes the nearest-centroid scan three times (measured
    41 s -> ~22 s at sf1, 64 cells). Caching rather than
    localCheckpoint(): construction stays lazy (no job until the
    caller acts — a schema inspection costs nothing) and the blocks
    are recomputable lineage, not executor-local state that an
    executor loss would take down on a real cluster. The cache is
    acquired through :func:`prefix.acquire_operator_cache`, NOT a bare
    persist(): the returned DataFrame depends on the cached frame, so
    per-call persist() would leak one CacheManager entry per input for
    the session's lifetime — registry acquisition dedupes repeat plans
    and releases at ``prefix_cache_scope`` exit /
    ``clear_prefix_caches()``, the hooks every harness here already
    wraps queries in. Per-vector norms
    are precomputed on the same pass — cosine's denominator
    sqrt(dot(a,a))*sqrt(dot(b,b)) is bit-identical whether the sqrts
    run per pair or per row, so the oracle hash is unchanged while
    per-pair work drops from three array aggregates to one.
    """
    from qudo_etl_pipeline_spark.operators.prefix import (
        acquire_operator_cache,
    )

    # id-less vectors are excluded: keep-lowest-id semantics cannot
    # reference them as dup_of, and NULL < NULL join predicates would
    # silently mark every one a keeper anyway — drop them explicitly
    # at the scan (r11 NULL-salt parity; NULL-free inputs unchanged)
    vectors = vectors.filter(F.col(id_col).isNotNull())
    tagged = acquire_operator_cache(
        ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
        .select(
            F.col(id_col).alias("_id"),
            F.col("cell"),
            _as_double(F.col(vec_col)).alias("_e"),
        )
        .withColumn("_n", norm(F.col("_e")))
    )
    a = tagged.select(
        F.col("_id").alias("_ida"),
        F.col("cell"),
        F.col("_e").alias("_ea"),
        F.col("_n").alias("_na"),
    )
    b = tagged.select(
        F.col("_id").alias("_idb"),
        F.col("cell"),
        F.col("_e").alias("_eb"),
        F.col("_n").alias("_nb"),
    )
    dup_of = (
        a.join(b, "cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(
            fp_round(
                dot(F.col("_ea"), F.col("_eb"))
                / (F.col("_na") * F.col("_nb")),
                9,
            )
            >= F.lit(threshold)
        )
        .groupBy(F.col("_idb").alias("_id"))
        .agg(F.min("_ida").alias("dup_of"))
    )
    return (
        tagged.join(dup_of, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cell",
            "dup_of",
            F.col("dup_of").isNull().cast("int").alias("keep"),
        )
    )


def quantized_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN over int8-quantized codes: coarse scan + exact rerank.

    Stage 1 scores every query against the CODES from
    :func:`embedding_quantize` (the flat-SQ8 scan: 4x less memory
    bandwidth than floats, integer-SIMD dot products on a real engine)
    and keeps the top-``rerank`` candidates per query; stage 2 rescores
    only those with exact float cosine and returns the top-``k``.
    Cosine is scale-invariant, so the coarse score uses the integer
    codes directly — the per-vector dequantization scale cancels.

    Scale shape: the coarse stage is the same broadcast-queries scan as
    :func:`brute_force_topk` but over the compact codes; the rerank
    join touches only Q x rerank rows of float vectors. Compose with
    :func:`ivf_assign` cells to make the coarse stage sublinear.
    """
    codes = embedding_quantize(vectors, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col("q")).alias("cv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    # the coarse scan emits only (query_id, neighbor_id, acos9): keeping
    # the float query vector aboard would multiply the Q x N rank
    # exchange's width by dim for no benefit — qv is re-attached by a
    # broadcast join on the Q x rerank survivors only
    coarse = (
        F.broadcast(q)
        .crossJoin(codes)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            fp_round(cosine(F.col("qv"), F.col("cv")), 9).alias("acos9"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("acos9"), F.asc("neighbor_id")
    )
    cand = coarse.withColumn("_arank", F.row_number().over(wa)).filter(
        F.col("_arank") <= rerank
    )
    exact = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("nv")
    )
    scored = cand.join(F.broadcast(q), "query_id").join(exact, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        fp_round(cosine(F.col("qv"), F.col("nv")), 9).alias("cos9"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos9"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            fp_round(F.col("cos9"), 6).alias("cosine"),
        )
    )
