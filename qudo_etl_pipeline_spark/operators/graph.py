"""Link-graph centrality (PageRank) as a corpus quality prior.

Beyond-reference operator: host/page-level
PageRank is the standard web-corpus quality prior (Common Crawl ranks
hosts this way; Brin & Page 1998). Implemented as classic power
iteration over an edge DataFrame — the Pregel pattern: join ranks to
edges on src, aggregate contributions by dst, recompute.

Cross-engine determinism: ranks are BIGINT fixed-point (scale 1e12).
Every step — init ``1e12 DIV N``, per-edge contribution
``r DIV outdeg``, damping ``(17 * s) DIV 20`` (= 0.85), base
``0.15e12 DIV N`` — is integer arithmetic, so iteration sums are
order-independent and the 10-round result is bit-identical in the
DuckDB recursive-CTE oracle. The ~1e-12 truncation per op is far below
ranking resolution.

Simplification (documented): dangling-node mass is dropped rather than
redistributed, so ranks sum to slightly under 1 — the common
implementation shortcut; relative ordering, the quality-prior use, is
unaffected.

Scale design (100 TB of edges):
- per iteration: ONE shuffle join (ranks x edges on src; ranks is the
  small side but both scale with |nodes| / |edges| — a plain shuffle
  equi-join, AQE broadcast when ranks fits) and ONE groupBy(dst) with
  map-side partial aggregation;
- ranks are localCheckpoint()ed each round, truncating lineage so the
  plan stays one-iteration deep (the same device the near-dup CC loop
  uses);
- output is |nodes| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FP_SCALE = 1_000_000_000_000  # fixed-point: rank 1.0 == 1e12


def pagerank_fixed_point(
    edges: DataFrame,
    n_iter: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    max_collect_edges: int = 2_000_000,
) -> DataFrame:
    """PageRank over distinct directed edges, damping 0.85, ``n_iter``
    rounds from the uniform start.

    Output: ``node``, ``rank_fp`` (BIGINT fixed-point, scale 1e12),
    ``pagerank`` (rank_fp / 1e12 rounded to 9 — exact in both engines
    since the division inputs are identical integers).

    Dispatch (the rake-contraction pattern): on a graph at or under
    ``max_collect_edges`` distinct edges the power loop runs on the
    driver over the collected (src, dst, outdeg) table — every one of
    the n_iter matvec rounds on a small graph otherwise costs a fixed
    ~100 ms of AQE stage scheduling over kilobyte frames, which
    dominates end-to-end. Python/NumPy int64 arithmetic reproduces the
    BIGINT recurrence exactly (non-negative ranks, truncating
    division; |17*s| <= 1.7e13 << 2^63), so both paths are
    bit-identical — a property test pins it. The probe is a LIMIT
    collect off the already-checkpointed edge blocks, so the at-scale
    fallback pays one truncated read, not an extra pass.
    """
    e = (
        edges.select(
            F.col(src_col).cast("bigint").alias("src"),
            F.col(dst_col).cast("bigint").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # materialize the degree-annotated edge table ONCE: the power loop
    # re-reads it every round, and without the checkpoint the
    # distinct+join subtree would re-execute n_iter times
    e = e.join(outdeg, "src").localCheckpoint()

    if max_collect_edges > 0:
        probe = e.limit(max_collect_edges + 1).toPandas()
        if len(probe) <= max_collect_edges:
            return _pagerank_driver(edges.sparkSession, probe, n_iter)

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # N is a scalar the init and base terms need; collecting it is one
    # tiny job over the node table — the iterative-operator exception
    # (same as the CC convergence probes).
    n = nodes.count()
    if n == 0:  # no usable edges (all null/self-loops): empty ranking
        return nodes.select(
            "node",
            F.lit(0).cast("bigint").alias("rank_fp"),
            F.lit(0.0).alias("pagerank"),
        )
    base = (FP_SCALE * 15 // 100) // n

    ranks = nodes.select("node", F.lit(FP_SCALE // n).alias("r"))
    for it in range(n_iter):
        contrib = (
            ranks.join(e, ranks["node"] == e["src"])
            .select("dst", F.expr("r DIV outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base) + F.expr("(17 * coalesce(s, 0L)) DIV 20")
            ).alias("r"),
        )
        # truncate lineage every few rounds, not every round: each
        # eager localCheckpoint is a full job, and a 4-iteration plan
        # is still shallow — this trades 10 barrier jobs for 3
        if (it + 1) % 4 == 0 or it == n_iter - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select(
        "node",
        F.col("r").alias("rank_fp"),
        F.round(F.col("r") / F.lit(float(FP_SCALE)), 9).alias("pagerank"),
    )


def _pagerank_driver(spark, edges_pdf, n_iter: int) -> DataFrame:
    """Driver-side power iteration over a collected small graph: the
    SAME integer recurrence as the distributed loop (init
    ``FP_SCALE DIV n``, contribution ``r DIV outdeg``, damping
    ``(17*s) DIV 20`` + ``base``), vectorized in int64. The final
    ``pagerank`` column is computed by the SAME Spark ``round``
    expression on the returned frame, so even the rounding is shared
    with the distributed path rather than mirrored."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("node", T.LongType(), True),
            T.StructField("rank_fp", T.LongType(), True),
        ]
    )
    if len(edges_pdf) == 0:  # no usable edges: empty ranking
        fin = spark.createDataFrame([], schema)
    else:
        src = edges_pdf["src"].to_numpy(dtype=np.int64)
        dst = edges_pdf["dst"].to_numpy(dtype=np.int64)
        outdeg = edges_pdf["outdeg"].to_numpy(dtype=np.int64)
        nodes, idx = np.unique(
            np.concatenate([src, dst]), return_inverse=True
        )
        si, di = idx[: len(src)], idx[len(src):]
        n = int(len(nodes))
        base = (FP_SCALE * 15 // 100) // n
        r = np.full(n, FP_SCALE // n, dtype=np.int64)
        for _ in range(n_iter):
            s = np.zeros(n, dtype=np.int64)
            np.add.at(s, di, r[si] // outdeg)
            r = base + (17 * s) // 20
        fin = spark.createDataFrame(
            pd.DataFrame({"node": nodes, "rank_fp": r}), schema
        )
    return fin.select(
        "node",
        "rank_fp",
        F.round(
            F.col("rank_fp") / F.lit(float(FP_SCALE)), 9
        ).alias("pagerank"),
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient via
    degree-ordered wedge closure (the MapReduce-standard algorithm:
    Suri & Vassilvitskii WWW'11; also GraphX's TriangleCount).

    Steps, all plain DataFrame ops:
    1. canonicalize to undirected simple edges (a < b, no loops, distinct);
    2. per-node degree (one agg over the exploded endpoints);
    3. orient every edge from its lower-degree endpoint to the higher
       (ties by id) — caps every node's out-degree at O(sqrt(m)), which
       bounds the wedge join at O(m^1.5) total work, the optimal bound
       for exact triangle enumeration;
    4. wedges = oriented edges self-joined on the center (dst pair
       ordered), closed by joining the canonical edge set;
    5. each closed triangle credits all three corners; one final agg +
       degree join yields (node, degree, triangles, clustering).

    Shuffle budget: distinct (1), degree agg (1), orient join is
    degree-broadcastable, wedge self-join (1 on src), closure join
    (1 on the pair key), final agg (1). Output is |nodes| rows.
    ``clustering`` = 2T / (d(d-1)) rounded to 6 (0.0 for d < 2).
    """
    from qudo_etl_pipeline_spark.functions.rounding import ref_round

    e = (
        edges.select(
            F.col(src_col).cast("bigint").alias("a"),
            F.col(dst_col).cast("bigint").alias("b"),
        )
        .filter(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        # the canonical edge set is referenced by the degree pass, the
        # orientation join, and the wedge-closure join; without lineage
        # truncation each reference re-executes the distinct (plan
        # audit showed 50 exchanges) — same device as pagerank/CC
        .localCheckpoint()
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(
        F.col("node").alias("a"), F.col("degree").alias("da")
    )
    db = deg.select(
        F.col("node").alias("b"), F.col("degree").alias("db")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (F.col("o1.dst") < F.col("o2.dst")),
    ).select(
        F.col("o1.src").alias("c"),
        F.col("o1.dst").alias("v"),
        F.col("o2.dst").alias("w"),
    )
    tri = wedges.join(
        e,
        (F.least("v", "w") == F.col("a"))
        & (F.greatest("v", "w") == F.col("b")),
    ).select("c", "v", "w")
    per_node = (
        tri.select(F.explode(F.array("c", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    d = F.col("degree").cast("double")
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                ref_round(
                    F.lit(2.0)
                    * F.coalesce("triangles", F.lit(0))
                    / (d * (d - F.lit(1.0))),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )
