"""ANN recall@k harness: the quality/speed trade-off the 100 TB story
rests on, measured against the exact brute-force baseline.

Two data regimes:

- PLANTED clustered embeddings (the regime IVF/LSH are built for —
  production embedding corpora are clustered): IVF with learned
  centroids must reach recall@5 >= 0.8 at nprobe=2, and multi-probe
  LSH must beat single-probe by a wide margin.
- The driver's sf0.01 ``embeddings`` table (near-uniform vectors — the
  adversarial regime): no high floor is mathematically reachable when
  neighbors spread evenly across cells (nprobe/n_cells bounds the
  candidate mass), so the assertions pin MONOTONICITY in nprobe, the
  exhaustive-probe exactness (nprobe = n_cells -> recall 1.0), and a
  measured-with-margin floor.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.catalog.ml_q import kmeans_fit
from qudo_etl_pipeline_spark.operators import similarity as SIM
from tests.fixtures import SF_DIR  # the sf0.01 tables

K = 5


def _topk_sets(df) -> dict:
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(exact: dict, approx: dict) -> float:
    vals = [
        len(approx.get(q, set()) & nbrs) / len(nbrs)
        for q, nbrs in exact.items()
    ]
    return sum(vals) / len(vals)


@pytest.fixture(scope="module")
def clustered(spark):
    """10 well-separated gaussian clusters x 40 vectors, dim 16."""
    rng = np.random.default_rng(17)
    centers = rng.normal(size=(10, 16)) * 5.0
    rows = []
    vid = 0
    for c in centers:
        for _ in range(40):
            v = c + rng.normal(size=16) * 0.4
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    ).cache()


@pytest.fixture(scope="module")
def uniform(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _learned_centroids(df, k: int) -> list[list[float]]:
    feats = df.select(
        F.col("vec_id").alias("row_id"),
        F.col("embedding").cast("array<double>").alias("features"),
    )
    fit = kmeans_fit(feats, k=k, seed=42)
    return [[float(x) for x in c] for c in fit["model"].clusterCenters()]


def test_ivf_learned_recall_on_clustered(spark, clustered):
    queries = clustered.filter(F.col("vec_id") % 10 == 0)
    exact = _topk_sets(SIM.brute_force_topk(clustered, queries, k=K))
    cents = _learned_centroids(clustered, k=10)
    approx = _topk_sets(
        SIM.ivf_topk(clustered, queries, cents, nprobe=2, k=K)
    )
    r = _recall(exact, approx)
    assert r >= 0.8, f"IVF learned recall@{K} (nprobe=2, clustered) = {r}"


def test_multiprobe_lsh_recall_on_clustered(spark, clustered):
    exact = _topk_sets(
        SIM.brute_force_topk(
            clustered, clustered.filter(F.col("vec_id") % 10 == 0), k=K
        )
    )

    def lsh_recall(nprobe: int) -> float:
        full = SIM.lsh_topk(
            clustered, k=K, n_planes=6, seed=42, dim=16, nprobe=nprobe
        )
        return _recall(
            exact, _topk_sets(full.filter(F.col("query_id") % 10 == 0))
        )

    single, multi = lsh_recall(1), lsh_recall(4)
    assert multi >= single, (single, multi)
    assert multi >= 0.5, f"multi-probe LSH recall = {multi} (single {single})"


def test_ivf_recall_monotone_in_nprobe_on_uniform(spark, uniform):
    queries = uniform.filter(F.col("vec_id") < 50)
    exact = _topk_sets(SIM.brute_force_topk(uniform, queries, k=K))
    cents = _learned_centroids(uniform, k=4)
    recalls = {}
    for nprobe in (1, 2, 4):
        approx = _topk_sets(
            SIM.ivf_topk(uniform, queries, cents, nprobe=nprobe, k=K)
        )
        recalls[nprobe] = _recall(exact, approx)
    assert recalls[1] <= recalls[2] <= recalls[4], recalls
    # measured 0.736 at nprobe=2 on this seed; floor with margin
    assert recalls[2] >= 0.6, recalls
    # probing every cell IS the exhaustive search
    assert recalls[4] == 1.0, recalls


def test_ivf_demo_centroids_floor_on_uniform(spark, uniform):
    queries = uniform.filter(F.col("vec_id") < 50)
    exact = _topk_sets(SIM.brute_force_topk(uniform, queries, k=K))
    approx = _topk_sets(
        SIM.ivf_topk(
            uniform, queries, SIM.demo_centroids(4, 64), nprobe=2, k=K
        )
    )
    r = _recall(exact, approx)
    # measured 0.656; the fixed demo grid is the oracle path, not the
    # quality path — floor guards against silent quantizer regressions
    assert r >= 0.55, r


def test_multiprobe_dedups_rediscovered_pairs(spark, clustered):
    """A neighbor reachable via home AND probed bucket must hold ONE
    rank slot (no duplicate (query, neighbor) rows)."""
    full = SIM.lsh_topk(
        clustered, k=K, n_planes=6, seed=42, dim=16, nprobe=4
    )
    dupes = (
        full.groupBy("query_id", "neighbor_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


def test_ivf_train_deterministic_and_recall(spark, clustered):
    """The oracle-checkable Lloyd trainer must be a pure function of
    the data (bit-identical across calls — DECIMAL-exact means make the
    reduction order irrelevant) and must still cluster well enough for
    the recall floor on clustered data."""
    c1 = SIM.ivf_train(clustered, k=10, iters=2)
    c2 = SIM.ivf_train(clustered, k=10, iters=2)
    assert c1 == c2
    queries = clustered.filter(F.col("vec_id") % 10 == 0)
    exact = _topk_sets(SIM.brute_force_topk(clustered, queries, k=K))
    approx = _topk_sets(SIM.ivf_topk(clustered, queries, c1, nprobe=2, k=K))
    r = _recall(exact, approx)
    assert r >= 0.6, f"ivf_train recall@{K} (nprobe=2, clustered) = {r}"


def test_quantized_topk_recall_on_uniform(spark, uniform):
    """int8 coarse scan + exact rerank: with rerank = 4k candidates the
    two-stage search must stay near-exact — SQ8 quantization noise
    only matters for neighbors whose cosine gap is below the
    quantization error, so recall is far above any cell-probing
    scheme's floor."""
    queries = uniform.filter(F.col("vec_id") < 50)
    exact = _topk_sets(SIM.brute_force_topk(uniform, queries, k=K))
    approx = _topk_sets(SIM.quantized_topk(uniform, queries, k=K, rerank=4 * K))
    r = _recall(exact, approx)
    assert r >= 0.9, f"quantized rerank recall@{K} = {r}"
