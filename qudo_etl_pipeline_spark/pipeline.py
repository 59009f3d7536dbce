"""End-to-end segmentation pipeline: the reference's Dagster asset chain
as one Spark driver program.

Re-implements (reference: src/kraken/app/main.py:45-183,
clustering.py:1079-1187, SegmentationConfig.py:4-18):

1. clean + recode the respondent table       (main.py:66-80)
2. scheme -> column selection + _tgt tagging (main.py:94-126)
3. per scheme, fan out the algorithm families
   kmeans(+pca) / kmodes-or-kprototypes / gmm / rules / lca
   (clustering.py:1085-1127, dispatch :1179-1187); family choice
   kmodes-vs-kprototypes by presence of numeric columns
   (clustering.py:220-234)
4. per family: optimal-k, multi-seed fit, balance filter, rank-sum
   best (clustering.py:391-478,627-713)
5. chi-squared inference -> deliver, discover and the mode list, all
   from one collect of the family's cell table (§3.3 single-shuffle
   plan), and get_all_metrics                 (main.py:158; metrics.py:814-911)
   — quality, social presence, magnitude and signal loss from one
   collect of the family's pattern table, computed on the driver; the
   inference chain runs beside that collect
6. sinks: metrics CSV + per-scheme Parquet results replacing the
   reference's pickles                        (main.py:160-182; SURVEY S5-S7)
   — every table is a local frame, written from the driver with no
   Spark job, one file per table as the reference's pandas calls write

The reference forks joblib child processes per family and re-pickles
the table into each (clustering.py:1085-1088); here the cleaned encoded
table is cached ONCE on the executors and families run as concurrent
MLlib jobs from driver threads — no data movement between stages. After
the fit the families finalize concurrently as well.
"""

from __future__ import annotations

import itertools
import logging
import threading
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FutureTimeoutError
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.ml import clustering as C
from qudo_etl_pipeline_spark.ml import features as FE
from qudo_etl_pipeline_spark.ml import kmodes as KM
from qudo_etl_pipeline_spark.ml import lca as LCA
from qudo_etl_pipeline_spark.ml.business import get_all_metrics
from qudo_etl_pipeline_spark.operators import cleaning as CL
from qudo_etl_pipeline_spark.sources import io as IO
from qudo_etl_pipeline_spark.operators.contingency import (
    cluster_mode_list,
    contingency_tables,
    deliver_stats,
    discover_stats,
    local_frame,
)


_LOG = logging.getLogger(__name__)


@dataclass
class SegmentationConfig:
    """SegmentationConfig.py:4-18 equivalent: which schemes and
    families to run and how to test them. Every field chooses WHAT is
    computed; each survey step has one physical plan."""

    survey_name: str
    schemes: dict[str, list[str]] = field(default_factory=dict)
    weight_col: str | None = None
    conf_interval: float = 0.95
    id_col: str = "alchemer_id"
    rules_col: str | None = None
    algorithms: tuple[str, ...] = ("kmeans", "gmm", "kmodes", "rules_based")
    include_lca: bool = False
    ks: list[int] | None = None
    seeds: list[int] | None = None
    # Wall-clock guard per family fit, reference parity with the hard
    # 3000 s LCA timeout (reference: src/kraken/app/clustering.py:
    # 884-891, lca.R:15). A family that exceeds it is marked timed-out
    # in its metrics and its in-flight Spark jobs are cancelled via the
    # family's job group; the scheme completes with the other families.
    fit_timeout_secs: float = 3000.0


def select_scheme_columns(
    df: DataFrame, fragments: list[str], id_col: str
) -> list[str]:
    """Column selection by fragment (main.py:102-138): keep columns whose
    name contains any requested fragment; 'all' keeps everything."""
    if not fragments or any(f.lower() == "all" for f in fragments):
        return [c for c in df.columns if c != id_col]
    return [
        c
        for c in df.columns
        if c != id_col and any(f.lower() in c.lower() for f in fragments)
    ]


def _family_kmeans(
    encoded: DataFrame,
    cols: list[str],
    cfg: SegmentationConfig,
    num_cols: list[str],
):
    std, _ = FE.standardize(encoded.select(cfg.id_col, *cols), cols)
    std = FE.assemble_array(std, cols)
    proj, _ = FE.pca_transform(std)
    best_k = C.optimal_k(proj, ks=cfg.ks or [3, 4, 5], seed=42, max_workers=2)
    fit = C.kmeans_multi_seed(
        proj, k=best_k, seeds=cfg.seeds or [1, 42, 100], max_workers=2
    )
    return ("kmeans_and_pca", fit)


def _family_gmm(
    encoded: DataFrame,
    cols: list[str],
    cfg: SegmentationConfig,
    num_cols: list[str],
):
    feats = FE.assemble_array(encoded, cols)
    fit = C.gmm_multi_seed(
        feats, k=(cfg.ks or [3])[0], seeds=cfg.seeds or [42, 100], max_workers=2
    )
    return ("bmm", fit)


def _family_kmodes(
    encoded: DataFrame,
    cols: list[str],
    cfg: SegmentationConfig,
    num_cols: list[str],
):
    # kmodes-vs-kprototypes by presence of numeric columns
    # (clustering.py:220-234): numeric features switch the family to the
    # mixed-distance variant, like the reference's dispatch
    cat = [c for c in cols if c not in num_cols]
    fit = KM.kmodes_fit(
        encoded, cat, k=(cfg.ks or [3])[0], num_cols=num_cols, id_col=cfg.id_col
    )
    fit["seed"] = None
    return ("kprototypes" if num_cols else "kmodes", fit)


def _family_rules(
    encoded: DataFrame,
    cols: list[str],
    cfg: SegmentationConfig,
    num_cols: list[str],
):
    if not cfg.rules_col:
        return ("rules_based", None)
    # labels = the rules column's sorted-value codes (M9), which the
    # scheme's label encode already holds
    labeled = encoded.withColumn(C.PREDICTION, F.col(cfg.rules_col))
    return ("rules_based", {"labels": labeled, "k": None, "seed": None})


def _family_lca(
    encoded: DataFrame,
    cols: list[str],
    cfg: SegmentationConfig,
    num_cols: list[str],
):
    # mixed-type dispatch (clustering.py:862-867): numeric features send
    # the survey to the depmixS4-style gaussian+multinomial mixture; the
    # reference models the LABEL-ENCODED values in both branches
    # (cluster_df = self.data_encoded, clustering.py:841-845), so the
    # gaussian factors see encoded codes here too — same semantics.
    cat = [c for c in cols if c not in num_cols]
    # Restart depth: poLCA's default is nrep=100 (reference lca.R:15).
    # Measured BIC-selection stability on the planted categorical
    # fixture (ks=2..5, 6-8 data seeds, noise 0.15-0.4): the selected k
    # is already stable at n_rep=1 and stays stable through n_rep=10 —
    # the pattern-EM's deterministic responsibility init removes most
    # restart sensitivity. n_rep=3 (lca_select's own default) is kept
    # as robustness margin: the whole k x restart grid fits driver-side
    # over the collected pattern table, so extra restarts cost ~no
    # Spark work (measured: n_rep=10 within noise of n_rep=1).
    fit = LCA.lca_select(
        encoded, cat, ks=cfg.ks or [3], n_rep=3, max_iter=30,
        num_cols=num_cols or None,
    )
    return ("lca", fit)


_FAMILIES = {
    "kmeans": _family_kmeans,
    "gmm": _family_gmm,
    "kmodes": _family_kmodes,
    "rules_based": _family_rules,
    "lca": _family_lca,
}

# monotone id distinguishing concurrent run_scheme calls' job groups
_RUN_COUNTER = itertools.count()


def _daemonize_current_thread() -> None:
    """ThreadPoolExecutor initializer: mark the pool's worker threads
    daemon so an abandoned (timed-out) fit thread cannot keep the
    interpreter alive through ``threading._shutdown``'s non-daemon
    join. The public ``daemon`` setter refuses on a live thread, so
    this sets the underlying flag directly — the thread is ours and
    has not started any work yet (initializers run first)."""
    threading.current_thread()._daemonic = True


def _abandon_pool_threads(pool: ThreadPoolExecutor) -> None:
    """Deregister a timed-out pool's workers from concurrent.futures'
    atexit bookkeeping (``_python_exit`` joins every registered worker
    at interpreter exit — exactly the hang the watchdog exists to
    avoid). Paired with the daemon flag above, a fit stuck in pure
    driver-side Python can no longer block exit; its cancelled Spark
    jobs have already been interrupted via the job group."""
    import concurrent.futures.thread as _cft

    for t in getattr(pool, "_threads", ()):
        _cft._threads_queues.pop(t, None)


def _algorithms(cfg: SegmentationConfig) -> list[str]:
    """The families each scheme runs, in order."""
    return list(cfg.algorithms) + (["lca"] if cfg.include_lca else [])


def _failed(algo: str, error: str) -> dict:
    """The result of a family that failed: no labels, the reason in its
    metrics. The scheme's other families still finish."""
    return {"labels": None, "metrics": {"algorithm": algo, "error": error}}


def run_scheme(
    spark: SparkSession,
    cleaned: DataFrame,
    scheme_cols: list[str],
    cfg: SegmentationConfig,
) -> dict:
    """One segmentation scheme: families -> inference -> metrics
    (clustering.py:1079-1138)."""
    # one column profile of the scheme columns and the rules column:
    # the code maps, and the numeric-vs-categorical sniff on the
    # PRE-encoded data (the reference detects dtypes on self.data,
    # clustering.py:207-234) that drives the kmodes/kprototypes and
    # pure/mixed-LCA family dispatch
    enc_cols = list(scheme_cols)
    if cfg.rules_col in cleaned.columns and cfg.rules_col not in enc_cols:
        enc_cols.append(cfg.rules_col)
    code_maps, numeric = FE.build_code_maps(cleaned, enc_cols)
    encoded = FE.label_encode(cleaned, enc_cols, code_maps=code_maps).cache()
    try:
        return _run_families(
            spark, cleaned, encoded, scheme_cols, code_maps, numeric, cfg
        )
    finally:
        encoded.unpersist()


def _run_families(
    spark: SparkSession,
    cleaned: DataFrame,
    encoded: DataFrame,
    scheme_cols: list[str],
    code_maps: dict[str, dict[str, int]],
    numeric: list[str],
    cfg: SegmentationConfig,
) -> dict:
    """:func:`run_scheme`'s fit and finalize phases over the scheme's
    cached encoded table, whose ``code_maps`` columns hold codes."""
    num_cols = [c for c in numeric if c in scheme_cols]
    algos = _algorithms(cfg)
    sc = spark.sparkContext
    # scheme-unique token: job groups are context-global, so two
    # concurrent run_scheme calls must not share group names (one
    # scheme's timeout would cancel the other's jobs)
    run_id = next(_RUN_COUNTER)

    def run_family(algo: str):
        # job group tagged per (run, family) so a timeout can cancel
        # exactly this family's in-flight Spark jobs (thread-local
        # property — PySpark pins driver threads to JVM threads by
        # default)
        sc.setJobGroup(
            f"scheme{run_id}:family:{algo}",
            f"segmentation family {algo}",
            interruptOnCancel=True,
        )
        return _FAMILIES[algo](encoded, scheme_cols, cfg, num_cols)

    import time as _time

    deadline = _time.monotonic() + cfg.fit_timeout_secs
    # daemon worker threads: a fit stuck in pure driver-side Python
    # (not in a cancellable Spark job) must not block interpreter exit
    # through ThreadPoolExecutor's atexit join
    pool = ThreadPoolExecutor(
        max_workers=len(algos),
        thread_name_prefix=f"scheme{run_id}-fit",
        initializer=_daemonize_current_thread,
    )
    futures = {a: pool.submit(run_family, a) for a in algos}
    results = {}
    pending = []
    timed_out = False
    for algo in algos:
        try:
            name, fit = futures[algo].result(
                timeout=max(0.0, deadline - _time.monotonic())
            )
        # concurrent.futures.TimeoutError explicitly: it only aliases
        # builtin TimeoutError on Python >= 3.11, and this module does
        # not pin the interpreter
        except FutureTimeoutError:
            sc.cancelJobGroup(f"scheme{run_id}:family:{algo}")
            timed_out = True
            results[algo] = _failed(
                algo, f"fit timed out after {cfg.fit_timeout_secs:g}s"
            )
            continue
        except Exception as exc:  # contained like a timeout
            _LOG.exception("family %s: fit failed", algo)
            results[algo] = _failed(algo, f"{type(exc).__name__}: {exc}")
            continue
        if fit is None:
            results[name] = {
                "labels": None,
                "metrics": {"algorithm": name, "n_clusters": "no balanced clustering"},
            }
        else:
            pending.append((name, fit))
    # don't block on a timed-out family's thread: cancelled Spark jobs
    # unwind it promptly, and a (hypothetical) pure-driver loop must not
    # stall the scheme — the reference's timeout likewise abandons the
    # R process (clustering.py:884-891)
    pool.shutdown(wait=False, cancel_futures=True)
    if timed_out:
        _abandon_pool_threads(pool)

    def finalize_family(algo: str, fit: dict) -> dict:
        sc.setJobGroup(
            f"scheme{run_id}:finalize:{algo}",
            f"inference + metrics for {algo}",
            interruptOnCancel=True,
        )
        labeled = fit["labels"]
        # inference runs on the ORIGINAL (string) answers + prediction
        with_pred = cleaned.join(
            labeled.select(cfg.id_col, "prediction"), cfg.id_col
        )

        tables = None

        def infer() -> DataFrame:
            nonlocal tables
            tables = contingency_tables(
                with_pred,
                cluster_col="prediction",
                variables=scheme_cols,
                weight_col=cfg.weight_col,
                id_vars=[cfg.id_col],
            )
            return deliver_stats(tables, alpha=1 - cfg.conf_interval)

        feats = FE.assemble_array(encoded, scheme_cols).join(
            labeled.select(cfg.id_col, "prediction"), cfg.id_col
        )
        tgt_idx = [i for i, c in enumerate(scheme_cols) if "tgt" in c.lower()]
        # the inference chain runs beside get_all_metrics' table collect;
        # leaving the block joins it, so when a metric raises no Spark
        # job of this family outlives it
        with ThreadPoolExecutor(
            max_workers=1, thread_name_prefix=f"scheme{run_id}-infer"
        ) as pool:
            deliver = pool.submit(inheritable_thread_target(spark)(infer))
            metrics = get_all_metrics(
                feats,
                # resolves to a local frame: collecting its rows runs no
                # Spark job
                deliver=deliver,
                tgt_idx=tgt_idx,
                n_seed=fit.get("seed"),
                # social presence decodes the scheme's coded `mc_`
                # answers: label codes can never contain 'facebook'
                # (metrics.py:840 full_data)
                code_maps=code_maps,
            )
        deliver = deliver.result()
        metrics["algorithm"] = algo
        # the reference's return_API_data triple (chisquared_tester.py:
        # 1762-1793), all local frames from the tables' one collect
        return {
            "labels": labeled,
            "deliver": deliver,
            "discover": discover_stats(deliver),
            "mode_list": cluster_mode_list(tables),
            "metrics": metrics,
        }

    def finalize_contained(algo: str, fit: dict) -> dict:
        try:
            return finalize_family(algo, fit)
        except Exception as exc:  # one family failing leaves the others
            _LOG.exception("family %s: inference or metrics failed", algo)
            return _failed(algo, f"{type(exc).__name__}: {exc}")

    # Inference + metrics for the surviving families run CONCURRENTLY,
    # mirroring the fit phase above, and within a family its two Spark
    # reads overlap too: the inference chain (cells -> deliver) on one
    # worker, and the pattern-table collect that every metric of the
    # family is computed from, both under the family's job group. Each
    # read is a few small Spark jobs, so one after another they would
    # leave the executors idle. Families share only read-only parent
    # frames (the cleaned/encoded caches).
    if pending:
        finalize_pool = ThreadPoolExecutor(
            max_workers=len(pending),
            thread_name_prefix=f"scheme{run_id}-finalize",
        )
        try:
            futs = {
                algo: finalize_pool.submit(finalize_contained, algo, fit)
                for algo, fit in pending
            }
            for algo, fut in futs.items():
                results[algo] = fut.result()
        finally:
            finalize_pool.shutdown(wait=True)
    return results


def run_all_segmentations(
    spark: SparkSession,
    responses: DataFrame,
    cfg: SegmentationConfig,
    questions: DataFrame | None = None,
    output_dir: str | None = None,
) -> dict:
    """The full main.py:45-183 flow. Returns
    {scheme: {algorithm: {labels, deliver, discover, mode_list, metrics}}};
    optionally writes metrics CSV + deliver/discover Parquet, each from
    the driver (``sources.io``: a local frame's sink starts no job)."""
    cleaned = CL.clean_responses(responses, questions=questions).cache()
    all_results: dict = {}
    try:
        excluded = CL.inference_excluded_cols(
            cleaned.columns, weight_col=cfg.weight_col
        )
        for scheme, fragments in (cfg.schemes or {"all": ["all"]}).items():
            cols = select_scheme_columns(cleaned, fragments, cfg.id_col)
            cols = [c for c in cols if c not in excluded]
            if not cols:
                # nothing to profile or fit: each family fails, and the
                # survey's other schemes still run
                _LOG.warning("scheme %s matches no column", scheme)
                all_results[scheme] = {
                    algo: _failed(algo, f"scheme '{scheme}' matches no column")
                    for algo in _algorithms(cfg)
                }
                continue
            all_results[scheme] = run_scheme(spark, cleaned, cols, cfg)
    finally:
        cleaned.unpersist()

    if output_dir:
        metrics_rows = []
        for scheme, by_algo in all_results.items():
            for algo, res in by_algo.items():
                m = res["metrics"]
                metrics_rows.append(
                    (
                        cfg.survey_name,
                        scheme,
                        algo,
                        float(m.get("silhouette") or 0.0),
                        float(m.get("davies_bouldin") or 0.0),
                        float(m.get("calinski_harabasz") or 0.0),
                        str(m.get("n_clusters")),
                    )
                )
                if res.get("deliver") is not None:
                    IO.write_parquet(
                        res["deliver"], f"{output_dir}/{scheme}/{algo}/deliver"
                    )
                    IO.write_parquet(
                        res["discover"],
                        f"{output_dir}/{scheme}/{algo}/discover",
                    )
        metrics_df = local_frame(
            spark,
            "survey: string, scheme: string, algorithm: string, "
            "silhouette: double, davies_bouldin: double, "
            "calinski_harabasz: double, n_clusters: string",
            metrics_rows,
        )
        IO.write_csv_single(metrics_df, f"{output_dir}/metrics_csv")
    return all_results
