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
   from the family's cell table (§3.3 single-shuffle plan), and
   get_all_metrics                            (main.py:158; metrics.py:814-911)
   — quality, social presence, magnitude and signal loss from the
   family's labelled pattern table, computed on the driver
6. sinks: metrics CSV + per-scheme Parquet results replacing the
   reference's pickles                        (main.py:160-182; SURVEY S5-S7)
   — every table is a local frame, written from the driver with no
   Spark job, one file per table as the reference's pandas calls write

Every crosstab, fit and metric of a scheme is a sum over the survey's
answer patterns, so a scheme reads its data through ONE aggregate, its
scheme table (``features.scheme_table``: the full patterns of the
scheme, rules and `mc_` columns, with count, weight sum and least id).
Projected on each column, its rows give the code maps and the numeric
sniff; the kmodes / kprototypes / LCA fits and the rules codes run on
them; each family labels the patterns with its own row expression,
applied to them as a local frame (no Spark job), so a pattern's label
is its rows' label; and the family's chi² cells and metric table are
sums over the labelled patterns. Above ``features.PATTERN_THRESHOLD``
full patterns the metrics read the table's priority sample, the fits
read the scheme columns' own table (itself a priority sample only when
those patterns overflow too), and the cells come exact from one Spark
aggregate of the labelled rows. Every family fits, labels and
finalizes through this one device: kmodes / kprototypes, LCA, the rules
codes, and kmeans+PCA and the Gaussian mixture (``ml.clustering``), all
fitted on the driver with no Spark job.

The reference forks joblib child processes per family and re-pickles
the table into each (clustering.py:1085-1088); here the families fit
concurrently from driver threads over the one scheme table, and
finalize concurrently as well.
"""

from __future__ import annotations

import itertools
import logging
import threading
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FutureTimeoutError
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import SparkContext
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
    pattern_tables,
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


@dataclass
class _Scheme:
    """What a scheme's families read: the encoded rows (the cleaned
    table, scheme and rules columns as label codes; lazy, what each
    family's returned labels read), the scheme table's full patterns
    with the same columns coded (what each family labels), and the coded
    rows the fits read (those patterns, or above the threshold the
    scheme columns' own table)."""

    encoded: DataFrame
    patterns: list[dict]
    fit_rows: list[dict]


def _family_kmeans(
    scheme: _Scheme,
    cols: list[str],
    cfg: SegmentationConfig,
    num_cols: list[str],
):
    fit = C.kmeans_table(
        scheme.fit_rows, cols, ks=cfg.ks or [3, 4, 5], seeds=cfg.seeds or [1, 42, 100]
    )
    return ("kmeans_and_pca", fit)


def _family_gmm(
    scheme: _Scheme,
    cols: list[str],
    cfg: SegmentationConfig,
    num_cols: list[str],
):
    fit = C.gmm_table(
        scheme.fit_rows, cols, k=(cfg.ks or [3])[0], seeds=cfg.seeds or [42, 100]
    )
    return ("bmm", fit)


def _family_kmodes(
    scheme: _Scheme,
    cols: list[str],
    cfg: SegmentationConfig,
    num_cols: list[str],
):
    # kmodes-vs-kprototypes by presence of numeric columns
    # (clustering.py:220-234): numeric features switch the family to the
    # mixed-distance variant, like the reference's dispatch
    cat = [c for c in cols if c not in num_cols]
    fit = KM.kmodes_table(
        scheme.fit_rows, cat, k=(cfg.ks or [3])[0], num_cols=num_cols
    )
    fit["seed"] = None
    return ("kprototypes" if num_cols else "kmodes", fit)


def _family_rules(
    scheme: _Scheme,
    cols: list[str],
    cfg: SegmentationConfig,
    num_cols: list[str],
):
    if not cfg.rules_col:
        return ("rules_based", None)

    # labels = the rules column's sorted-value codes (M9), which the
    # scheme's label encode already holds
    def label(df: DataFrame) -> DataFrame:
        return df.withColumn(C.PREDICTION, F.col(cfg.rules_col))

    return ("rules_based", {"label": label, "k": None, "seed": None})


def _family_lca(
    scheme: _Scheme,
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
    # restart sensitivity. n_rep=3 (``lca_select``'s own default: seeds
    # 42..44) is kept as robustness margin: the whole k x restart grid
    # fits driver-side over the scheme table's patterns, so extra
    # restarts cost no Spark work (measured: n_rep=10 within noise of
    # n_rep=1).
    fit = LCA.lca_table(
        scheme.fit_rows, cat, ks=cfg.ks or [3], seeds=[42, 43, 44],
        max_iter=30, num_cols=num_cols,
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


@contextmanager
def _job_group(sc: SparkContext, group: str, description: str):
    """Run the block's Spark jobs under the job group ``group``, which
    cancelling the group interrupts; the thread's previous group is
    restored after."""
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    prev = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, description, interruptOnCancel=True)
    try:
        yield
    finally:
        for k, v in zip(keys, prev):
            sc.setLocalProperty(k, v)


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


def _label_patterns(
    spark: SparkSession, label, patterns: list[dict], cols: list[str]
) -> list[tuple]:
    """(index, prediction, prediction as a string) of each pattern a
    family's row expression ``label`` keeps, in pattern order: ``label``
    runs over the patterns' coded ``cols`` as a local frame, typed as the
    encoded rows, so it costs no Spark job and gives every pattern the
    label of its rows."""
    frame = local_frame(
        spark,
        ", ".join(["_i: int", *(f"`{c.replace('`', '``')}`: int" for c in cols)]),
        [(i, *(p[c] for c in cols)) for i, p in enumerate(patterns)],
    )
    pred = F.col(C.PREDICTION)
    return sorted(label(frame).select("_i", pred, pred.cast("string")).collect())


def _metric_rows(
    coded: list[dict], labels: list[tuple], cols: list[str], cands: list[str]
) -> list[dict]:
    """The metrics' pattern table of the ``labels`` of coded patterns:
    (codes of ``cols`` as ``features``, the `mc_` columns ``cands``,
    prediction) with row count ``_w``."""
    rows = [
        {
            "features": tuple(
                None if coded[i][c] is None else float(coded[i][c]) for c in cols
            ),
            **{c: coded[i][c] for c in cands},
            C.PREDICTION: k,
            "_n": coded[i]["_n"],
        }
        for i, k, _ in labels
    ]
    return FE.group_patterns(rows, ["features", *cands, C.PREDICTION])


def run_scheme(
    spark: SparkSession,
    cleaned: DataFrame,
    scheme_cols: list[str],
    cfg: SegmentationConfig,
) -> dict:
    """One segmentation scheme: families -> inference -> metrics
    (clustering.py:1079-1138), all from one scheme table: the full
    patterns of the scheme columns, the rules column and every `mc_`
    column, and the column profile of the scheme and rules columns (the
    code maps, and the numeric-vs-categorical sniff on the PRE-encoded
    data — the reference detects dtypes on self.data,
    clustering.py:207-234 — that drives the kmodes/kprototypes and
    pure/mixed-LCA family dispatch)."""
    enc_cols = list(scheme_cols)
    if cfg.rules_col in cleaned.columns and cfg.rules_col not in enc_cols:
        enc_cols.append(cfg.rules_col)
    cands = [c for c in cleaned.columns if "mc_" in c]
    run_id = next(_RUN_COUNTER)
    with _job_group(
        spark.sparkContext, f"scheme{run_id}:table", "the scheme table"
    ):
        table = FE.scheme_table(
            cleaned,
            list(dict.fromkeys(enc_cols + cands)),
            weight_col=cfg.weight_col,
            id_col=cfg.id_col,
        )
        patterns = table.coded(enc_cols)
        fit_rows = patterns
        if not table.exact:
            # the fits read the scheme columns' own table, exact whenever
            # their patterns fit the threshold; it takes the scheme
            # table's exact profile, so its codes are the scheme table's
            # and it reads no profile of its own
            fit_rows = FE.scheme_table(
                cleaned, scheme_cols, id_col=cfg.id_col,
                profile=(table.code_maps, table.numeric),
            ).coded(scheme_cols)
    encoded = FE.label_encode(cleaned, enc_cols, code_maps=table.code_maps)
    scheme = _Scheme(encoded, patterns, fit_rows)
    num_cols = [c for c in table.numeric if c in scheme_cols]
    algos = _algorithms(cfg)
    sc = spark.sparkContext
    # job groups are context-global, so two concurrent run_scheme calls
    # must not share group names (one scheme's timeout would cancel the
    # other's jobs): each carries the scheme's run id

    def run_family(algo: str):
        # job group tagged per (run, family) so a timeout can cancel
        # exactly this family's in-flight Spark jobs (thread-local
        # property — PySpark pins driver threads to JVM threads by
        # default)
        with _job_group(
            sc, f"scheme{run_id}:family:{algo}", f"segmentation family {algo}"
        ):
            return _FAMILIES[algo](scheme, scheme_cols, cfg, num_cols)

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

    tgt_idx = [i for i, c in enumerate(scheme_cols) if "tgt" in c.lower()]
    code_maps = {c: table.code_maps[c] for c in enc_cols}

    def finalize_family(algo: str, fit: dict) -> dict:
        # every family's row expression labels the scheme table's
        # patterns (exact or sampled), and the encoded rows lazily
        labeled = fit["label"](scheme.encoded)
        labels = _label_patterns(spark, fit["label"], scheme.patterns, enc_cols)
        if table.exact:
            tables = pattern_tables(
                spark,
                [table.rows[i] | {C.PREDICTION: k, "_seg": seg} for i, k, seg in labels],
                scheme_cols,
                weighted=cfg.weight_col is not None,
            )
        else:
            # exact cells of the labelled rows, on the ORIGINAL (string)
            # answers: one Spark aggregate
            with_pred = cleaned.join(
                labeled.select(cfg.id_col, C.PREDICTION), cfg.id_col
            )
            tables = contingency_tables(
                with_pred,
                cluster_col=C.PREDICTION,
                variables=scheme_cols,
                weight_col=cfg.weight_col,
                id_vars=[cfg.id_col],
            )
        deliver = deliver_stats(tables, alpha=1 - cfg.conf_interval)
        metrics = get_all_metrics(
            _metric_rows(scheme.patterns, labels, scheme_cols, cands),
            deliver=deliver,
            tgt_idx=tgt_idx,
            n_seed=fit.get("seed"),
            # social presence decodes the scheme's coded `mc_` answers:
            # label codes can never contain 'facebook' (metrics.py:840
            # full_data)
            code_maps=code_maps,
        )
        metrics["algorithm"] = algo
        # the reference's return_API_data triple (chisquared_tester.py:
        # 1762-1793), all local frames from the one cell table
        return {
            "labels": labeled,
            "deliver": deliver,
            "discover": discover_stats(deliver),
            "mode_list": cluster_mode_list(tables),
            "metrics": metrics,
        }

    def finalize_contained(algo: str, fit: dict) -> dict:
        try:
            with _job_group(
                sc, f"scheme{run_id}:finalize:{algo}", f"inference + metrics for {algo}"
            ):
                return finalize_family(algo, fit)
        except Exception as exc:  # one family failing leaves the others
            _LOG.exception("family %s: inference or metrics failed", algo)
            return _failed(algo, f"{type(exc).__name__}: {exc}")

    # Inference + metrics for the surviving families run CONCURRENTLY,
    # mirroring the fit phase above, each under its family's job group.
    # Over the exact scheme table a family's finalize is driver-side
    # work with no Spark job; over the sampled table its cells are one
    # Spark aggregate. Families share only read-only inputs.
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
