"""Survey-segmentation benchmark: one closed-loop client drains a queue.

    python3 perfbench/run.py --workload segment_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run generates its
surveys from ``--seed``, stores each as Parquet and lists it in a JSON
queue document, then drains the queue the way the reference's poller
does: read the survey with ``sources.io.read_parquet``, segment it with
``pipeline.run_all_segmentations`` (sinks written), mark it processed with
``workqueue.mark_processed``, and only then take the next one. Drains
repeat with fresh surveys until ``--seconds`` have been measured; the
first always runs. Every output is checked (checks.py).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` (results, one per survey x scheme x family) and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of the
outside-in tracer (layertrace.py) with ``--trace 1``. NOTES.md describes the
workloads and what each metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4

# Each workload: respondents and families ("lca" sets include_lca). All
# surveys have 6 question columns, 2 of them the duplicated block, and
# every family fits k = survey_gen.N_CLASSES. The fit timeout is one
# constant so that both sides of a comparison use the same one; a family
# that hangs costs at most this and counts failed. NOTES.md says why
# each workload has this size and these families, and why gmm_dup is not
# in BENCHMARK.json.
WORKLOADS = {
    "segment_full": dict(n=1000, families=("kmodes", "lca")),
    "infer_large": dict(n=20_000, families=("rules_based",)),
    "gmm_dup": dict(n=500, families=("gmm",)),
}
QUESTIONS, DUP = 6, 2
FIT_TIMEOUT_S = 30.0
# the traced run's spans, one JSON object a line, kept after the run
SPANS_FILE = ".perfbench_spans.jsonl"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _survey_seed(seed: int, drain: int) -> int:
    import numpy as np

    ss = np.random.SeedSequence(entropy=seed, spawn_key=(drain,))
    return int(ss.generate_state(1)[0])


# -- process accounting -------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _tree_cpu_s(root: int) -> float:
    """user+sys CPU of ``root`` and its live descendants, plus what their
    reaped children used."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids.setdefault(int(_stat(int(d))[1]), []).append(int(d))
            except (OSError, IndexError):
                pass
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        try:
            f = _stat(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15]) / _CLK
        todo += kids.get(pid, [])
    return total


def _cpu_s(jvm_pid: int) -> float:
    t = os.times()
    return t.user + t.system + _tree_cpu_s(jvm_pid)


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def _tasks_running(spark) -> int:
    st = spark.sparkContext.statusTracker()
    running = 0
    for sid in st.getActiveStageIds():
        info = st.getStageInfo(sid)
        if info is not None:
            running += info.numActiveTasks
    return running


def _dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 1e6


# -- session ------------------------------------------------------------------


def _start_spark(work: str):
    from qudo_etl_pipeline_spark import session

    return session.get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'derby')}"
            ),
            "spark.ui.showConsoleProgress": "false",
            # the tracer reads every job and stage of the run back from
            # the status store; untraced runs keep the same setting
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the context and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- the client ---------------------------------------------------------------


def _enqueue(work: str, drain: int, seed: int, wl: dict) -> tuple[str, dict]:
    """Generate one survey, store it as Parquet, write the queue document
    listing it. Returns (queue path, name -> (frame, planted))."""
    from survey_gen import make_survey

    qdir = os.path.join(work, f"drain{drain}")
    os.makedirs(qdir)
    name = f"survey_{drain}"
    pdf, planted = make_survey(wl["n"], QUESTIONS, DUP, _survey_seed(seed, drain))
    path = os.path.join(qdir, name + ".parquet")
    pdf.to_parquet(path, index=False)
    queue = [{"survey_name": name, "path": path, "processed_by": []}]
    data = {name: (pdf, planted)}
    qpath = os.path.join(qdir, "collected_surveys.json")
    with open(qpath, "w") as fh:
        json.dump(queue, fh)
    return qpath, data


def _drain(spark, qpath: str, wl: dict, tracer) -> tuple[list, list[float]]:
    """Closed loop over the queue; returns ([(name, results, out_dir)],
    per-survey seconds)."""
    from qudo_etl_pipeline_spark import pipeline, workqueue
    from qudo_etl_pipeline_spark.sources import io as sio
    from survey_gen import ID_COL, N_CLASSES, RULES_COL, WEIGHT_COL

    done, secs = [], []
    surveys = workqueue.collected_surveys(qpath)
    while (s := workqueue.next_survey(surveys)) is not None:
        name = s["survey_name"]
        if tracer is not None:
            tracer.survey = name
        out_dir = os.path.join(os.path.dirname(qpath), name + "_out")
        responses = sio.read_parquet(spark, s["path"])
        cfg = pipeline.SegmentationConfig(
            survey_name=name,
            schemes={"all": ["all"]},
            weight_col=WEIGHT_COL,
            id_col=ID_COL,
            rules_col=RULES_COL,
            algorithms=tuple(f for f in wl["families"] if f != "lca"),
            include_lca="lca" in wl["families"],
            ks=[N_CLASSES],
            fit_timeout_secs=FIT_TIMEOUT_S,
        )
        t0 = time.perf_counter()
        try:
            results = pipeline.run_all_segmentations(
                spark, responses, cfg, output_dir=out_dir
            )
        except Exception as exc:  # a raising survey counts as failed
            print(f"{name} raised: {exc!r}"[:2000], file=sys.stderr)
            results = None
        secs.append(time.perf_counter() - t0)
        done.append((name, results, out_dir))
        surveys = workqueue.mark_processed(qpath, name)
    return done, secs


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "qudo_etl_pipeline_spark")):
        print(
            "perfbench: run from the root of a repository checkout "
            "(qudo_etl_pipeline_spark/ not found)",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [root, HERE]
    wl = WORKLOADS[args.workload]

    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_MASTER", None)

    import checks
    from survey_gen import N_CLASSES

    phases: dict[str, float] = {}
    # set-up: session.get_spark in a fresh JVM plus one trivial action
    t0 = time.perf_counter()
    spark = _start_spark(work)
    spark.range(1).count()
    setup_s = time.perf_counter() - t0
    try:
        tracer = None
        if args.trace:
            from layertrace import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        gc0 = _gc_s(spark)
        measured = 0.0
        drains: list[tuple[float, float]] = []
        survey_secs: list[float] = []
        outputs = []
        t_first = time.time()
        drain = 0
        while drain == 0 or measured < args.seconds:
            qpath, data = _enqueue(work, drain, args.seed, wl)
            cpu0, d0 = _cpu_s(jvm_pid), time.perf_counter()
            done, secs = _drain(spark, qpath, wl, tracer)
            d_s = time.perf_counter() - d0
            drains.append((d_s, _cpu_s(jvm_pid) - cpu0))
            measured += d_s
            survey_secs += secs
            outputs += [(name, res, out, data[name]) for name, res, out in done]
            drain += 1
        t_last = time.time()
        phases["drains"] = measured
        running_after = _tasks_running(spark) if tracer is not None else 0
        if tracer is not None:
            tracer.uninstall()

        t0 = time.perf_counter()
        attempted = 0
        failures: list[str] = []
        problems: list[str] = []
        for name, res, out, (pdf, planted) in outputs:
            a, f, p = checks.check_survey(name, res, pdf, planted, N_CLASSES, out)
            attempted, failures, problems = attempted + a, failures + f, problems + p
        for f in failures:
            print("result failed:", f, file=sys.stderr)
        for p in problems:
            print("check failed:", p, file=sys.stderr)
        failed = len(failures)
        phases["checks"] = time.perf_counter() - t0

        if tracer is None:
            metrics = {
                "survey_s": (statistics.median(survey_secs), "s"),
                "drain_s": (statistics.median(d for d, _ in drains), "s"),
                "cpu_s": (statistics.median(c for _, c in drains), "s"),
                "setup_s": (setup_s, "s"),
            }
        else:
            jobs, stages = tracer.spark_state()
            tracer.dump(os.path.join(root, SPANS_FILE))
            layer = tracer.layer_metrics(jobs, stages, t_first, t_last, CORES)
            layer["spark.tasks_running_after_run"] = running_after
            layer["session.jvm_peak_rss_mb"] = _peak_rss_mb(jvm_pid)
            layer["session.jvm_gc_s"] = _gc_s(spark) - gc0
            layer["sources.io.bytes_written_mb"] = sum(
                _dir_mb(out) for _, _, out, _ in outputs
            )
            layer["pipeline.family_timeouts"] = sum(
                "timed out" in str(r["metrics"].get("error", ""))
                for _, res, _, _ in outputs if res
                for by_algo in res.values() for r in by_algo.values()
            )
            layer["pipeline.surveys"] = len(survey_secs)
            layer["pipeline.failed_frac"] = failed / attempted
            layer["trace.survey_s"] = statistics.median(survey_secs)
            metrics = {
                k: (v, _unit(k)) for k, v in layer.items()
            }
    finally:
        t0 = time.perf_counter()
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t0
    print(
        f"perfbench: setup {setup_s:.1f}s, "
        + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items())
        + f", surveys {len(survey_secs)}, failed {failed}/{attempted}",
        file=sys.stderr,
    )

    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
        },
    }), flush=True)
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
