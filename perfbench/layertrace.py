"""Outside-in tracer for the traced benchmark run.

Spans are recorded by wrapping functions at module attributes, so the
program gains no instrumentation. Every binding of a wrapped function in
the package is patched, including names imported into other modules
(``pipeline.deliver_stats``, ``clustering.label_encode``), and calls made
inside a module go through its patched globals, so nested calls are
traced too. The families of ``pipeline._FAMILIES`` are wrapped as
``pipeline.fit.<family>``.

Spans stay in memory (name, layer, start, end, parent, survey, thread,
job group) and are written once, by :meth:`Tracer.dump`. To keep
parents across the program's thread pools, ``ThreadPoolExecutor.submit``
is wrapped too: a task runs with the submitting thread's innermost open
span as the parent of the spans it opens.

Spark jobs are read from the status store after the run and attributed
to a layer, in this order:

1. call site: the Python file in the job's call-site name, when it is
   a module of a traced layer;
2. the innermost span open at submission time on a thread whose job
   group equals the job's group (the job group is read from the thread's
   local properties when a span opens);
3. the pipeline's job groups ``scheme{n}:family:{algo}`` for family
   fits whose jobs ran in MLlib or broadcast threads;
4. otherwise the job is unattributed and counted as such.

A lazy DataFrame runs its jobs where an action fires, so a layer that
only builds plans has ``job_s`` near 0 and the consuming layer carries
the jobs.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

PKG = "qudo_etl_pipeline_spark"

# layer name -> module path; a layer is named after its module
LAYERS = {
    "operators.cleaning": f"{PKG}.operators.cleaning",
    "ml.features": f"{PKG}.ml.features",
    "ml.clustering": f"{PKG}.ml.clustering",
    "ml.kmodes": f"{PKG}.ml.kmodes",
    "ml.lca": f"{PKG}.ml.lca",
    "operators.contingency": f"{PKG}.operators.contingency",
    "ml.business": f"{PKG}.ml.business",
    "ml.quality": f"{PKG}.ml.quality",
    "ml.signal": f"{PKG}.ml.signal",
    "sources.io": f"{PKG}.sources.io",
    "workqueue": f"{PKG}.workqueue",
}
_LAYER_OF = {modname: layer for layer, modname in LAYERS.items()}
FAMILIES = ("kmeans", "gmm", "kmodes", "rules_based", "lca")
# job group family -> the layer that fits it
FAMILY_LAYER = {
    "kmeans": "ml.clustering",
    "gmm": "ml.clustering",
    "rules_based": "ml.clustering",
    "kmodes": "ml.kmodes",
    "lca": "ml.lca",
}
HOT = (
    "operators.contingency.deliver_stats",
    "ml.clustering.gmm_multi_seed",
    "ml.signal.signal_loss",
)
FITS = ("ml.clustering.kmeans_fit", "ml.clustering.gmm_fit")
_CALLSITE = re.compile(r" at (\S+\.py):\d+")
_GROUP = re.compile(r"^scheme\d+:family:(\w+)$")


class Span:
    __slots__ = (
        "idx", "name", "layer", "start", "end", "parent", "survey",
        "thread", "group", "raised", "returned_none",
    )

    def __init__(self, idx, name, layer, parent, survey, thread, group):
        self.idx, self.name, self.layer = idx, name, layer
        self.parent, self.survey = parent, survey
        self.thread, self.group = thread, group
        self.start = time.time()
        self.end = None
        self.raised = False
        self.returned_none = False


class Tracer:
    """Wraps the layers, records spans, attributes Spark jobs."""

    def __init__(self, sc):
        self._sc = sc
        self._lock = threading.Lock()
        self._spans: list[Span] = []
        self._stacks: dict[int, list[Span]] = {}
        self._patched: list[tuple[object, str, object]] = []
        self._inherited = threading.local()
        self.survey = None

    # -- wrapping ---------------------------------------------------------

    def install(self) -> None:
        import importlib

        wrappers = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == modname
                    and not name.startswith("_")
                ):
                    wrappers[id(fn)] = self._wrap(fn, layer, f"{layer}.{name}")
        pipeline = importlib.import_module(f"{PKG}.pipeline")
        for name in ("run_all_segmentations", "run_scheme"):
            fn = getattr(pipeline, name)
            wrappers[id(fn)] = self._wrap(fn, "pipeline", f"pipeline.{name}")
        # every binding of a wrapped function, wherever it was imported
        for modname, mod in list(sys.modules.items()):
            if modname != PKG and not modname.startswith(PKG + "."):
                continue
            for name, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    self._patch(mod, name, w)
        self._patch(
            ThreadPoolExecutor, "submit", self._wrap_submit(ThreadPoolExecutor.submit)
        )
        fams = pipeline._FAMILIES
        for algo in FAMILIES:
            self._patch(
                fams, algo,
                self._wrap(fams[algo], "pipeline", f"pipeline.fit.{algo}"),
                item=True,
            )

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            if isinstance(owner, dict):
                owner[name] = orig
            else:
                setattr(owner, name, orig)
        self._patched.clear()

    def _patch(self, owner, name, wrapper, item=False) -> None:
        if item:
            self._patched.append((owner, name, owner[name]))
            owner[name] = wrapper
        else:
            self._patched.append((owner, name, getattr(owner, name)))
            setattr(owner, name, wrapper)

    def _wrap(self, fn, layer, qualname):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer._open(qualname, layer)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                span.raised = True
                raise
            finally:
                tracer._close(span)
            span.returned_none = out is None
            return out

        return traced

    def _wrap_submit(self, submit):
        tracer = self

        @functools.wraps(submit)
        def traced_submit(pool, fn, /, *args, **kwargs):
            stack = tracer._stacks.get(threading.get_ident())
            parent = stack[-1] if stack else tracer._inherit()

            def task(*a, **k):
                prev = tracer._inherit()
                tracer._inherited.span = parent
                try:
                    return fn(*a, **k)
                finally:
                    tracer._inherited.span = prev

            return submit(pool, task, *args, **kwargs)

        return traced_submit

    def _inherit(self):
        return getattr(self._inherited, "span", None)

    def _open(self, name, layer) -> Span:
        tid = threading.get_ident()
        group = self._sc.getLocalProperty("spark.jobGroup.id")
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            parent = stack[-1] if stack else self._inherit()
            span = Span(
                len(self._spans), name, layer,
                parent.idx if parent is not None else None,
                self.survey, tid, group,
            )
            self._spans.append(span)
            stack.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        with self._lock:
            stack = self._stacks[span.thread]
            stack.remove(span)

    # -- spark ------------------------------------------------------------

    def spark_state(self) -> tuple[list[dict], list[dict]]:
        """(jobs, stages) from the status store, as JSON-decoded dicts."""
        store = self._sc._jsc.sc().statusStore()
        stages = store.stageList(
            None, False, False,
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")(),
        )
        return _to_json(self._sc, store.jobsList(None)), _to_json(self._sc, stages)

    # -- output -----------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self._spans:
                fh.write(json.dumps({
                    "name": s.name, "layer": s.layer, "start": s.start,
                    "end": s.end, "parent": s.parent, "survey": s.survey,
                    "thread": s.thread, "group": s.group,
                    "raised": s.raised,
                }) + "\n")

    def layer_metrics(
        self, jobs: list[dict], stages: list[dict], since: float,
        until: float, cores: int,
    ) -> dict[str, float]:
        """Per-layer, hot-function, pipeline and spark figures for the
        jobs submitted in [since, until]."""
        # a span of a thread abandoned by a fit timeout never closes; it
        # counts until the last drain ended
        spans = self._spans
        for s in spans:
            if s.end is None:
                s.end = until
        jobs = [
            j for j in jobs
            if since <= _ts(j.get("submissionTime")) <= until
        ]
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        excl = {
            s.idx: (s.end - s.start) - _covered(s, children.get(s.idx, []))
            for s in spans
        }

        job_layer, job_span = {}, {}
        unattributed = 0
        for j in jobs:
            span = _span_at(spans, _ts(j["submissionTime"]), j.get("jobGroup"))
            layer = _callsite_layer(j.get("name", ""))
            if layer is not None:
                # the innermost open span of that layer owns the job
                while span is not None and span.layer != layer:
                    span = None if span.parent is None else spans[span.parent]
            elif span is not None:
                layer = span.layer
            else:
                m = _GROUP.match(j.get("jobGroup") or "")
                layer = FAMILY_LAYER.get(m.group(1)) if m else None
            if layer is None:
                unattributed += 1
                continue
            job_layer[j["jobId"]] = layer
            if span is not None:
                job_span[j["jobId"]] = span.idx
        dur = {j["jobId"]: _job_s(j) for j in jobs}

        out: dict[str, float] = {}
        for layer in LAYERS:
            own = [s for s in spans if s.layer == layer]
            bound = [
                s for s in own
                if s.parent is None or spans[s.parent].layer != layer
            ]
            jl = [jid for jid, lay in job_layer.items() if lay == layer]
            self_s = sum(excl[s.idx] for s in own)
            job_s = sum(dur[jid] for jid in jl)
            out[f"{layer}.calls"] = len(bound)
            out[f"{layer}.wall_s"] = sum(s.end - s.start for s in bound)
            out[f"{layer}.self_s"] = self_s
            out[f"{layer}.spark_jobs"] = len(jl)
            out[f"{layer}.job_s"] = job_s
            out[f"{layer}.driver_s"] = self_s - job_s
            out[f"{layer}.errors"] = sum(s.raised for s in bound)

        for fn in HOT:
            own = [s for s in spans if s.name == fn]
            ids = {s.idx for s in own}
            out[f"{fn}.wall_s"] = sum(s.end - s.start for s in own)
            if fn == "operators.contingency.deliver_stats":
                job_s = sum(
                    dur[jid] for jid, sidx in job_span.items() if sidx in ids
                )
                out[f"{fn}.driver_s"] = sum(excl[i] for i in ids) - job_s
        fits = [s for s in spans if s.name in FITS]
        kept = sum(not s.raised and not s.returned_none for s in fits)
        # 0 when the workload attempts no kmeans/gmm fit
        out["ml.clustering.fits_kept_frac"] = kept / len(fits) if fits else 0.0
        for algo in FAMILIES:
            out[f"pipeline.fit.{algo}_s"] = sum(
                s.end - s.start for s in spans
                if s.name == f"pipeline.fit.{algo}"
            )
        out["pipeline.self_s"] = sum(
            excl[s.idx] for s in spans if s.layer == "pipeline"
        )

        stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        run = [
            st for st in stages
            if st["stageId"] in stage_ids and st.get("status") != "SKIPPED"
        ]
        exec_s = sum(st.get("executorRunTime", 0) for st in run) / 1000.0
        out["spark.jobs"] = len(jobs)
        out["spark.stages"] = len(run)
        out["spark.tasks"] = sum(st.get("numTasks", 0) for st in run)
        out["spark.executor_run_s"] = exec_s
        out["spark.core_busy_frac"] = exec_s / (cores * (until - since))
        out["spark.shuffle_write_mb"] = sum(
            st.get("shuffleWriteBytes", 0) for st in run
        ) / 1e6
        out["spark.failed_tasks"] = sum(
            st.get("numFailedTasks", 0) for st in run
        )
        out["spark.unattributed_jobs_frac"] = (
            unattributed / len(jobs) if jobs else 0.0
        )
        return out


def _covered(span: Span, kids: list[Span]) -> float:
    """Length of the part of ``span`` that its child spans cover."""
    ivs = sorted(
        (max(k.start, span.start), min(k.end, span.end)) for k in kids
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _span_at(spans: list[Span], t: float, group):
    """Innermost (latest-started) span open at ``t`` on a thread whose
    job group is ``group``."""
    best = None
    for s in spans:
        if s.group == group and s.start <= t <= s.end:
            if best is None or s.start > best.start:
                best = s
    return best


def _callsite_layer(name: str):
    m = _CALLSITE.search(name)
    if not m:
        return None
    path = m.group(1).replace("\\", "/")
    i = path.rfind(f"/{PKG}/")
    if i < 0:
        return None
    return _LAYER_OF.get(path[i + 1:].removesuffix(".py").replace("/", "."))


def _ts(value) -> float:
    """Status-store date ("2026-01-01T00:00:00.000GMT") -> epoch seconds."""
    if not value:
        return 0.0
    return datetime.strptime(
        value.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


def _job_s(job: dict) -> float:
    start, end = _ts(job.get("submissionTime")), _ts(job.get("completionTime"))
    return max(0.0, end - start) if start and end else 0.0


def _to_json(sc, seq) -> list[dict]:
    """Serialize a Scala Seq of status-store records inside the JVM (one
    py4j call) with Jackson and Spark's REST date format."""
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = jvm.java.lang.Class.forName(
        "com.fasterxml.jackson.module.scala.DefaultScalaModule$"
    ).getField("MODULE$").get(None)
    mapper.registerModule(scala_module)
    mapper.setDateFormat(
        jvm.org.apache.spark.status.api.v1.JacksonMessageWriter.makeISODateFormat()
    )
    data = jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
    return json.loads(mapper.writeValueAsString(data))
