"""End-to-end pipeline test (reference: src/kraken/app/main.py:45-183)
on the deterministic survey fixtures, plus the work-queue protocol."""

from __future__ import annotations

import errno
import json
import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from qudo_etl_pipeline_spark import workqueue as WQ
from qudo_etl_pipeline_spark.pipeline import (
    SegmentationConfig,
    run_all_segmentations,
    select_scheme_columns,
)
from tests.fixtures import make_responses


@pytest.fixture(scope="module")
def responses(spark):
    return spark.createDataFrame(make_responses(n=600))


def test_select_scheme_columns(spark, responses):
    cols = select_scheme_columns(responses, ["fin_", "psy_"], "alchemer_id")
    assert set(cols) == {"fin_uk_risk_rb", "fin_uk_goal_fb", "psy_ww_openness_sc"}
    assert "alchemer_id" not in select_scheme_columns(responses, ["all"], "alchemer_id")


def test_end_to_end_segmentation(spark, responses, tmp_path):
    cfg = SegmentationConfig(
        survey_name="fixture_survey",
        schemes={
            "behavioral": [
                "weightgain_", "fin_uk_risk", "tech_", "psy_", "fin_uk_goal",
            ]
        },
        weight_col="weight",
        # configs reference POST-tag names, as the reference's do
        # (main.py applies add_tgt_tag before the segmentation loop)
        rules_col="fin_uk_goal_fb_tgt",
        algorithms=("kmeans", "kmodes", "rules_based"),
        ks=[3],
        seeds=[1, 42],
    )
    out = run_all_segmentations(
        spark, responses, cfg, output_dir=str(tmp_path / "out")
    )
    by_algo = out["behavioral"]
    # the fixture's scheme has numeric columns, so the kmodes family
    # dispatches to kprototypes (clustering.py:220-234 parity)
    assert set(by_algo) == {"kmeans_and_pca", "kprototypes", "rules_based"}
    for algo, res in by_algo.items():
        assert res["labels"] is not None, algo
        m = res["metrics"]
        assert m["algorithm"] == algo
        # every family found planted structure -> some significant vars
        assert res["deliver"].count() > 0, algo
        deliver_cols = set(res["deliver"].columns)
        assert {"q_code", "pop_mode", "chi_2_result", "targeting_seg"} <= deliver_cols
        # p-values significant at alpha=0.05 only
        assert res["deliver"].filter(F.col("chi_2_result") > 0.05).count() == 0
        # return_API_data third element: one modal answer per
        # (cluster, scheme column) plus the cluster column's own row
        ml = res["mode_list"]
        assert set(ml.columns) == {"cluster", "variable", "mode_value"}
        n_clusters = res["labels"].select("prediction").distinct().count()
        assert ml.count() > 0 and ml.count() % n_clusters == 0
        # parity regressions from round-4 review: tgt tagging makes the
        # _fb column a tgt feature (magnitude/signal-loss/message-reach
        # exist), and social presence reads ORIGINAL answers (real
        # shares, not NaN)
        import math as _math

        fb = m["fb_presence"]
        assert isinstance(fb, dict) and fb, algo
        assert all(not _math.isnan(v) for v in fb.values()), (algo, fb)
        assert "magnitude" in m and "signal_loss" in m, algo
        assert "message_reach" in m, algo
    # sinks materialized
    metrics_csv = spark.read.option("header", True).csv(
        str(tmp_path / "out" / "metrics_csv")
    )
    assert metrics_csv.count() == 3
    deliver_rt = spark.read.parquet(
        str(tmp_path / "out" / "behavioral" / "kmeans_and_pca" / "deliver")
    )
    assert deliver_rt.count() == by_algo["kmeans_and_pca"]["deliver"].count()
    # every sink reads back, by Spark and by pandas, equal to the frame
    # the pipeline returns; the CSV's doubles parse to the metrics' floats
    import pandas as pd

    def plain(v):  # a pandas cell as the collected Python value
        v = v.tolist() if hasattr(v, "tolist") else v
        return None if not isinstance(v, list) and pd.isna(v) else v

    for algo, res in by_algo.items():
        for sink in ("deliver", "discover"):
            path = str(tmp_path / "out" / "behavioral" / algo / sink)
            rows = res[sink].collect()
            assert spark.read.parquet(path).collect() == rows, (algo, sink)
            pdf = pd.read_parquet(path)
            assert list(pdf.columns) == res[sink].columns
            got = [tuple(map(plain, t)) for t in pdf.itertuples(index=False)]
            assert got == [tuple(r) for r in rows], (algo, sink)
    for r in metrics_csv.collect():
        m = by_algo[r["algorithm"]]["metrics"]
        for key in ("silhouette", "davies_bouldin", "calinski_harabasz"):
            assert float(r[key]) == float(m.get(key) or 0.0), (r, key)


def test_workqueue_protocol(tmp_path):
    qp = str(tmp_path / "queue.json")
    surveys = [
        {"survey_name": "s1", "processed_by": ["kraken"]},
        {"survey_name": "s2", "processed_by": []},
    ]
    with open(qp, "w") as fh:
        json.dump(surveys, fh)
    loaded = WQ.collected_surveys(qp)
    nxt = WQ.next_survey(loaded)
    assert nxt["survey_name"] == "s1"  # kraken's tag is not ours
    WQ.mark_processed(qp, "s1")
    nxt2 = WQ.next_survey(WQ.collected_surveys(qp))
    assert nxt2["survey_name"] == "s2"
    WQ.mark_processed(qp, "s2")
    assert WQ.next_survey(WQ.collected_surveys(qp)) is None
    assert WQ.collected_surveys(str(tmp_path / "missing.json")) == []


def test_populate_curated_cols(tmp_path):
    """populate_curated_cols_s3 parity: comma-split col lists land at
    the conventional [industry/]curated/segmentation/cols.json paths;
    already-list values pass through (the script's AttributeError
    branch)."""
    import json

    from qudo_etl_pipeline_spark import workqueue as WQ

    meta = [
        {"segmentation": "behavioral", "cols": "q1,q2,q3"},
        {"segmentation": "financial", "cols": ["qa", "qb"]},
        {"industry": "fintech", "segmentation": "risk", "cols": "qx"},
    ]
    paths = WQ.populate_curated_cols(meta, str(tmp_path))
    assert paths == [
        f"{tmp_path}/curated/behavioral/cols.json",
        f"{tmp_path}/curated/financial/cols.json",
        f"{tmp_path}/fintech/curated/risk/cols.json",
    ]
    assert json.load(open(paths[0])) == ["q1", "q2", "q3"]
    assert json.load(open(paths[1])) == ["qa", "qb"]
    assert json.load(open(paths[2])) == ["qx"]


def test_fit_timeout_watchdog(spark, responses, monkeypatch):
    """Reference parity with the hard LCA timeout (reference:
    src/kraken/app/clustering.py:884-891): a family fit exceeding
    cfg.fit_timeout_secs is marked timed-out and the scheme still
    completes with the remaining families."""
    import time

    from qudo_etl_pipeline_spark import pipeline as P

    def slow_family(encoded, cols, cfg, num_cols):
        time.sleep(6)
        return ("slow", {"labels": None, "k": None, "seed": None})

    monkeypatch.setitem(P._FAMILIES, "slow", slow_family)
    cfg = SegmentationConfig(
        survey_name="watchdog",
        algorithms=("slow", "rules_based"),
        fit_timeout_secs=1.5,
    )
    cols = ["fin_uk_risk_rb", "psy_ww_openness_sc"]
    out = P.run_scheme(spark, responses, cols, cfg)
    assert out["slow"]["labels"] is None
    assert "timed out" in out["slow"]["metrics"]["error"]
    # the non-timed-out family still reported (no rules_col -> the
    # documented no-clustering result)
    assert out["rules_based"]["metrics"]["n_clusters"] == "no balanced clustering"


def test_mark_processed_survives_a_torn_write(tmp_path, monkeypatch):
    """A queue rewrite that fails part-way leaves the previous document
    parseable, with the survey still unprocessed, and no temp file."""
    qp = tmp_path / "queue.json"
    qp.write_text(json.dumps([{"survey_name": "s1", "processed_by": []}]))

    def torn_dump(obj, fh, **kwargs):
        fh.write('[{"survey_name": "s1", "processed_by": ["qudo')
        raise OSError("disk full")

    monkeypatch.setattr(WQ.json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        WQ.mark_processed(str(qp), "s1")
    monkeypatch.undo()
    assert WQ.next_survey(WQ.collected_surveys(str(qp)))["survey_name"] == "s1"
    assert [p.name for p in tmp_path.iterdir()] == ["queue.json"]


def test_mark_processed_raises_the_error_that_stopped_it(tmp_path, monkeypatch):
    """A temp file that cannot be created (ENOSPC, EACCES) raises its own
    error, not the cleanup's FileNotFoundError, and leaves the queue
    document unchanged, with no temp file."""
    qp = tmp_path / "queue.json"
    doc = json.dumps([{"survey_name": "s1", "processed_by": []}])
    qp.write_text(doc)

    def no_space(path, mode="r", *args, **kwargs):
        if "w" in mode:
            raise OSError(errno.ENOSPC, os.strerror(errno.ENOSPC), path)
        return open(path, mode, *args, **kwargs)

    monkeypatch.setattr(WQ, "open", no_space, raising=False)
    with pytest.raises(OSError) as err:
        WQ.mark_processed(str(qp), "s1")
    monkeypatch.undo()
    assert err.value.errno == errno.ENOSPC
    assert qp.read_text() == doc
    assert [p.name for p in tmp_path.iterdir()] == ["queue.json"]


def test_family_failures_are_contained(spark, responses, monkeypatch):
    """A family whose fit raises, and one whose metrics raise, each get
    an error result; the scheme and its other family still finish."""
    import threading

    from qudo_etl_pipeline_spark import pipeline as P

    def broken_fit(encoded, cols, cfg, num_cols):
        raise ValueError("planted fit failure")

    def rules_copy(encoded, cols, cfg, num_cols):
        return ("rules_copy", P._family_rules(encoded, cols, cfg, num_cols)[1])

    real_metrics = P.get_all_metrics
    lock, calls = threading.Lock(), []

    def metrics_failing_once(*args, **kwargs):
        with lock:
            calls.append(1)
            first = len(calls) == 1
        if first:
            raise RuntimeError("planted metrics failure")
        return real_metrics(*args, **kwargs)

    monkeypatch.setitem(P._FAMILIES, "broken", broken_fit)
    monkeypatch.setitem(P._FAMILIES, "rules_copy", rules_copy)
    monkeypatch.setattr(P, "get_all_metrics", metrics_failing_once)
    cfg = SegmentationConfig(
        survey_name="faults",
        rules_col="fin_uk_goal_fb",
        algorithms=("broken", "rules_based", "rules_copy"),
    )
    cols = ["fin_uk_risk_rb", "psy_ww_openness_sc", "fin_uk_goal_fb"]
    out = P.run_scheme(spark, responses, cols, cfg)
    assert out["broken"] == {
        "labels": None,
        "metrics": {
            "algorithm": "broken",
            "error": "ValueError: planted fit failure",
        },
    }
    finalized = [out["rules_based"], out["rules_copy"]]
    failed = [r for r in finalized if r["labels"] is None]
    done = [r for r in finalized if r["labels"] is not None]
    assert len(failed) == 1 and len(done) == 1
    assert failed[0]["metrics"]["error"] == "RuntimeError: planted metrics failure"
    assert done[0]["deliver"].count() > 0
    assert "error" not in done[0]["metrics"]


def test_drain_leaves_no_caches_behind(spark, tmp_path):
    """Two surveys drained in one session leave the operator-cache
    registry and Spark's persisted RDDs at their pre-run sizes: a long
    queue drain does not grow the driver."""
    from qudo_etl_pipeline_spark.operators import prefix as P

    responses = spark.createDataFrame(make_responses(n=200))
    cfg = SegmentationConfig(
        survey_name="drain",
        schemes={"behavioral": ["fin_uk_risk", "psy_", "fin_uk_goal"]},
        rules_col="fin_uk_goal_fb_tgt",
        algorithms=("rules_based",),
    )

    def sizes():
        registry = sum(len(v) for v in P._REGISTRY.values())
        return registry, spark.sparkContext._jsc.getPersistentRDDs().size()

    before = sizes()
    for i in range(2):
        out = run_all_segmentations(
            spark, responses, cfg, output_dir=str(tmp_path / f"out{i}")
        )
        assert out["behavioral"]["rules_based"]["labels"] is not None
    assert sizes() == before


def test_crash_between_sinks_and_queue_write_reruns_the_survey(
    spark, tmp_path, monkeypatch
):
    """A process that dies after the sinks are written but before the
    queue write leaves the survey unprocessed: the next drain runs it
    again, overwrites its sinks in the same output dir, and marks it
    processed once."""
    from qudo_etl_pipeline_spark.sources import io as IO

    src = str(tmp_path / "s1.parquet")
    spark.createDataFrame(make_responses(n=200)).write.parquet(src)
    qp = str(tmp_path / "queue.json")
    with open(qp, "w") as fh:
        json.dump([{"survey_name": "s1", "path": src, "processed_by": []}], fh)
    out_dir = str(tmp_path / "out")
    cfg = SegmentationConfig(
        survey_name="s1",
        schemes={"behavioral": ["fin_uk_risk", "psy_", "fin_uk_goal"]},
        rules_col="fin_uk_goal_fb_tgt",
        algorithms=("kmodes", "rules_based"),
        ks=[3],
    )
    real_mark = WQ.mark_processed
    marks = []

    def crash_once(queue_path, survey_name, *args, **kwargs):
        marks.append(survey_name)
        if len(marks) == 1:
            raise RuntimeError("process died before the queue write")
        return real_mark(queue_path, survey_name, *args, **kwargs)

    monkeypatch.setattr(WQ, "mark_processed", crash_once)

    def drain() -> list[dict]:
        runs = []
        while (s := WQ.next_survey(WQ.collected_surveys(qp))) is not None:
            responses = IO.read_parquet(spark, s["path"])
            runs.append(
                run_all_segmentations(spark, responses, cfg, output_dir=out_dir)
            )
            WQ.mark_processed(qp, s["survey_name"])
        return runs

    with pytest.raises(RuntimeError, match="before the queue write"):
        drain()
    assert WQ.next_survey(WQ.collected_surveys(qp))["survey_name"] == "s1"
    [results] = drain()
    assert marks == ["s1", "s1"]
    assert WQ.collected_surveys(qp)[0]["processed_by"] == [WQ.ENGINE_TAG]
    metrics = spark.read.option("header", True).csv(f"{out_dir}/metrics_csv")
    # one row per family (kmodes runs as kprototypes on numeric answers)
    assert sorted(r["algorithm"] for r in metrics.collect()) == sorted(
        results["behavioral"]
    )
    assert len(results["behavioral"]) == 2
    for algo, res in results["behavioral"].items():
        deliver = spark.read.parquet(f"{out_dir}/behavioral/{algo}/deliver")
        assert deliver.count() == res["deliver"].count() > 0


def _tagged_scheme(responses):
    """The cleaned fixture and a scheme whose `_fb`/`_gg` columns are
    `_tgt`-tagged, so every metric of get_all_metrics runs."""
    from qudo_etl_pipeline_spark import pipeline as P
    from qudo_etl_pipeline_spark.operators import cleaning as CL

    cleaned = CL.clean_responses(responses)
    fragments = ["weightgain_", "fin_uk_risk", "tech_", "psy_", "fin_uk_goal", "mc_"]
    excluded = CL.inference_excluded_cols(cleaned.columns)
    cols = [
        c
        for c in P.select_scheme_columns(cleaned, fragments, "alchemer_id")
        if c not in excluded
    ]
    cfg = SegmentationConfig(
        survey_name="tagged",
        rules_col="fin_uk_goal_fb_tgt",
        algorithms=("kmodes", "rules_based"),
        ks=[3],
    )
    return cleaned, cols, cfg


def test_rules_signal_is_one_on_sparse_tgt_patterns(spark, monkeypatch):
    """The rules family's label is its rules column, a `_tgt` column, so
    its signal loss is 1.0 in every key also on a wide survey, where
    most respondents answer the `_tgt` questions in a pattern of their
    own and most held-out patterns are unseen in training."""
    from qudo_etl_pipeline_spark import pipeline as P
    from qudo_etl_pipeline_spark.ml import signal as S

    pdf = make_responses(n=600)
    rng = np.random.default_rng(5)
    for i in range(3):
        pdf[f"fin_uk_goal_x{i}_fb"] = [f"opt{v}" for v in rng.integers(0, 8, 600)]
    tables, real = [], S.pattern_signal

    def spy(rows, features, tgt_idx, pred, seed=42):
        tables.append({tuple(r[features][i] for i in tgt_idx) for r in rows})
        return real(rows, features, tgt_idx, pred, seed)

    monkeypatch.setattr(S, "pattern_signal", spy)
    cleaned, cols, _ = _tagged_scheme(spark.createDataFrame(pdf))
    cfg = SegmentationConfig(
        survey_name="wide",
        rules_col="fin_uk_goal_fb_tgt",
        algorithms=("rules_based",),
        ks=[3],
    )
    out = P.run_scheme(spark, cleaned, cols, cfg)
    # sparse: far more tgt patterns than a 33% holdout could all meet
    # in training
    [patterns] = tables
    assert len(patterns) > 400
    sig = out["rules_based"]["metrics"]["signal_loss"]
    assert set(sig) == {"all", "0", "1", "2"}
    for key, m in sig.items():
        assert m["signal"] == m["f1_score"] == m["precision"] == 1.0, key


def _canonical(obj) -> str:
    """repr with dict keys sorted: full float reprs, NaN included."""
    if isinstance(obj, dict):
        items = sorted(obj.items(), key=lambda kv: repr(kv[0]))
        return "{" + ", ".join(f"{k!r}: {_canonical(v)}" for k, v in items) + "}"
    return repr(obj)


# md5 of each family's _canonical metrics dict on the tagged scheme, in
# two parts: the signal-loss keys, and every other key. The kmodes family
# runs as kprototypes on the fixture's numeric answers.
SIGNAL_KEYS = ("signal_loss", "message_reach")
METRICS_MD5 = {
    "kprototypes": "da9efda1ca01ba6532d32f609b6c6305",
    "rules_based": "15adc2b735d76b648913144c444377da",
}
SIGNAL_MD5 = {
    "kprototypes": "d533aa13a281e6811a7391e0ce17e431",
    "rules_based": "925478e0458902e03ff1504a07e44b05",
}


def test_metrics_dicts_are_pinned(spark, responses):
    """Every key and full float of each family's metrics dict (quality,
    fb_presence, magnitude, signal_loss, uniqueness, spread...) stays
    fixed: a change to a metric's input fails here. The signal-loss keys
    are pinned apart, so a change to the signal classifier moves their
    pin and leaves the other keys' pin standing."""
    import hashlib

    from qudo_etl_pipeline_spark import pipeline as P

    cleaned, cols, cfg = _tagged_scheme(responses)
    out = P.run_scheme(spark, cleaned, cols, cfg)
    assert set(out) == set(METRICS_MD5)
    # the pin covers a real magnitude, not only its NaN fallback
    assert isinstance(out["rules_based"]["metrics"]["magnitude"], dict)
    for algo, res in out.items():
        m = res["metrics"]
        assert set(SIGNAL_KEYS) <= set(m), algo
        rest = {k: v for k, v in m.items() if k not in SIGNAL_KEYS}
        sig = {k: m[k] for k in SIGNAL_KEYS}
        got = hashlib.md5(_canonical(rest).encode()).hexdigest()
        assert got == METRICS_MD5[algo], (algo, _canonical(rest))
        got = hashlib.md5(_canonical(sig).encode()).hexdigest()
        assert got == SIGNAL_MD5[algo], (algo, _canonical(sig))


def _group_id(spark):
    return spark.sparkContext.getLocalProperty("spark.jobGroup.id")


def test_job_group_reaches_every_concurrent_read(spark, responses, monkeypatch):
    """On the sampled side (more full patterns than the threshold) each
    family's finalize still reads Spark: its exact cells are one
    aggregate of its labelled rows. The families finalize concurrently
    on worker threads, and every such read runs under that family's
    finalize job group, so cancelling the group reaches it and its jobs
    are attributed to the family."""
    import re
    import threading

    from qudo_etl_pipeline_spark import pipeline as P
    from qudo_etl_pipeline_spark.ml import features as FE

    lock, seen = threading.Lock(), {}

    def recording(name, fn):
        def wrapper(*args, **kwargs):
            with lock:
                seen.setdefault(name, []).append(_group_id(spark))
            return fn(*args, **kwargs)

        return wrapper

    for name in ("contingency_tables", "deliver_stats"):
        monkeypatch.setattr(P, name, recording(name, getattr(P, name)))
    monkeypatch.setattr(FE, "PATTERN_THRESHOLD", 40)
    cleaned, cols, cfg = _tagged_scheme(responses)
    out = P.run_scheme(spark, cleaned, cols, cfg)
    assert all(r["labels"] is not None for r in out.values())
    assert set(seen) == {"contingency_tables", "deliver_stats"}
    groups = {g for ids in seen.values() for g in ids}
    assert all(re.fullmatch(r"scheme\d+:finalize:.+", g or "") for g in groups)
    [scheme] = {g.split(":")[0] for g in groups}
    want = sorted(f"{scheme}:finalize:{algo}" for algo in out)
    for name, ids in seen.items():
        assert sorted(ids) == want, name


def test_failing_read_is_contained_and_leaks_nothing(spark, responses, monkeypatch):
    """A driver-side metric that raises in one family fails that family
    only: the other family finishes, the failing family's inference had
    run, and nothing the survey cached stays persisted after it."""
    from qudo_etl_pipeline_spark import pipeline as P
    from qudo_etl_pipeline_spark.ml import quality as Q

    jsc = spark.sparkContext._jsc
    persisted_mid_flight, delivered, delivered_at_raise = [], [], []
    real_quality, real_deliver = Q.pattern_quality, P.deliver_stats

    def quality(*args, **kwargs):
        if _group_id(spark).endswith(":finalize:rules_based"):
            persisted_mid_flight.append(jsc.getPersistentRDDs().size())
            delivered_at_raise.append(bool(delivered))
            raise RuntimeError("planted metric failure")
        return real_quality(*args, **kwargs)

    def deliver(*args, **kwargs):
        out = real_deliver(*args, **kwargs)
        if _group_id(spark).endswith(":finalize:rules_based"):
            delivered.append(True)
        return out

    monkeypatch.setattr(Q, "pattern_quality", quality)
    monkeypatch.setattr(P, "deliver_stats", deliver)
    _, _, cfg = _tagged_scheme(responses)
    cfg.schemes = {
        "tagged": ["weightgain_", "fin_uk_risk", "tech_", "psy_", "fin_uk_goal", "mc_"]
    }
    before = jsc.getPersistentRDDs().size()
    out = run_all_segmentations(spark, responses, cfg)["tagged"]
    # the survey's cleaned table was cached when the metric failed, and
    # the family's deliver had been computed
    assert persisted_mid_flight and persisted_mid_flight[0] > before
    assert delivered_at_raise == [True] and delivered == [True]
    assert out["rules_based"] == {
        "labels": None,
        "metrics": {
            "algorithm": "rules_based",
            "error": "RuntimeError: planted metric failure",
        },
    }
    done = out["kprototypes"]
    assert done["labels"] is not None and "error" not in done["metrics"]
    assert jsc.getPersistentRDDs().size() == before


def test_failing_scheme_releases_the_caches(spark, monkeypatch):
    """A scheme whose scheme-table read raises fails the survey; the
    cleaned table cached for the survey is released with it, so a drain
    that goes on to the next survey does not grow."""
    from qudo_etl_pipeline_spark.ml import features as FE

    real, calls = FE.scheme_table, []

    def second_table_fails(df, cols, **kwargs):
        calls.append(cols)
        if len(calls) == 2:
            raise ValueError("planted scheme-table failure")
        return real(df, cols, **kwargs)

    monkeypatch.setattr(FE, "scheme_table", second_table_fails)
    responses = spark.createDataFrame(make_responses(n=200))
    cfg = SegmentationConfig(
        survey_name="bad_scheme",
        schemes={
            "behavioral": ["fin_uk_risk", "psy_", "fin_uk_goal"],
            "psychographic": ["psy_"],
        },
        algorithms=("kmodes",),
        ks=[3],
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="planted scheme-table failure"):
        run_all_segmentations(spark, responses, cfg)
    assert len(calls) == 2
    assert jsc.getPersistentRDDs().size() == before


def test_scheme_matching_no_column_fails_its_families(spark, responses):
    """A scheme whose fragments match no column is not profiled: with or
    without a rules column, each of its families fails with the same
    error, and the survey's other scheme still finishes."""
    for rules_col in (None, "fin_uk_goal_fb_tgt"):
        cfg = SegmentationConfig(
            survey_name="empty_scheme",
            schemes={
                "behavioral": ["fin_uk_risk", "psy_", "fin_uk_goal"],
                "nothing": ["no_such_fragment"],
            },
            rules_col=rules_col,
            algorithms=("kmodes", "rules_based"),
            ks=[3],
        )
        out = run_all_segmentations(spark, responses, cfg)
        assert out["nothing"] == {
            algo: {
                "labels": None,
                "metrics": {
                    "algorithm": algo,
                    "error": "scheme 'nothing' matches no column",
                },
            }
            for algo in ("kmodes", "rules_based")
        }
        good = out["behavioral"].values()
        assert all("error" not in r["metrics"] for r in good)
        assert any(r["labels"] is not None for r in good)


def _jobs_started_by(spark, action) -> int:
    """How many Spark jobs ``action()`` starts, counted by job group
    once the listener bus has delivered every job-start event."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one action")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_returned_frames_start_no_spark_job(spark, responses):
    """Each family's deliver, discover and mode list are local frames:
    reading them after the pipeline returns (its caches released)
    starts no Spark job."""
    cfg = SegmentationConfig(
        survey_name="cheap_frames",
        schemes={"behavioral": ["fin_uk_risk", "psy_", "fin_uk_goal"]},
        rules_col="fin_uk_goal_fb_tgt",
        algorithms=("kmodes", "rules_based"),
        ks=[3],
    )
    out = run_all_segmentations(spark, responses, cfg)
    # the probe sees a job when one runs
    assert _jobs_started_by(spark, spark.range(3).collect) > 0
    jobs = {
        (algo, key): _jobs_started_by(spark, res[key].collect)
        for algo, res in out["behavioral"].items()
        for key in ("deliver", "discover", "mode_list")
    }
    assert len(jobs) == 6
    assert jobs == dict.fromkeys(jobs, 0)


def _crosstab(cleaned, labels, cols, cfg):
    """deliver, discover and mode-list rows of a Spark crosstab of the
    cleaned answers against the row labels ``labels``."""
    from qudo_etl_pipeline_spark.operators.contingency import (
        cluster_mode_list,
        contingency_tables,
        deliver_stats,
        discover_stats,
    )

    with_pred = cleaned.join(labels.select(cfg.id_col, "prediction"), cfg.id_col)
    tables = contingency_tables(
        with_pred, "prediction", cols, cfg.weight_col, [cfg.id_col]
    )
    deliver = deliver_stats(tables, alpha=1 - cfg.conf_interval)
    return {
        "deliver": deliver.collect(),
        "discover": discover_stats(deliver).collect(),
        "mode_list": cluster_mode_list(tables).collect(),
    }


@pytest.mark.parametrize("side", ["exact", "sampled"])
def test_outputs_are_a_crosstab_of_the_returned_labels(
    spark, responses, monkeypatch, side
):
    """On both sides of the pattern threshold every family's deliver,
    discover and mode list, all five families through one finalize path,
    equal a Spark crosstab of its own returned row labels: on the exact
    side the cells are summed from labelled patterns, so a pattern
    labelled apart from its rows would show."""
    from qudo_etl_pipeline_spark import pipeline as P
    from qudo_etl_pipeline_spark.ml import features as FE

    tables = []
    real = FE.scheme_table

    def spy(*args, **kwargs):
        tables.append(real(*args, **kwargs))
        return tables[-1]

    monkeypatch.setattr(FE, "scheme_table", spy)
    if side == "sampled":
        monkeypatch.setattr(FE, "PATTERN_THRESHOLD", 40)
    cleaned, cols, cfg = _tagged_scheme(responses)
    cfg.weight_col, cfg.include_lca = "weight", True
    cfg.algorithms = ("kmeans", "gmm", "kmodes", "rules_based")
    out = P.run_scheme(spark, cleaned, cols, cfg)
    # the sampled side's fits read the scheme columns' own table
    table = tables[0]
    assert table.exact == (side == "exact")
    assert [t.cols for t in tables[1:]] == ([] if table.exact else [cols])
    assert set(out) == {"kmeans_and_pca", "bmm", "kprototypes", "rules_based", "lca"}
    for algo, res in out.items():
        assert "error" not in res["metrics"], algo
        want = _crosstab(cleaned, res["labels"], cols, cfg)
        assert want["deliver"], algo
        for key, rows in want.items():
            got = res[key].collect()
            assert len(got) == len(rows), (algo, key)
            for g, w in zip(got, rows):
                # weighted values: within summation order
                assert all(
                    x == pytest.approx(y, rel=1e-12)
                    if isinstance(y, (float, list))
                    else x == y
                    for x, y in zip(g, w, strict=True)
                ), (algo, key, g, w)


# Spark jobs of one run_scheme on the tagged fixture with all five
# families (kmeans, gmm, kmodes as kprototypes, rules_based, lca),
# summed over the run's job groups: measured 2 (the scheme table's
# aggregate and its result stage), with 0 in every fit and finalize
# group.
SCHEME_JOBS_MAX = 2


def test_one_scheme_runs_one_aggregate(spark, responses, monkeypatch):
    """A scheme's Spark work is its scheme table: every family's fit,
    inference and metrics, kmeans and gmm included, run no Spark job."""
    import itertools

    from qudo_etl_pipeline_spark import pipeline as P

    monkeypatch.setattr(P, "_RUN_COUNTER", itertools.count(7_000_000))
    cleaned, cols, cfg = _tagged_scheme(responses)
    cleaned = cleaned.cache()
    cleaned.count()  # the survey caches its cleaned table before a scheme
    cfg.algorithms = ("kmeans", "gmm", "kmodes", "rules_based")
    cfg.include_lca = True
    sc = spark.sparkContext
    outside = "test-outside-the-scheme-groups"
    sc.setJobGroup(outside, "jobs of the run outside its own groups")
    try:
        out = P.run_scheme(spark, cleaned, cols, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        cleaned.unpersist()
    assert set(out) == {"kmeans_and_pca", "bmm", "kprototypes", "rules_based", "lca"}
    assert all(r["deliver"] is not None for r in out.values()), out
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    algos = ["kmeans", "gmm", "kmodes", "rules_based", "lca"]
    groups = [outside, "scheme7000000:table"] + [
        f"scheme7000000:{phase}:{name}"
        for phase, names in (("family", algos), ("finalize", list(out)))
        for name in names
    ]
    jobs = {g: len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups}
    assert jobs["scheme7000000:table"] > 0
    finalize = [n for g, n in jobs.items() if ":finalize:" in g]
    assert finalize == [0] * 5, jobs
    assert sum(jobs.values()) <= SCHEME_JOBS_MAX, jobs


def test_row_labels_are_their_pattern_labels(spark, responses):
    """kmeans and gmm label the encoded rows lazily with the same row
    expression that labels the scheme table's patterns: every row gets
    its pattern's label, and the patterns' labels are the fit's own."""
    from qudo_etl_pipeline_spark import pipeline as P
    from qudo_etl_pipeline_spark.ml import clustering as C
    from qudo_etl_pipeline_spark.ml import features as FE

    cleaned, cols, cfg = _tagged_scheme(responses)
    table = FE.scheme_table(cleaned, cols, id_col=cfg.id_col)
    patterns = table.coded(cols)
    encoded = FE.label_encode(cleaned, cols, code_maps=table.code_maps)
    fits = {
        "kmeans": C.kmeans_table(patterns, cols, ks=[3, 4], seeds=[1, 42]),
        "gmm": C.gmm_table(patterns, cols, k=3, seeds=[42, 100]),
    }
    for name, fit in fits.items():
        assert fit is not None, name
        labels = P._label_patterns(spark, fit["label"], patterns, cols)
        assert [k for _, k, _ in labels] == list(fit["labels"]), name
        of = {tuple(patterns[i][c] for c in cols): k for i, k, _ in labels}
        rows = fit["label"](encoded).select(*cols, "prediction").collect()
        assert len(rows) == 600
        assert all(r["prediction"] == of[tuple(r[c] for c in cols)] for r in rows), name


def test_kprototypes_with_no_categorical_column_fails_contained(spark):
    """A scheme whose every column is numeric sends the kmodes family to
    kprototypes with no categorical column, which it refuses by name;
    the scheme's other families still finish."""
    cfg = SegmentationConfig(
        survey_name="numeric_only",
        schemes={"psy": ["psy_"]},
        rules_col="fin_uk_goal_fb_tgt",
        algorithms=("kmodes", "rules_based"),
        ks=[3],
    )
    responses = spark.createDataFrame(make_responses(n=200))
    out = run_all_segmentations(spark, responses, cfg)["psy"]
    err = out["kmodes"]["metrics"]["error"]
    assert err.startswith("ValueError: kprototypes needs at least one categorical column"), err
    assert out["kmodes"]["labels"] is None
    assert out["rules_based"]["deliver"] is not None
    assert "error" not in out["rules_based"]["metrics"]


# Spark jobs in the `:table` group of one run_scheme on the tagged
# fixture with the threshold at 40, so that both the widened table and
# the scheme columns' own table (its numeric column makes many
# patterns) overflow: measured 12 when the second table read its own
# profile (a melt + distinct: its shuffle stage and its result stage),
# 10 with the first table's profile passed in.
SAMPLED_TABLE_JOBS = 10


def test_the_fits_table_reads_no_second_profile(spark, responses, monkeypatch):
    """Above the threshold the fits read the scheme columns' own table;
    when it overflows too it takes the scheme table's exact profile
    instead of reading one, so the codes are the same as a profile
    pass over the cleaned rows gives, with that pass's jobs fewer."""
    import itertools

    from qudo_etl_pipeline_spark import pipeline as P
    from qudo_etl_pipeline_spark.ml import features as FE

    tables, profiles = [], []
    real_table, real_maps = FE.scheme_table, FE.build_code_maps

    def spy_table(*args, **kwargs):
        tables.append(real_table(*args, **kwargs))
        return tables[-1]

    def spy_maps(*args, **kwargs):
        profiles.append(args[1])
        return real_maps(*args, **kwargs)

    monkeypatch.setattr(FE, "scheme_table", spy_table)
    monkeypatch.setattr(FE, "build_code_maps", spy_maps)
    monkeypatch.setattr(FE, "PATTERN_THRESHOLD", 40)
    monkeypatch.setattr(P, "_RUN_COUNTER", itertools.count(8_000_000))
    cleaned, cols, cfg = _tagged_scheme(responses)
    cfg.algorithms = ("rules_based",)
    cleaned = cleaned.cache()
    cleaned.count()
    try:
        P.run_scheme(spark, cleaned, cols, cfg)
        maps, numeric = real_maps(cleaned, cols)
    finally:
        cleaned.unpersist()
    assert [t.exact for t in tables] == [False, False]
    assert "psy_ww_openness_sc" in tables[1].numeric
    assert len(profiles) == 1  # the widened table's only
    assert (tables[1].code_maps, tables[1].numeric) == (maps, numeric)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("scheme8000000:table")
    assert len(jobs) == SAMPLED_TABLE_JOBS
