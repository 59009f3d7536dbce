"""Time the WHOLE survey-segmentation pipeline end-to-end (M37):
clean -> cached respondent table -> clustering families -> per-segment
inference -> metrics -> parquet/CSV sinks, in one wall-clock number plus
total shuffle bytes — the reference's production unit
(src/kraken/app/main.py:45-183), which SCALING.md previously only
measured operator-by-operator.

    python tools/time_pipeline.py [n_respondents] [width_mult]

n_respondents scales rows (default 15_000 ≈ sf0.1-proportional);
width_mult tiles the question columns toward the reference's
50-300-column production width (default 4 ≈ 40 question columns).
Deterministic (fixture seed 42); prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _shuffle_bytes(ui_port: int = 4040) -> dict:
    """Sum shuffle read/write bytes over all completed stages (REST)."""
    base = f"http://localhost:{ui_port}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(base, timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{base}/{app_id}/stages", timeout=30)
    )
    return {
        "shuffle_write_bytes": sum(
            s.get("shuffleWriteBytes", 0) for s in stages
        ),
        "shuffle_read_bytes": sum(
            s.get("shuffleReadBytes", 0) for s in stages
        ),
        "n_stages": len(stages),
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 15_000
    width_mult = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from qudo_etl_pipeline_spark.pipeline import (
        SegmentationConfig,
        run_all_segmentations,
    )
    from qudo_etl_pipeline_spark.session import get_spark
    from tests.fixtures import make_responses

    pdf = make_responses(n=n)
    # widen toward production: tile the question columns with fragment-
    # preserving names so scheme selection picks the copies up too
    question_cols = [
        "weightgain_ww_concern_rb", "fin_uk_risk_rb",
        "tech_ww_techcomfort_rb_ord", "psy_ww_openness_sc",
        "fin_uk_goal_fb", "mc_ww_smplatform_gg",
    ]
    for i in range(1, width_mult):
        for c in question_cols:
            head, _, tail = c.rpartition("_")
            pdf[f"{head}{i}_{tail}"] = pdf[c]

    spark = get_spark(
        app_name="time_pipeline",
        extra_conf={"spark.ui.enabled": "true"},
    )
    responses = spark.createDataFrame(pdf)

    cfg = SegmentationConfig(
        survey_name="timed_survey",
        schemes={
            "behavioral": ["weightgain_", "tech_", "psy_", "fin_uk_goal"],
            "financial": ["fin_", "psy_"],
        },
        weight_col="weight",
        rules_col="fin_uk_goal_fb_tgt",
        algorithms=("kmeans", "gmm", "kmodes", "rules_based"),
        ks=[3],
        seeds=[1, 42],
    )
    out_dir = tempfile.mkdtemp(prefix="pipe_e2e_")

    t0 = time.time()
    results = run_all_segmentations(spark, responses, cfg, output_dir=out_dir)
    wall = time.time() - t0

    n_results = sum(len(v) for v in results.values())
    try:
        shuffle = _shuffle_bytes()
    except Exception as exc:  # UI off / port taken — still report wall
        shuffle = {"error": str(exc)[:120]}
    print(json.dumps({
        "metric": "pipeline_e2e_wall", "unit": "sec",
        "value": round(wall, 2), "n_respondents": n,
        "n_question_cols": len(question_cols) * width_mult,
        "schemes": len(cfg.schemes), "algo_families": len(cfg.algorithms),
        "scheme_x_algo_results": n_results, **shuffle,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
