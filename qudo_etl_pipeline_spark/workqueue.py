"""Survey work queue: the reference's poll-based incremental protocol.

Re-implements (reference: src/kraken/assets.py:9-25,
src/kraken/app/aws_init.py:68-78): a JSON document lists collected
surveys, each with a `processed_by` list; a run takes the FIRST survey
not yet processed by this engine, runs it, then appends the engine tag
and rewrites the document. Driver-side file IO (the queue is a config
document, not data — SURVEY §1.1/S2/S8); the data plane stays Parquet.

`next_survey` returning None means the queue is drained — the DAG halt
semantics of the reference's conditional asset output (assets.py:22-25).
"""

from __future__ import annotations

import json
import os

ENGINE_TAG = "qudo_etl_pipeline_spark"


def collected_surveys(queue_path: str) -> list[dict]:
    """assets.py:9-14: read the queue document."""
    if not os.path.exists(queue_path):
        return []
    with open(queue_path) as fh:
        return json.load(fh)


def next_survey(surveys: list[dict], tag: str = ENGINE_TAG) -> dict | None:
    """assets.py:18-25: first survey whose processed_by lacks our tag."""
    for s in surveys:
        if tag not in s.get("processed_by", []):
            return s
    return None


def mark_processed(
    queue_path: str, survey_name: str, tag: str = ENGINE_TAG
) -> list[dict]:
    """aws_init.py:68-78: append the tag and rewrite the document.

    The rewrite is atomic: the new document is written to a temporary
    file in the queue's directory, which then replaces the queue
    (``os.replace``). A write that fails part-way leaves the previous
    document in place, and the survey unprocessed."""
    surveys = collected_surveys(queue_path)
    for s in surveys:
        if s.get("survey_name") == survey_name:
            s.setdefault("processed_by", [])
            if tag not in s["processed_by"]:
                s["processed_by"].append(tag)
    tmp = f"{queue_path}.{os.getpid()}.tmp"
    # a temp file that cannot be created raises its own error, with
    # nothing to remove
    fh = open(tmp, "w")
    try:
        with fh:
            json.dump(surveys, fh, indent=2)
    except BaseException:
        os.remove(tmp)
        raise
    os.replace(tmp, queue_path)
    return surveys


def populate_curated_cols(
    metadata: list[dict], base_dir: str, spark=None
) -> list[str]:
    """One-off curated-columns publisher (populate_curated_cols_s3.py:19-45).

    Each metadata row carries a ``segmentation`` and a comma-joined
    ``cols`` string (already-list values pass through, the script's
    AttributeError branch); rows with an ``industry`` key nest under it.
    Writes ``{base_dir}[/{industry}]/curated/{segmentation}/cols.json``
    per row (local path or URI via sources.io.write_json_doc) and
    returns the written paths.
    """
    from qudo_etl_pipeline_spark.sources.io import write_json_doc

    written = []
    for row in metadata:
        cols = row["cols"]
        if isinstance(cols, str):
            cols = cols.split(",")
        parts = [base_dir]
        if row.get("industry"):
            parts.append(str(row["industry"]))
        parts += ["curated", str(row["segmentation"]), "cols.json"]
        path = "/".join(p.rstrip("/") for p in parts)
        write_json_doc(path, cols, spark=spark)
        written.append(path)
    return written
