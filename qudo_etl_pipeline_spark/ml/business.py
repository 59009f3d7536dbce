"""Business metrics over the deliver-stats table and labeled data.

Re-implements (reference: src/kraken/app/metrics.py):
- M28 uniqueness (:311-337): per cluster, 1 - share of
  (q_code, sig_more_category) pairs that any other cluster also has.
- M29 communicability (:340-361): distinct significant 'psy|ae'
  q_codes per segment + the average over all segments.
- M30 social presence (:364-404): the `mc_` column carrying the
  platform and the per-cluster share answering exactly that platform,
  both from one per-cluster aggregate over every `mc_` candidate.
- M31 magnitude (:636-687): cluster share (rounded 2) x share of
  significant `_tgt` variables (per segment), rounded 3, + total;
  NaN when the total is 0 or exceeds 1.
- M35 message reach (:690-711): social presence x signal per segment.
- M36 significant-variable spread (:177-231): counts of significant
  variables per segment (all and `_tgt`-only) and per-question-prefix
  proportions.
- M37 get_all_metrics (:814-911): the composition layer.

`deliver` is the deliver-stats output of operators/contingency.py
(columns q_code, targeting_seg, sig_more_category array, chi_2_result,
pop_mode...): a table sized by the survey's schema (significant
variables x segments), so the metrics over it run in Python over its
rows. They take the rows, a DataFrame, which they collect once, or a
``Future`` of either, which they wait for.
`labeled` is the respondent table with a `prediction` column; metrics
over it aggregate to segment-cardinality results before collecting.
"""

from __future__ import annotations

import re
from collections import Counter
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

Deliver = DataFrame | list[Row] | Future


def _rows(deliver: Deliver) -> list[Row]:
    """The deliver rows: a Future is waited for, and a DataFrame is
    collected once."""
    if isinstance(deliver, Future):
        deliver = deliver.result()
    return deliver.collect() if isinstance(deliver, DataFrame) else deliver


def uniqueness(
    deliver: Deliver, seg_col: str = "targeting_seg"
) -> dict:
    """M28: per cluster, 1 - duplicated-pair share (metrics.py:311-337).

    A pair is (q_code, sig_more_category): the reference tuples the
    category list (metrics.py:330-332); it is a duplicate when more than
    one non-NULL segment has it."""
    rows = _rows(deliver)

    def pair(r) -> str:
        # NULL parts (and NULL categories) drop out of the key
        parts = [r["q_code"], *(r["sig_more_category"] or [])]
        return "".join(p for p in parts if p is not None)

    pairs = [(r[seg_col], pair(r)) for r in rows]
    segs_of: dict[str, set] = {}
    for seg, p in pairs:
        if seg is not None:
            segs_of.setdefault(p, set()).add(seg)
    n = Counter(seg for seg, _ in pairs)
    n_dup = Counter(seg for seg, p in pairs if len(segs_of.get(p, ())) > 1)
    return {seg: 1 - n_dup[seg] / n[seg] for seg in n}


def communicability(
    deliver: Deliver,
    seg_col: str = "targeting_seg",
    pattern: str = "psy|ae",
) -> dict:
    """M29 (metrics.py:340-361): distinct significant q_codes matching
    the creative/psychometric regex per segment; avg = total / number of
    segments in the WHOLE deliver table."""
    rows = _rows(deliver)
    rx = re.compile(pattern)
    codes: dict = {}
    for r in rows:
        q = r["q_code"]
        if q is not None and rx.search(q):
            codes.setdefault(r[seg_col], set()).add(q)
    n_segs = len({r[seg_col] for r in rows})
    data = {seg: len(qs) for seg, qs in codes.items()}
    avg = sum(data.values()) / n_segs if n_segs else float("nan")
    return {"data": data, "avg": avg}


def social_presence(
    labeled: DataFrame,
    sm_platform: str,
    pred: str = "prediction",
    marker: str = "mc_",
) -> dict | float:
    """M30 (metrics.py:364-404): per-cluster share answering exactly
    `sm_platform` on the social column, rounded 3. The social column is
    the first `marker` column, in frame order, whose values mention the
    platform (metrics.py:374-390); NaN if there is none.

    One ``groupBy(pred)`` aggregate gives every candidate's mention flag
    and share; the column is chosen from its collected rows."""
    from qudo_etl_pipeline_spark.functions.rounding import ref_round

    cands = [c for c in labeled.columns if marker in c]
    if not cands:
        return float("nan")
    aggs = []
    for i, c in enumerate(cands):
        aggs.append(
            F.max(
                F.lower(F.col(c).cast("string"))
                .contains(sm_platform.lower())
                .cast("int")
            ).alias(f"_m{i}")
        )
        # ref_round: the reference rounds with Python round (metrics.py:402)
        aggs.append(
            ref_round(
                F.sum((F.col(c) == sm_platform).cast("int")) / F.count(F.lit(1)),
                3,
            ).alias(f"_s{i}")
        )
    rows = labeled.groupBy(pred).agg(*aggs).collect()
    for i in range(len(cands)):
        if any(r[f"_m{i}"] == 1 for r in rows):
            return {r[pred]: r[f"_s{i}"] for r in rows}
    return float("nan")


def magnitude(
    deliver: Deliver,
    labeled: DataFrame,
    tgt_cols: list[str],
    pred: str = "prediction",
    seg_col: str = "targeting_seg",
) -> dict | float:
    """M31 (metrics.py:636-687): magnitude = cluster share (round 2) x
    (significant `_tgt` rows per segment / #tgt variables), round 3;
    plus 'all_clusters' total; NaN if total is 0 or > 1."""
    num_tgt = len(tgt_cols)
    if num_tgt == 0:
        return float("nan")
    sizes = labeled.groupBy(pred).agg(F.count(F.lit(1)).alias("n")).collect()
    total = sum(r["n"] for r in sizes)
    pct = {r[pred]: round(r["n"] / total, 2) for r in sizes}
    sig_counts = Counter(
        r[seg_col]
        for r in _rows(deliver)
        if r["q_code"] is not None and "tgt" in r["q_code"].lower()
    )
    out = {}
    for seg, share in pct.items():
        ratio = sig_counts.get(str(seg), sig_counts.get(seg, 0)) / num_tgt
        out[seg] = round(ratio * share, 3)
    s = round(sum(out.values()), 3)
    if s <= 0 or s > 1:
        return float("nan")
    out["all_clusters"] = s
    return out


def message_reach(social: dict, signal: dict) -> dict | float:
    """M35 (metrics.py:690-711): presence x signal per segment."""
    signal = dict(signal)
    if not isinstance(social, dict):
        return float("nan")
    if len(signal) > len(social):
        signal.pop("all", None)
    if len(signal) != len(social) or not signal:
        return float("nan")
    out = {}
    for label in sorted(int(k) for k in signal):
        out[str(label)] = round(
            social[label] * signal[str(label)]["signal"], 3
        )
    return out


def _question_prefix(q_code: str | None) -> str | None:
    """Prefix before '_' when present, else the whole code
    (metrics.py:192-197)."""
    return q_code.split("_")[0] if q_code is not None else None


def significant_variables_and_spread(
    deliver: Deliver,
    alpha: float = 0.05,
    seg_col: str = "targeting_seg",
) -> tuple[dict, dict, dict, dict]:
    """M36 (metrics.py:208-231): counts of significant variables per
    segment (all / `_tgt`), and per-question-prefix proportions of
    significant variables vs all variables (all / `_tgt` universes)."""
    rows = _rows(deliver)

    def is_tgt(r) -> bool:
        return r["q_code"] is not None and "_tgt" in r["q_code"]

    sig = [
        r
        for r in rows
        if r["chi_2_result"] is not None and r["chi_2_result"] <= alpha
    ]
    sig_tgt = [r for r in sig if is_tgt(r)]

    def spread(filtered: list, universe: list) -> dict:
        # the denominator is the prefix count over the UNFILTERED rows
        # across ALL segments — the reference's overall_counts
        # (metrics.py:198-204) divides exactly so; per-segment universes
        # would read more naturally but would break parity
        overall = Counter(_question_prefix(r["q_code"]) for r in universe)
        counts = Counter(
            (r[seg_col], _question_prefix(r["q_code"])) for r in filtered
        )
        out: dict = {}
        for (seg, p), n in counts.items():
            out.setdefault(seg, {})[p] = (
                n / overall[p] if overall.get(p) else float("nan")
            )
        return out

    return (
        dict(Counter(r[seg_col] for r in sig)),
        dict(Counter(r[seg_col] for r in sig_tgt)),
        spread(sig, rows),
        spread(sig_tgt, [r for r in rows if is_tgt(r)]),
    )


def get_all_metrics(
    labeled: DataFrame,
    deliver: Deliver | None = None,
    features_col: str = "features",
    pred: str = "prediction",
    tgt_cols: list[str] | None = None,
    n_seed=None,
    sm_platform: str = "Facebook",
    social_df: DataFrame | None = None,
) -> dict:
    """M37 (metrics.py:814-911): compose quality + business metrics into
    one dict. The consistency checks need a train->scorer refit the
    survey has no handle on; their keys stay, NaN.

    ``social_df``: frame with the ORIGINAL (unencoded) answers plus the
    prediction column, for social presence — the reference passes
    full_data separately from data_encoded (metrics.py:840) because
    'facebook' matching cannot work on label codes. Defaults to
    ``labeled`` for callers that kept string answers.

    The Spark reads (quality, social presence, magnitude's cluster
    sizes, the signal-loss forest) are independent, so they are
    submitted together, each on its own thread under the caller's job
    group; the deliver-derived metrics run on the driver once the
    deliver rows arrive. ``deliver`` may be a ``Future`` still being
    computed. Every read is joined before this returns or raises."""
    from qudo_etl_pipeline_spark.ml import quality as Q
    from qudo_etl_pipeline_spark.ml import signal as S

    reads = {
        "quality": (Q.cluster_quality, labeled, features_col, pred, n_seed),
        "fb_presence": (
            social_presence,
            social_df if social_df is not None else labeled,
            sm_platform,
            pred,
        ),
    }
    if deliver is not None and tgt_cols:
        reads["magnitude"] = (magnitude, deliver, labeled, tgt_cols, pred)
        reads["signal_loss"] = (S.signal_loss, labeled, tgt_cols, pred)
    inherit = inheritable_thread_target(labeled.sparkSession)
    with ThreadPoolExecutor(
        max_workers=len(reads), thread_name_prefix="metrics"
    ) as pool:
        futs = {
            key: pool.submit(inherit(fn), *args)
            for key, (fn, *args) in reads.items()
        }
        metrics = futs.pop("quality").result()
        metrics["fb_presence"] = futs.pop("fb_presence").result()
        metrics["model_consistency"] = float("nan")
        metrics["label_consistency"] = float("nan")
        if deliver is not None:
            deliver = _rows(deliver)
            metrics["uniqueness"] = uniqueness(deliver)
            comm = communicability(deliver)
            metrics["communicability_clusters"] = comm["data"]
            metrics["communicability_avg"] = comm["avg"]
            if tgt_cols:
                metrics["magnitude"] = futs["magnitude"].result()
                sig = futs["signal_loss"].result()
                metrics["signal_loss"] = sig
                metrics["message_reach"] = message_reach(
                    metrics["fb_presence"], sig
                )
            (
                metrics["num_sig_vars"],
                metrics["num_sig_tgt_vars"],
                metrics["sig_question_groups"],
                metrics["sig_tgt_question_groups"],
            ) = significant_variables_and_spread(deliver)
    return metrics
