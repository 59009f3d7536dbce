"""Business metrics over the deliver-stats table and labeled data.

Re-implements (reference: src/kraken/app/metrics.py):
- M28 uniqueness (:311-337): per cluster, 1 - share of
  (q_code, sig_more_category) pairs that any other cluster also has.
- M29 communicability (:340-361): distinct significant 'psy|ae'
  q_codes per segment + the average over all segments.
- M30 social presence (:364-404): the `mc_` column carrying the
  platform and the per-cluster share answering exactly that platform,
  both from the pattern table of every `mc_` candidate.
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
rows. They take the rows, or a DataFrame, which they collect once.
The metrics of labelled rows read one pattern table: the distinct
(columns, prediction) combinations and their row counts, sized by the
answer options rather than the respondents, so they are computed on the
driver from its rows. :func:`get_all_metrics` takes those rows (the
survey's labelled scheme-table patterns); ``catalog.ml_q``'s
``social_presence`` and ``magnitude`` take a labelled frame and collect
its table once.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame, Row

Deliver = DataFrame | list[Row]


def _rows(deliver: Deliver) -> list[Row]:
    """The deliver rows: a DataFrame is collected once."""
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


def _sizes(table: list[Row], pred: str) -> dict:
    """Rows per label (NULL included) of a pattern table."""
    n: dict = {}
    for r in table:
        n[r[pred]] = n.get(r[pred], 0) + r["_w"]
    return n


def _presence(
    table: list[Row],
    cands: list[str],
    sm_platform: str,
    pred: str,
    code_maps: dict[str, dict[str, int]],
) -> dict | float:
    """M30 (metrics.py:364-404) social presence over a pattern table of
    ``pred`` and the candidate columns: per-cluster share answering
    exactly `sm_platform` on the first candidate, in column order, whose
    values mention the platform (metrics.py:374-390), rounded 3; NaN if
    there is none. A candidate in ``code_maps`` holds label codes, which
    are decoded back to the answers first."""
    want = sm_platform.lower()
    for c in cands:
        vals = [(r[pred], r["_w"], r[c]) for r in table]
        if c in code_maps:
            answer = {i: v for v, i in code_maps[c].items()}
            vals = [(seg, w, answer.get(v)) for seg, w, v in vals]
        if not any(
            v is not None and want in str(v).lower() for _, _, v in vals
        ):
            continue
        n = _sizes(table, pred)
        hits: dict = {}
        for seg, w, v in vals:
            # a segment whose answers are all NULL has no share
            if v is not None:
                hits[seg] = hits.get(seg, 0) + (w if v == sm_platform else 0)
        # Python round, as the reference (metrics.py:402)
        return {
            seg: round(hits[seg] / n[seg], 3) if seg in hits else None
            for seg in n
        }
    return float("nan")


def _magnitude(
    deliver: list[Row], sizes: dict, num_tgt: int, seg_col: str
) -> dict | float:
    """M31 (metrics.py:636-687) from the deliver rows and the rows per
    label: cluster share (round 2) x (significant `_tgt` rows per
    segment / ``num_tgt``), round 3; plus 'all_clusters' total; NaN if
    the total is 0 or > 1."""
    total = sum(sizes.values())
    pct = {seg: round(n / total, 2) for seg, n in sizes.items()}
    sig_counts = Counter(
        r[seg_col]
        for r in deliver
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
    table: list,
    deliver: Deliver | None = None,
    features_col: str = "features",
    pred: str = "prediction",
    tgt_idx: list[int] | None = None,
    n_seed=None,
    sm_platform: str = "Facebook",
    code_maps: dict[str, dict[str, int]] | None = None,
) -> dict:
    """M37 (metrics.py:814-911): compose quality + business metrics into
    one dict. The consistency checks need a train->scorer refit the
    survey has no handle on; their keys stay, NaN.

    Every metric of the labelled rows comes from ONE (features, `mc_`
    columns, prediction, count ``_w``) pattern table, computed on the
    driver: quality, social presence, magnitude's cluster sizes and the
    signal loss, whose `_tgt` columns are the ``features`` positions
    ``tgt_idx``. ``table`` is that table's rows: the survey's are summed
    from its scheme table, and ``catalog.ml_q.pattern_table`` collects them
    from a frame. The social presence needs the original answers, which
    label codes never match ('facebook', metrics.py:840 full_data): an
    `mc_` column in ``code_maps`` holds codes and is decoded with them."""
    from qudo_etl_pipeline_spark.ml import quality as Q
    from qudo_etl_pipeline_spark.ml import signal as S

    first = table[0] if table else {}
    cands = [c for c in (first.asDict() if isinstance(first, Row) else first) if "mc_" in c]
    metrics = Q.pattern_quality(table, features_col, pred, n_seed)
    metrics["fb_presence"] = _presence(
        table, cands, sm_platform, pred, code_maps or {}
    )
    metrics["model_consistency"] = float("nan")
    metrics["label_consistency"] = float("nan")
    if deliver is not None:
        deliver = _rows(deliver)
        metrics["uniqueness"] = uniqueness(deliver)
        comm = communicability(deliver)
        metrics["communicability_clusters"] = comm["data"]
        metrics["communicability_avg"] = comm["avg"]
        if tgt_idx:
            sizes = _sizes(table, pred)
            metrics["magnitude"] = _magnitude(
                deliver, sizes, len(tgt_idx), "targeting_seg"
            )
            sig = S.pattern_signal(table, features_col, tgt_idx, pred)
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
