"""Output checks for one survey's segmentation results.

A result is one (scheme x family). It fails when it raised, timed out or
produced output that fails a check here; the benchmark's ``failed`` counts
those results. Each check reads the sinks with pandas/pyarrow, not Spark,
except the labels, which only exist as the returned DataFrames.
"""

from __future__ import annotations

import csv
import glob
import os

import numpy as np
import pandas as pd

from survey_gen import ID_COL

NOT_SHOWN = "Not shown"
NOT_SELECTED = "not selected"
# at least one family must recover the planted classes this well
MIN_ARI = 0.5


def reference_chi2(
    pdf: pd.DataFrame, variable: str, labels: np.ndarray
) -> tuple[float, float]:
    """(chi2, p) of ``variable`` against the segment labels, from the raw
    generated answers with the pipeline's NA policy and 'Not shown'
    exclusion applied."""
    from tests.reference_stats import chi2_contingency

    values = pdf[variable].fillna(NOT_SELECTED)
    keep = (values != NOT_SHOWN).to_numpy()
    ct = pd.crosstab(values[keep].to_numpy(), labels[keep]).to_numpy()
    stat, p, _, _ = chi2_contingency(ct, correction=bool((ct <= 5).any()))
    return stat, p


def _metrics_rows(out_dir: str) -> list[dict]:
    rows = []
    for path in sorted(glob.glob(os.path.join(out_dir, "metrics_csv", "*.csv"))):
        with open(path, newline="") as fh:
            rows.extend(csv.DictReader(fh))
    return rows


def _chi2_problems(
    pdf: pd.DataFrame, labels: np.ndarray, deliver_dir: str
) -> list[str]:
    """Every deliver row's chi2 and p against the numpy reference."""
    deliver = pd.read_parquet(deliver_dir)
    if deliver.empty:
        return ["deliver is empty on planted data"]
    problems = []
    for q_code, grp in deliver.groupby("q_code"):
        var = q_code if q_code in pdf else q_code.removesuffix("_tgt")
        if var not in pdf:
            problems.append(f"deliver q_code {q_code!r} is not a survey column")
            continue
        stat, p = reference_chi2(pdf, var, labels)
        got_stat = grp["chi2_stat"].iloc[0]
        got_p = grp["chi_2_result"].iloc[0]
        # deliver rounds chi2_stat to 2 and p to 5 decimals
        if abs(got_stat - stat) > 0.0051 + 1e-9 * stat or abs(got_p - p) > 5.1e-6:
            problems.append(
                f"chi2 of {q_code}: got ({got_stat}, {got_p}), "
                f"reference ({stat:.4f}, {p:.3g})"
            )
    return problems


def check_survey(
    name: str, results: dict | None, pdf: pd.DataFrame, planted: np.ndarray,
    k: int, out_dir: str,
) -> tuple[int, list[str], list[str]]:
    """Return (attempted, failures, problems) for one survey's results.

    ``failures`` has one line per failed result. ``problems`` lists the
    output checks that failed (wrong output); a result that raised, timed
    out or produced nothing is a failure but not an output problem.
    """
    from tests.reference_stats import adjusted_rand_np

    if results is None:
        return 1, [f"{name}: run_all_segmentations raised"], []
    csv_rows = _metrics_rows(out_dir)
    attempted = 0
    failures: list[str] = []
    problems: list[str] = []
    best_ari = None
    n = len(pdf)
    ids = pdf[ID_COL].to_numpy()
    for scheme, by_algo in results.items():
        for algo, res in by_algo.items():
            attempted += 1
            labels = res.get("labels")
            if labels is None or res.get("deliver") is None:
                failures.append(f"{name}/{scheme}/{algo}: {res['metrics']}")
                continue
            bad = []
            lab = labels.select(ID_COL, "prediction").toPandas()
            if len(lab) != n or lab[ID_COL].nunique() != n or set(lab[ID_COL]) != set(ids):
                bad.append(f"{len(lab)} labels for {n} respondents")
            elif lab["prediction"].isna().any():
                bad.append("null label")
            n_labels = lab["prediction"].nunique()
            if n_labels != k or str(res["metrics"].get("n_clusters")) != str(k):
                bad.append(
                    f"{n_labels} labels, n_clusters "
                    f"{res['metrics'].get('n_clusters')}, fit k {k}"
                )
            rows = [
                r for r in csv_rows
                if (r["survey"], r["scheme"], r["algorithm"]) == (name, scheme, algo)
            ]
            if len(rows) != 1:
                bad.append(f"{len(rows)} metrics-CSV rows")
            base = os.path.join(out_dir, scheme, algo)
            for sink in ("deliver", "discover"):
                if not os.path.exists(os.path.join(base, sink, "_SUCCESS")):
                    bad.append(f"{sink} parquet missing")
            if not bad:
                by_id = lab.set_index(ID_COL)["prediction"].reindex(ids).to_numpy()
                bad += _chi2_problems(pdf, by_id, os.path.join(base, "deliver"))
            if not bad:
                ari = adjusted_rand_np(planted, by_id)
                best_ari = ari if best_ari is None else max(best_ari, ari)
            else:
                bad = [f"{name}/{scheme}/{algo}: {b}" for b in bad]
                failures += bad[:1]
                problems += bad
    # checked over the results that passed every other check; the rest
    # already count as failed
    if best_ari is not None and best_ari < MIN_ARI:
        problems.append(
            f"{name}: no family recovers the planted classes "
            f"(best ARI {best_ari:.3f} < {MIN_ARI})"
        )
    return attempted, failures, problems
