"""Signal loss: how well the `_tgt` answers predict the cluster.

Re-implements M33 (reference: src/kraken/app/metrics.py:714-779): a
classifier on the `_tgt` feature columns predicting the cluster;
accuracy / weighted precision / recall / F1 / Cohen's kappa, overall on
a 33% holdout and per segment on each segment's full rows.

The classifier is the pattern-majority one, on the driver over the
family's (pattern, label, weight) table (its labelled scheme-table
patterns in the survey, a ``catalog.ml_q.pattern_table`` of a frame), so
it starts no Spark job: each `_tgt` answer pattern predicts its
train-majority cluster, which is what a fully grown tree's leaf predicts
when every held-out pattern is seen in training (few `_tgt` questions).
A forest's leaves pool patterns; for a pattern with no train weight,
the one-column classifiers, best train accuracy first, stand in for
that pooling before the overall majority, so a cluster one `_tgt`
column decides (the rules family's) scores 1.0 on sparse patterns too.
The row-level 67/33 ``train_test_split`` becomes a seeded binomial
split of each (pattern, label) weight; a priority-sampled table's
Horvitz-Thompson weights keep their mass.

Signal loss of a labelled frame (``signal_loss``), the reference's
resampled variants (RUS / ROS / SMOTE and the argmax vote,
metrics.py:782-811), the slice signal (M34) and the consistency checks
(M18 / M20) are catalog-side: ``catalog/ml_q.py``.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Row


def _metrics_from_confusion(conf: dict) -> dict:
    """accuracy / weighted precision / recall / f1 / Cohen's kappa of a
    {(truth, prediction): weight} confusion matrix (sklearn 'weighted'
    average semantics, metrics.py:761-766). Rounded 3 as the reference."""
    labels = sorted({k[0] for k in conf} | {k[1] for k in conf})
    n = sum(conf.values())
    if n == 0:
        return {
            "signal": 0.0,
            "f1_score": 0.0,
            "precision": 0.0,
            "recall_score": 0.0,
            "cohen_kappa_score": 0.0,
        }
    tp = {c: conf.get((c, c), 0) for c in labels}
    actual = {c: sum(v for (a, _), v in conf.items() if a == c) for c in labels}
    predicted = {c: sum(v for (_, p), v in conf.items() if p == c) for c in labels}
    acc = sum(tp.values()) / n

    def safe(a, b):
        return a / b if b else 0.0

    prec_w = sum(actual[c] * safe(tp[c], predicted[c]) for c in labels) / n
    rec_w = sum(actual[c] * safe(tp[c], actual[c]) for c in labels) / n
    f1_w = (
        sum(
            actual[c]
            * safe(
                2 * safe(tp[c], predicted[c]) * safe(tp[c], actual[c]),
                safe(tp[c], predicted[c]) + safe(tp[c], actual[c]),
            )
            for c in labels
        )
        / n
    )
    pe = sum(actual[c] * predicted[c] for c in labels) / (n * n)
    kappa = safe(acc - pe, 1 - pe)
    return {
        "signal": round(acc, 3),
        "f1_score": round(f1_w, 3),
        "precision": round(prec_w, 3),
        "recall_score": round(rec_w, 3),
        "cohen_kappa_score": round(kappa, 3),
    }


def _majority(weights: dict):
    """The label of largest weight; ties go to the lower label."""
    return max(sorted(weights), key=lambda c: weights[c])


def _add(weights: dict, key, w: float) -> None:
    weights[key] = weights.get(key, 0.0) + w


def pattern_signal(
    rows: list[Row],
    features: str,
    tgt_idx: list[int],
    pred: str,
    seed: int = 42,
) -> dict:
    """M33 over a pattern table: each row holds a feature array, its
    label ``pred`` and the number of rows ``_w`` it stands for. The
    `_tgt` pattern of a row is its ``features`` at ``tgt_idx``.

    Each (pattern, label) cell of weight w is split 67/33 with one
    seeded generator: ``rint(w)`` binomial draws, scaled back to w (for
    a count, a row-level Bernoulli split). A pattern predicts its
    train-majority label (ties to the lower label); without train
    weight, the majority of its value in the most train-accurate `_tgt`
    column (ties to the earlier) where that value has train weight, else
    the overall one. 'all' is scored on the test weights, each segment
    ``str(int(label))`` on its full weights. A row with a NULL or NaN
    `_tgt` code or a NULL label is dropped."""
    if not tgt_idx:
        return {}
    cells: dict = {}
    for r in rows:
        x, label = r[features], r[pred]
        if label is None:
            continue
        key = tuple(x[i] for i in tgt_idx)
        if any(v is None or math.isnan(v) for v in key):
            continue
        _add(cells, (key, label), r["_w"])
    if not cells:
        return {"all": _metrics_from_confusion({})}
    # a fixed cell order: the split draws do not depend on collect order
    keys = sorted(cells)
    w = np.array([cells[k] for k in keys], dtype=np.float64)
    m = np.rint(w)
    draws = np.random.default_rng(seed).binomial(m.astype(np.int64), 0.67)
    train = np.divide(draws * w, m, out=np.zeros_like(w), where=m > 0)
    # Python floats: the metrics dict holds no numpy scalars
    w, train, test = w.tolist(), train.tolist(), (w - train).tolist()
    by_pattern: dict = {}
    by_column: list[dict] = [{} for _ in tgt_idx]
    overall: dict = {}
    for (pattern, label), t in zip(keys, train):
        _add(by_pattern.setdefault(pattern, {}), label, t)
        for j, v in enumerate(pattern):
            _add(by_column[j].setdefault(v, {}), label, t)
        _add(overall, label, t)
    # the back-off order: one-column train accuracy, ties to the earlier
    # column (sorted is stable)
    order = sorted(
        range(len(tgt_idx)),
        key=lambda j: -sum(max(lw.values()) for lw in by_column[j].values()),
    )

    def guess_of(pattern):
        backoff = [by_pattern[pattern], *(by_column[j][pattern[j]] for j in order)]
        return _majority(next((lw for lw in backoff if sum(lw.values()) > 0), overall))

    guess = {p: guess_of(p) for p in by_pattern}
    held: dict = {}
    full: dict = {}
    for (pattern, label), t, wk in zip(keys, test, w):
        cell = (label, guess[pattern])
        _add(held, cell, t)
        _add(full.setdefault(label, {}), cell, wk)
    result = {"all": _metrics_from_confusion(held)}
    for seg in sorted(full):
        result[str(int(seg))] = _metrics_from_confusion(full[seg])
    return result

