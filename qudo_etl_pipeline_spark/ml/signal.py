"""Signal-loss and consistency metrics.

Re-implements (reference: src/kraken/app/metrics.py):

- M33 RF signal loss (:714-779): RandomForest on the `_tgt` feature
  columns predicting the cluster; accuracy / weighted precision /
  recall / F1 / Cohen's kappa, overall on a 33% holdout and per
  segment; RUS / ROS sampling variants and the per-metric argmax vote
  picking the best sampler (:782-811).
- M34 chi-squared-slice signal (:407-514): iterative mode-filter
  `data_slicer` keeping >=25%->15% of segment rows, >=6 core columns,
  then TP/FP/FN/TN accuracy of the slice as a segment classifier.
- M18 model consistency (:234-270): 90/10 stratified split, refit on
  train, ARI(predicted test labels, original test labels).
- M20 label consistency (:273-308): refit on a stratified 90% sample,
  ARI(refit labels, original labels) on that sample.

Spark strategy: MLlib RandomForestClassifier; all classification
metrics come from the k x k confusion matrix (one groupBy — row-count
independent); samplers use `sampleBy` class fractions (RUS keeps each
row with seeded Bernoulli probability m/n per class — approximate
class sizes, WITHOUT replacement, a documented delta from the
reference's RandomUnderSampler(replacement=True) exact-size draw; ROS
samples every class up to the majority size). Resampling happens
BEFORE the train/test split — duplicated/synthetic rows can leak into
the holdout — because the reference does exactly that
(metrics.py:742-758: fit_resample then train_test_split); replicated
deliberately, parity over methodology. SMOTE is true k-NN SMOTE semantics per class partition:
`_smote_like` runs an Arrow-batched `applyInPandas` kernel per minority
class that finds each sample's k nearest within-class neighbors
(numpy, per-group — classes fit a partition by construction) and
interpolates toward a uniformly-chosen neighbor at a uniform step,
matching imblearn's synthetic-sample formula with a seeded RNG
(imblearn itself is not a Spark dependency; SURVEY §2.7 M33).

Scale notes: confusion matrices, slicer counts and consistency ARIs
aggregate before collecting; nothing row-scale reaches the driver. The
data_slicer loop is driver-CONTROLLED but each step is a lazy filter +
count on the executors (the reference copies the pandas frame per step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.ml.quality import adjusted_rand_index


def _confusion_matrix(
    scored: DataFrame, label_col: str, pred_col: str
) -> dict:
    """{(truth, prediction): count} in one groupBy collect."""
    return {
        (r[label_col], r[pred_col]): r["n"]
        for r in scored.groupBy(label_col, pred_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        # a pair with a NULL truth or NULL prediction is unscoreable —
        # it belongs to no confusion-matrix cell (and None labels would
        # crash the sorted() in _metrics_from_confusion); NULL-free
        # inputs are unaffected
        if r[label_col] is not None and r[pred_col] is not None
    }


def classification_metrics(
    scored: DataFrame, label_col: str, pred_col: str
) -> dict:
    """accuracy / weighted precision / recall / f1 / Cohen's kappa from
    the confusion matrix (sklearn 'weighted' average semantics,
    metrics.py:761-766). Rounded 3 as the reference."""
    return _metrics_from_confusion(_confusion_matrix(scored, label_col, pred_col))


def _metrics_from_confusion(conf: dict) -> dict:
    """:func:`classification_metrics` of a collected confusion matrix."""
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


def _resample(
    df: DataFrame,
    target_col: str,
    sampling: str | None,
    seed: int,
    max_class_rows: int = 20_000,
) -> DataFrame:
    """RUS/ROS/SMOTE-like resampling (metrics.py:742-750).
    ``max_class_rows`` caps SMOTE's per-class quadratic donor pool."""
    if sampling is None:
        return df
    counts = {
        r[target_col]: r["n"]
        for r in df.groupBy(target_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if sampling == "under":
        m = min(counts.values())
        fractions = {c: m / n for c, n in counts.items()}
        return df.sampleBy(target_col, fractions, seed=seed)
    if sampling == "over":
        m = max(counts.values())
        parts = [df]
        for c, n in counts.items():
            extra = m - n
            if extra > 0:
                parts.append(
                    df.filter(F.col(target_col) == c).sample(
                        withReplacement=True, fraction=extra / n, seed=seed
                    )
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    if sampling == "smote":
        return _smote_like(
            df, target_col, counts, seed, max_class_rows=max_class_rows
        )
    raise ValueError(f"unknown sampling {sampling!r}")


def _smote_like(
    df: DataFrame,
    target_col: str,
    counts: dict,
    seed: int,
    k: int = 5,
    max_class_rows: int = 20_000,
) -> DataFrame:
    """k-NN SMOTE (reference metrics.py:749-750, imblearn semantics):
    each synthetic minority row interpolates between a class sample and
    one of its ``k`` nearest SAME-CLASS neighbors (Euclidean), never a
    random far pair — synthetic mass stays inside the class manifold
    instead of bridging separated sub-clusters.

    Arrow-batched ``applyInPandas`` per class: the kernel sees one class
    at a time, so the neighbor search is per-class. The O(n_c^2)
    distance matrix is ENFORCED-bounded by ``max_class_rows``: a class
    larger than the cap interpolates within a seeded uniform subsample
    of the class (the donor pool), so kernel cost is O(cap^2) ≈ 3.2 GB
    of float64 distances at the 20k default, regardless of class size.
    All original rows always pass through; only the donor pool shrinks
    — the standard subsample-before-interpolate trade (oversized
    classes are the MAJORITY classes, which need few or no synthetic
    rows anyway). Classes at or under the cap take the exact un-capped
    path bit-for-bit (the subsample draw only happens above the cap,
    so the RNG stream is unchanged). Values are re-rounded to the input
    dtype because the pipeline's features are label-encoded ints.
    """
    import pandas as pd

    feature_cols = [c for c in df.columns if c != target_col]
    m = max(counts.values())
    schema = df.schema

    def interp(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        need = m - len(pdf)
        if need <= 0 or len(pdf) < 2:
            return pdf
        # md5, not hash(): Python string hashing is salted per process,
        # which would make the "seeded" kernel nondeterministic across
        # runs and task retries
        import hashlib

        label_off = int(
            hashlib.md5(str(pdf[target_col].iloc[0]).encode()).hexdigest()[:8],
            16,
        )
        rng = np.random.default_rng(seed + label_off)
        x = pdf[feature_cols].to_numpy(dtype=float)
        if len(x) > max_class_rows:
            # donor-pool subsample: caps the quadratic neighbor search
            x = x[rng.choice(len(x), max_class_rows, replace=False)]
        n = len(x)
        kk = min(k, n - 1)
        # pairwise squared distances within the (capped) donor pool;
        # self excluded via +inf diagonal, then the kk nearest per row
        d2 = ((x[:, None, :] - x[None, :, :]) ** 2).sum(axis=2)
        np.fill_diagonal(d2, np.inf)
        nn = np.argpartition(d2, kth=kk - 1, axis=1)[:, :kk]
        i = rng.integers(0, n, need)
        j = nn[i, rng.integers(0, kk, need)]
        lam = rng.random(need)[:, None]
        sx = x[i] + lam * (x[j] - x[i])
        synth = {
            c: np.rint(sx[:, ci]).astype(pdf[c].dtype)
            for ci, c in enumerate(feature_cols)
        }
        synth[target_col] = pdf[target_col].iloc[0]
        return pd.concat([pdf, pd.DataFrame(synth)], ignore_index=True)

    return df.groupBy(target_col).applyInPandas(interp, schema=schema)


def signal_loss(
    df: DataFrame,
    tgt_cols: list[str],
    target_col: str = "prediction",
    sampling: str | None = None,
    seed: int = 42,
) -> dict:
    """M33: RF on tgt features -> cluster; 'all' on a 33% holdout plus
    per-segment metrics on each segment's full rows (metrics.py:714-779)."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    if not tgt_cols:
        return {}
    base = df.select(
        *[F.col(c).cast("double").alias(c) for c in tgt_cols],
        F.col(target_col).cast("double").alias("label"),
    )
    # complete cases only: a NULL feature crashes VectorAssembler
    # (handleInvalid='error') and a NULL label crashes the RF fit and
    # the per-segment sort — an incomplete row carries no signal to
    # measure, so drop it up front (pushed to the scan; NULL-free
    # inputs are untouched). Mirrors the reference's
    # LabelEncoder-encoded inputs, which cannot hold NaN.
    base = base.na.drop()
    sampled = _resample(base, "label", sampling, seed)
    assembler = VectorAssembler(inputCols=tgt_cols, outputCol="features")
    train, test = assembler.transform(sampled).randomSplit(
        [0.67, 0.33], seed=seed
    )
    rf = RandomForestClassifier(seed=seed, labelCol="label").fit(train)
    result = {"all": classification_metrics(rf.transform(test), "label", "prediction")}
    # a segment's confusion matrix is the label == seg slice of the
    # full one: one collect serves every segment
    conf = _confusion_matrix(
        rf.transform(assembler.transform(base)), "label", "prediction"
    )
    for seg in sorted({label for label, _ in conf}):
        result[str(int(seg))] = _metrics_from_confusion(
            {k: n for k, n in conf.items() if k[0] == seg}
        )
    return result


def best_signal_metric(
    df: DataFrame,
    tgt_cols: list[str],
    target_col: str = "prediction",
    seed: int = 42,
) -> dict:
    """Winner = per-metric argmax vote over rus/ros/none 'all' dicts
    (metrics.py:782-811; pandas idxmax ties -> first column 'rus')."""
    variants = {
        "rus": signal_loss(df, tgt_cols, target_col, "under", seed),
        "ros": signal_loss(df, tgt_cols, target_col, "over", seed),
        "none": signal_loss(df, tgt_cols, target_col, None, seed),
    }
    order = ["rus", "ros", "none"]
    votes: dict[str, int] = {k: 0 for k in order}
    for metric in ["signal", "f1_score", "precision", "recall_score", "cohen_kappa_score"]:
        best = max(order, key=lambda k: (variants[k]["all"][metric], -order.index(k)))
        votes[best] += 1
    winner = max(order, key=lambda k: (votes[k], -order.index(k)))
    return variants[winner]


def data_slicer(
    df: DataFrame, tgt_cols: list[str], pop_modes: list
) -> tuple[DataFrame, list[str], list[str], float]:
    """M34 iterative mode-filter (metrics.py:407-437), replicated with
    the reference's exact control flow (incl. min_count rebinding to the
    CURRENT sliced size each sweep)."""
    percent_retained = 0.25
    min_count = percent_retained * df.count()
    core_cols: list[str] = []
    sub_cols: list[str] = []
    # Each accepted filter is cached (and the previous cache released):
    # the next candidate's count reads ONE cached frame + one filter
    # instead of re-scanning the whole compounding filter chain from the
    # base table — O(accepted) passes, not O(accepted^2).
    data = df
    prev_cache = None
    while len(core_cols) < 6:
        if percent_retained < 0.15:
            break
        core_cols = []
        sub_cols = []
        for col, mode in zip(tgt_cols, pop_modes):
            # cache BEFORE counting so the count materializes the cache,
            # and only then release the parent — evicting first would
            # force the next candidate to recompute the whole filter
            # chain from the base table
            filtered = data.filter(F.col(col).eqNullSafe(F.lit(mode))).cache()
            if filtered.count() < min_count:
                filtered.unpersist()
                sub_cols.append(col)
            else:
                if prev_cache is not None:
                    prev_cache.unpersist()
                data = prev_cache = filtered
                core_cols.append(col)
        percent_retained -= 0.01
        min_count = percent_retained * data.count()
    return data, core_cols, sub_cols, percent_retained


def chi_square_signal(
    sliced: DataFrame, original: DataFrame, seg, label_col: str = "prediction"
) -> dict:
    """TP/FP/FN/TN accuracy of a slice as a segment predictor
    (metrics.py:440-460). Zeros on an empty slice."""
    is_seg = (F.col(label_col) == seg).cast("long")
    s = sliced.agg(
        F.count(F.lit(1)).alias("n"), F.sum(is_seg).alias("tp")
    ).collect()[0]
    n_slice = s["n"]
    if n_slice == 0:
        return {"signal": 0, "precision": 0, "recall_score": 0, "f1_score": 0}
    # sum over an all-NULL slice (labels all NULL) is NULL, not 0
    tp = s["tp"] or 0
    # NULL labels belong to neither count (the filter forms exclude them)
    o = original.agg(
        F.sum(is_seg).alias("true"),
        F.sum((F.col(label_col) != seg).cast("long")).alias("false"),
    ).collect()[0]
    true = o["true"] or 0
    false = o["false"] or 0
    fp = n_slice - tp
    fn = true - tp
    tn = false - fp
    try:
        accuracy = round((tp + tn) / (tp + tn + fp + fn), 3)
        precision = round(tp / (tp + fp), 3)
        recall = round(tp / (tp + fn), 3)
        f1 = round(2 * (precision * recall) / (precision + recall), 3)
        return {
            "signal": accuracy,
            "precision": precision,
            "recall_score": recall,
            "f1_score": f1,
        }
    except ZeroDivisionError:
        return {"signal": 0, "precision": 0, "recall_score": 0, "f1_score": 0}


def model_consistency(
    df: DataFrame,
    refit,
    label_col: str = "prediction",
    test_frac: float = 0.1,
    seed: int = 42,
) -> float:
    """M18 (metrics.py:234-270): stratified 90/10 split, `refit(train)`
    returns a scorer mapping the test frame to new labels; ARI between
    refit predictions and original test labels."""
    # stratification is undefined for an unlabeled row (and sampleBy
    # refuses a None fraction key) — unassigned rows are excluded
    df = df.filter(F.col(label_col).isNotNull())
    labels = [r[label_col] for r in df.select(label_col).distinct().collect()]
    fractions = {l: 1 - test_frac for l in labels}
    train = df.sampleBy(label_col, fractions, seed=seed)
    test = df.exceptAll(train)
    predict = refit(train)
    # the refit scorer writes `label_col`; keep the originals as _orig
    test_renamed = test.withColumnRenamed(label_col, "_orig")
    scored = predict(test_renamed)
    return adjusted_rand_index(scored, "_orig", label_col)


def label_consistency(
    df: DataFrame,
    refit,
    label_col: str = "prediction",
    train_frac: float = 0.9,
    seed: int = 42,
) -> float:
    """M20 (metrics.py:273-308): refit on a stratified 90% sample; ARI
    between refit labels and the original labels on that sample."""
    # unassigned rows excluded — see model_consistency
    df = df.filter(F.col(label_col).isNotNull())
    labels = [r[label_col] for r in df.select(label_col).distinct().collect()]
    fractions = {l: train_frac for l in labels}
    train = df.sampleBy(label_col, fractions, seed=seed)
    train_renamed = train.withColumnRenamed(label_col, "_orig")
    predict = refit(train_renamed)
    scored = predict(train_renamed)
    return adjusted_rand_index(scored, "_orig", label_col)
