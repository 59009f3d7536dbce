"""Tests for ml/signal.py (M33), its catalog-side samplers, slice signal
and consistency checks in catalog/ml_q.py (M33/M34/M18/M20) and
ml/business.py (M28-M31, M35-M37) — reference: src/kraken/app/metrics.py."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from qudo_etl_pipeline_spark.catalog import ml_q as MQ
from qudo_etl_pipeline_spark.ml import business as B
from qudo_etl_pipeline_spark.ml import signal as S


@pytest.fixture(scope="module")
def deliver(spark):
    """Hand-built deliver-stats: 2 segments, overlapping + unique pairs."""
    rows = [
        # q_code, pop_mode, chi_2_result, sig_more_category, targeting_seg
        ("1001_tgt_a", "yes", 0.001, ["yes"], "0"),
        ("1002_tgt_b", "no", 0.010, ["no"], "0"),
        ("psy_2001_x", "hi", 0.020, ["hi"], "0"),
        ("1001_tgt_a", "yes", 0.002, ["yes"], "1"),  # duplicated pair
        ("ae_3001_y", "lo", 0.030, ["lo"], "1"),
        ("fun_4001_z", "mid", 0.200, ["mid"], "1"),  # not significant
    ]
    return spark.createDataFrame(
        rows,
        "q_code: string, pop_mode: string, chi_2_result: double, "
        "sig_more_category: array<string>, targeting_seg: string",
    )


@pytest.fixture(scope="module")
def labeled(spark):
    """200 rows, 2 clusters; tgt columns correlate with the cluster."""
    rng = np.random.default_rng(9)
    rows = []
    for i in range(200):
        cl = i % 2
        t1 = cl if rng.random() > 0.1 else 1 - cl
        t2 = cl if rng.random() > 0.2 else 1 - cl
        mc = "Facebook" if (cl == 0 and rng.random() > 0.3) else "Twitter"
        rows.append((i, cl, int(t1), int(t2), mc))
    return spark.createDataFrame(
        rows,
        "row_id: long, prediction: int, q1_tgt: int, q2_tgt: int, mc_social: string",
    ).cache()


def test_uniqueness(spark, deliver):
    u = B.uniqueness(deliver)
    # seg 0: 3 pairs, 1 duplicated -> 1 - 1/3; seg 1: 3 pairs, 1 dup
    assert u["0"] == pytest.approx(1 - 1 / 3)
    assert u["1"] == pytest.approx(1 - 1 / 3)


def test_communicability(spark, deliver):
    c = B.communicability(deliver)
    assert c["data"] == {"0": 1, "1": 1}
    assert c["avg"] == pytest.approx(1.0)


def test_social_presence(spark, labeled):
    sp = MQ.social_presence(labeled, "Facebook")
    assert 0.5 < sp[0] <= 1.0
    assert sp[1] == 0.0
    assert math.isnan(
        MQ.social_presence(labeled.drop("mc_social"), "Facebook")
    )


def _two_candidates(spark, a, b):
    return spark.createDataFrame(
        [(0, a[0], b[0]), (0, a[1], b[1]), (1, a[2], b[2]), (1, a[3], b[3])],
        "prediction: int, mc_a: string, mc_b: string",
    )


def test_social_presence_uses_the_candidate_that_mentions_the_platform(spark):
    df = _two_candidates(
        spark,
        ["Twitter", "TikTok", "Twitter", None],
        ["Facebook", "Twitter", "facebook groups", "Facebook"],
    )
    # only mc_b mentions the platform: exact "Facebook" answers per cluster
    assert MQ.social_presence(df, "Facebook") == {0: 0.5, 1: 0.5}


def test_social_presence_first_candidate_in_column_order_wins(spark):
    df = _two_candidates(
        spark,
        ["Facebook", "Facebook", "Twitter", "Facebook"],
        ["Facebook", "Twitter", "Twitter", "Twitter"],
    )
    assert MQ.social_presence(df, "Facebook") == {0: 1.0, 1: 0.5}
    swapped = df.select("prediction", "mc_b", "mc_a")
    assert MQ.social_presence(swapped, "Facebook") == {0: 0.5, 1: 0.0}


def test_social_presence_of_an_empty_frame_is_nan(spark):
    df = _two_candidates(
        spark, ["Facebook"] * 4, ["Facebook"] * 4
    ).limit(0)
    assert math.isnan(MQ.social_presence(df, "Facebook"))


def test_magnitude(spark, deliver, labeled):
    m = MQ.magnitude(deliver, labeled, ["q1_tgt", "q2_tgt"])
    # seg 0: 2 sig tgt rows / 2 tgt vars = 1.0 ratio * 0.5 share = 0.5
    # seg 1: 1 sig tgt row  / 2 tgt vars = 0.5 ratio * 0.5 share = 0.25
    assert m["0" if "0" in m else 0] == pytest.approx(0.5)
    assert m["1" if "1" in m else 1] == pytest.approx(0.25)
    assert m["all_clusters"] == pytest.approx(0.75)


def test_message_reach():
    social = {0: 0.8, 1: 0.4}
    sig = {"all": {"signal": 0.9}, "0": {"signal": 0.5}, "1": {"signal": 0.25}}
    r = B.message_reach(social, sig)
    assert r == {"0": 0.4, "1": 0.1}
    assert math.isnan(B.message_reach(float("nan"), sig))


def test_sig_variables_and_spread(spark, deliver):
    num_sig, num_sig_tgt, groups, tgt_groups = B.significant_variables_and_spread(
        deliver
    )
    assert num_sig == {"0": 3, "1": 2}
    assert num_sig_tgt == {"0": 2, "1": 1}
    # prefix of '1001_tgt_a' is '1001'; 2 occurrences overall, both sig
    assert groups["0"]["1001"] == pytest.approx(0.5)
    assert tgt_groups["0"]["1001"] == pytest.approx(0.5)


def test_classification_metrics_perfect_and_weighted(spark):
    rows = [(0, 0)] * 50 + [(1, 1)] * 30 + [(1, 0)] * 20
    df = spark.createDataFrame(rows, "label: int, prediction: int")
    m = MQ.classification_metrics(df, "label", "prediction")
    # sklearn-checked by hand: acc 0.8; weighted prec/rec/f1
    assert m["signal"] == pytest.approx(0.8)
    assert m["recall_score"] == pytest.approx(0.8)
    prec0, prec1 = 50 / 70, 30 / 30
    assert m["precision"] == pytest.approx(
        round((50 * prec0 + 50 * prec1) / 100, 3)
    )
    po, pe = 0.8, (50 * 70 + 50 * 30) / 100**2
    assert m["cohen_kappa_score"] == pytest.approx(round((po - pe) / (1 - pe), 3))


def test_signal_loss_rf(spark, labeled):
    out = MQ.signal_loss(labeled, ["q1_tgt", "q2_tgt"])
    assert out["all"]["signal"] > 0.7  # tgt features carry the cluster
    assert set(out) == {"all", "0", "1"}
    for k in ["signal", "f1_score", "precision", "recall_score", "cohen_kappa_score"]:
        assert 0 <= out["all"][k] <= 1
    # the frame's signal loss is pattern_signal over its (tgt codes,
    # label, count) table, here counted by hand from the rows
    counts = Counter(
        ((float(r["q1_tgt"]), float(r["q2_tgt"])), r["prediction"])
        for r in labeled.collect()
    )
    table = [
        Row(features=list(x), prediction=y, _w=n) for (x, y), n in counts.items()
    ]
    assert out == S.pattern_signal(table, "features", [0, 1], "prediction")


# -- pattern_signal on hand-built pattern tables ------------------------------


def _table(cells):
    """Pattern-table rows from (features, label, weight) triples."""
    return [Row(features=list(x), label=y, _w=w) for x, y, w in cells]


def _split(rows, tgt, seed=42):
    """The documented split of the (tgt pattern, label) cells: sorted,
    one seeded generator, rint(w) binomial draws scaled back to w.
    Returns {cell: (train, test)}."""
    cells: dict = {}
    for r in rows:
        key = (tuple(r["features"][i] for i in tgt), r["label"])
        cells[key] = cells.get(key, 0.0) + r["_w"]
    keys = sorted(cells)
    w = np.array([cells[k] for k in keys])
    m = np.rint(w)
    draws = np.random.default_rng(seed).binomial(m.astype(np.int64), 0.67)
    train = draws * w / m
    return {k: (t, wk - t) for k, t, wk in zip(keys, train, w)}


def _weighted_scores(truth, guess, weight) -> dict:
    """accuracy, support-weighted precision / recall / F1 and Cohen's
    kappa of weighted (truth, guess) rows, from a numpy confusion matrix."""
    labels = np.unique(np.concatenate([truth, guess]))
    t = np.searchsorted(labels, truth)
    g = np.searchsorted(labels, guess)
    conf = np.zeros((len(labels), len(labels)))
    np.add.at(conf, (t, g), weight)
    n = conf.sum()
    tp, actual, predicted = np.diag(conf), conf.sum(axis=1), conf.sum(axis=0)
    with np.errstate(divide="ignore", invalid="ignore"):
        prec = np.where(predicted > 0, tp / predicted, 0.0)
        rec = np.where(actual > 0, tp / actual, 0.0)
        f1 = np.where(prec + rec > 0, 2 * prec * rec / (prec + rec), 0.0)
    acc = tp.sum() / n
    pe = (actual * predicted).sum() / n**2
    return {
        "signal": round(acc, 3),
        "f1_score": round(float(actual @ f1 / n), 3),
        "precision": round(float(actual @ prec / n), 3),
        "recall_score": round(float(actual @ rec / n), 3),
        "cohen_kappa_score": round((acc - pe) / (1 - pe) if pe != 1 else 0.0, 3),
    }


def _expanded_oracle(rows, tgt, seed=42) -> dict:
    """pattern_signal by a direct count over the expanded rows: every
    integer cell becomes w unit rows, the first `train` of them in the
    train part."""
    split = _split(rows, tgt, seed)
    pat, lab, is_train = [], [], []
    for (p, y), (tr, te) in split.items():
        k = int(round(tr + te))
        pat += [p] * k
        lab += [y] * k
        is_train += [True] * int(round(tr)) + [False] * (k - int(round(tr)))
    lab, is_train = np.array(lab), np.array(is_train)
    codes = {p: i for i, p in enumerate(sorted(set(pat)))}
    pid = np.array([codes[p] for p in pat])
    labels = np.unique(lab)
    votes = np.zeros((len(codes), len(labels)))
    np.add.at(votes, (pid[is_train], np.searchsorted(labels, lab[is_train])), 1)
    overall = labels[np.argmax(votes.sum(axis=0))]
    # the column back-off: each tgt column's value -> train-majority
    # label, applied from the least to the most accurate column so the
    # most accurate column with a seen value wins
    cols = np.array(pat)
    guess, col_guess, col_seen, acc = np.full(len(lab), overall), [], [], []
    for j in range(cols.shape[1]):
        _, vid = np.unique(cols[:, j], return_inverse=True)
        cv = np.zeros((vid.max() + 1, len(labels)))
        np.add.at(cv, (vid[is_train], np.searchsorted(labels, lab[is_train])), 1)
        acc.append(cv.max(axis=1).sum())
        col_guess.append(labels[cv.argmax(axis=1)][vid])
        col_seen.append(cv.sum(axis=1)[vid] > 0)
    for j in np.argsort(-np.array(acc), kind="stable")[::-1]:
        guess = np.where(col_seen[j], col_guess[j], guess)
    # argmax takes the first maximum: ties go to the lower label
    seen = votes.sum(axis=1)[pid] > 0
    guess = np.where(seen, labels[votes.argmax(axis=1)][pid], guess)
    ones = np.ones(len(lab))
    out = {"all": _weighted_scores(lab[~is_train], guess[~is_train], ones[~is_train])}
    for seg in labels:
        sel = lab == seg
        out[str(int(seg))] = _weighted_scores(lab[sel], guess[sel], ones[sel])
    return out


# 3 labels; tgt codes at positions 0 and 2; the non-tgt position 1 splits
# some tgt patterns over several rows; the single row of pattern (2, 0)
# falls in the holdout at some seeds
_CELLS = [
    ((0.0, 0.0, 0.0), 0, 30), ((0.0, 1.0, 0.0), 0, 9), ((0.0, 0.0, 0.0), 1, 12),
    ((0.0, 0.0, 1.0), 1, 25), ((0.0, 1.0, 1.0), 2, 14), ((1.0, 0.0, 0.0), 2, 22),
    ((1.0, 1.0, 0.0), 0, 8), ((1.0, 0.0, 1.0), 2, 17), ((1.0, 0.0, 1.0), 1, 15),
    ((2.0, 0.0, 2.0), 1, 3), ((2.0, 1.0, 0.0), 0, 1),
]


def test_pattern_signal_equals_a_count_over_the_expanded_rows():
    rows = _table(_CELLS)
    # seed 7 leaves pattern (2, 0) without train weight while its
    # column-0 value has some: the column back-off is exercised
    split = _split(rows, [0, 2], 7)
    assert split[((2.0, 0.0), 0)][0] == 0 < split[((2.0, 2.0), 1)][0]
    for seed in (42, 7, 1):
        got = S.pattern_signal(rows, "features", [0, 2], "label", seed)
        assert got == _expanded_oracle(rows, [0, 2], seed), seed
    assert set(got) == {"all", "0", "1", "2"}
    # plain floats: the dict feeds Spark rows and sinks, which refuse
    # numpy scalars
    assert all(type(v) is float for m in got.values() for v in m.values())


def test_pattern_signal_shuffled_rows_give_the_same_dict():
    rows = _table(_CELLS)
    want = S.pattern_signal(rows, "features", [0, 2], "label")
    rng = np.random.default_rng(3)
    for _ in range(5):
        shuffled = [rows[i] for i in rng.permutation(len(rows))]
        assert S.pattern_signal(shuffled, "features", [0, 2], "label") == want


def _seed_where(rows, tgt, cond):
    return next(s for s in range(1000) if cond(_split(rows, tgt, s)))


def test_pattern_signal_majority_tie_goes_to_the_lower_label():
    # pattern (0,) is split evenly between labels 1 and 2; label 0 is
    # the overall majority, so the tie is not settled by the fallback
    rows = _table([((0.0,), 1, 3), ((0.0,), 2, 3), ((1.0,), 0, 40)])
    seed = _seed_where(
        rows, [0],
        lambda sp: sp[((0.0,), 1)][0] == sp[((0.0,), 2)][0] > 0,
    )
    got = S.pattern_signal(rows, "features", [0], "label", seed)
    assert got == _expanded_oracle(rows, [0], seed)
    assert got["1"]["signal"] == 1.0 and got["2"]["signal"] == 0.0


def test_pattern_signal_unseen_pattern_gets_the_overall_majority():
    # pattern (5,) has no train weight, nor has its one column's value;
    # label 1 is the overall train majority, and the lower label 0 is not
    rows = _table([((0.0,), 0, 5), ((1.0,), 1, 20), ((5.0,), 1, 1)])
    seed = _seed_where(
        rows, [0],
        lambda sp: sp[((5.0,), 1)][0] == 0
        and sp[((0.0,), 0)][0] > 0
        and sp[((1.0,), 1)][0] > 0,
    )
    got = S.pattern_signal(rows, "features", [0], "label", seed)
    assert got == _expanded_oracle(rows, [0], seed)
    assert got["1"]["signal"] == 1.0
    # the unseen pattern's row is scored in the holdout
    assert got["all"]["signal"] == 1.0


def test_pattern_signal_unseen_pattern_backs_off_to_the_best_column():
    # column a decides the label and column b does not, so a ranks
    # first wherever it stands. Pattern (a=0, b=2) has no train weight:
    # its a value says 0, its b value and the overall majority say 1
    cells = [
        ((0.0, 0.0), 0, 20), ((0.0, 1.0), 0, 20), ((1.0, 0.0), 1, 10),
        ((1.0, 1.0), 1, 10), ((1.0, 2.0), 1, 30), ((0.0, 2.0), 0, 1),
    ]
    for order in ([0, 1], [1, 0]):
        rows = _table([(tuple(x[i] for i in order), y, w) for x, y, w in cells])
        unseen = (tuple((0.0, 2.0)[i] for i in order), 0)
        seed = _seed_where(
            rows, [0, 1],
            lambda sp: sp[unseen][0] == 0
            and all(tr > 0 for k, (tr, _) in sp.items() if k != unseen),
        )
        got = S.pattern_signal(rows, "features", [0, 1], "label", seed)
        assert got == _expanded_oracle(rows, [0, 1], seed), order
        assert got["all"]["signal"] == got["0"]["signal"] == 1.0, order


def test_pattern_signal_drops_null_codes_and_labels():
    rows = _table(_CELLS)
    dirty = rows + _table([
        ((None, 0.0, 0.0), 0, 50),
        ((0.0, 0.0, float("nan")), 2, 50),
        ((1.0, 0.0, 1.0), None, 50),
    ])
    want = S.pattern_signal(rows, "features", [0, 2], "label")
    assert S.pattern_signal(dirty, "features", [0, 2], "label") == want
    # a NULL outside the tgt positions keeps its row
    kept = rows + _table([((0.0, None, 0.0), 2, 50)])
    assert S.pattern_signal(kept, "features", [0, 2], "label") != want


def test_pattern_signal_edge_cases():
    rows = _table(_CELLS)
    assert S.pattern_signal(rows, "features", [], "label") == {}
    nothing = _table([((None, 0.0, 0.0), 0, 5), ((1.0, 0.0, 1.0), None, 5)])
    zeros = dict.fromkeys(
        ["signal", "f1_score", "precision", "recall_score", "cohen_kappa_score"],
        0.0,
    )
    assert S.pattern_signal(nothing, "features", [0, 2], "label") == {"all": zeros}


def test_pattern_signal_splits_horvitz_thompson_weights():
    # sampled-table weights are not integers: each cell's rint(w) draws
    # are scaled back to w, so train + test keeps the cell's mass
    cells = [
        ((0.0,), 0, 12.7), ((0.0,), 1, 3.2), ((1.0,), 1, 9.5),
        ((1.0,), 2, 4.4), ((2.0,), 2, 7.9), ((2.0,), 0, 1.3),
    ]
    rows = _table(cells)
    split = _split(rows, [0])
    for (p, y), (tr, te) in split.items():
        w = dict(((c[0], c[1]), c[2]) for c in cells)[(p, y)]
        assert tr + te == pytest.approx(w) and 0 <= tr <= w
    guess = {}
    for p in {p for p, _ in split}:
        lw = {y: tr for (q, y), (tr, _) in split.items() if q == p}
        guess[p] = max(sorted(lw), key=lambda y: lw[y])
    keys = sorted(split)
    truth = np.array([y for _, y in keys])
    pred = np.array([guess[p] for p, _ in keys])
    test = np.array([split[k][1] for k in keys])
    full = np.array([sum(split[k]) for k in keys])
    want = {"all": _weighted_scores(truth, pred, test)}
    for seg in (0, 1, 2):
        sel = truth == seg
        want[str(seg)] = _weighted_scores(truth[sel], pred[sel], full[sel])
    assert S.pattern_signal(rows, "features", [0], "label") == want


def test_pattern_signal_of_a_tgt_derived_label_is_one_everywhere():
    # the label is a tgt code, as the rules family's label is its rules
    # column. Dense: 18 patterns of 5-40 rows, every pattern pure.
    # Sparse: 192 singleton patterns, so every held-out pattern is unseen
    # in train; a leading row-id column is as accurate on train and ranks
    # first, but its held-out values are never seen, so the back-off
    # moves on to the label's column
    rng = np.random.default_rng(11)
    dense = [
        ((float(a), float(b), float(c)), a, int(rng.integers(5, 40)))
        for a in range(3) for b in range(2) for c in range(3)
    ]
    codes = [
        (a, b, c, d)
        for a in range(3) for b in range(4) for c in range(4) for d in range(4)
    ]
    sparse = [((float(i), *map(float, x)), x[0], 1) for i, x in enumerate(codes)]
    for cells, tgt in [(dense, [0, 2]), (sparse, [0, 1, 2, 3, 4])]:
        for seed in (42, 7):
            rows = _table(cells)
            got = S.pattern_signal(rows, "features", tgt, "label", seed)
            assert got == _expanded_oracle(rows, tgt, seed)
            assert set(got) == {"all", "0", "1", "2"}
            for key, m in got.items():
                assert m["signal"] == m["f1_score"] == m["precision"] == 1.0, key
                assert m["recall_score"] == 1.0, key
            assert got["all"]["cohen_kappa_score"] == 1.0
    # without the label's column the sparse table scores far below 1
    got = S.pattern_signal(_table(sparse), "features", [0, 2, 3, 4], "label")
    assert got["all"]["signal"] < 0.6


def test_best_signal_metric_votes(spark, labeled):
    best = MQ.best_signal_metric(labeled, ["q1_tgt", "q2_tgt"])
    assert "all" in best and best["all"]["signal"] > 0.5


def test_resample_shapes(spark, labeled):
    skewed = labeled.filter(
        (F.col("prediction") == 0) | (F.col("row_id") < 40)
    )
    base = skewed.select(
        F.col("q1_tgt").cast("double"),
        F.col("q2_tgt").cast("double"),
        F.col("prediction").cast("double").alias("label"),
    )
    counts = {
        r["label"]: r["n"]
        for r in base.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    over = MQ._resample(base, "label", "over", 42)
    oc = {
        r["label"]: r["n"]
        for r in over.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    assert oc[1.0] > counts[1.0]  # minority class grew
    sm = MQ._resample(base, "label", "smote", 42)
    sc = {
        r["label"]: r["n"]
        for r in sm.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    assert sc[1.0] == max(counts.values())  # exact top-up


def test_data_slicer_and_chi_square_signal(spark, labeled):
    sliced, core, sub, pct = MQ.data_slicer(
        labeled.filter(F.col("prediction") == 0),
        ["q1_tgt", "q2_tgt"],
        [0, 0],
    )
    assert set(core) | set(sub) == {"q1_tgt", "q2_tgt"}
    res = MQ.chi_square_signal(sliced, labeled, 0)
    assert res["recall_score"] > 0.5
    empty = MQ.chi_square_signal(
        labeled.filter(F.lit(False)), labeled, 0
    )
    assert empty == {"signal": 0, "precision": 0, "recall_score": 0, "f1_score": 0}


def test_consistency_checkers(spark, labeled):
    """A perfectly-reproducible 'model' (labels = q1_tgt majority rule)
    must score ARI near 1 on both checks."""

    def refit(train):
        def predict(frame):
            return frame.withColumn(
                "prediction", F.col("q1_tgt").cast("int")
            )

        return predict

    mc = MQ.model_consistency(labeled, refit)
    lc = MQ.label_consistency(labeled, refit)
    # q1_tgt agrees with the cluster ~90% of the time -> high but <1 ARI
    assert mc > 0.4 and lc > 0.4


def test_get_all_metrics_composition(spark, labeled, deliver):
    feats = labeled.withColumn(
        "features",
        F.array(F.col("q1_tgt").cast("double"), F.col("q2_tgt").cast("double")),
    )
    m = B.get_all_metrics(
        MQ.pattern_table(feats, ["features", "mc_social", "prediction"]),
        deliver=deliver,
        tgt_idx=[0, 1],
    )
    for key in [
        "silhouette", "davies_bouldin", "calinski_harabasz",
        "cluster_proportions", "fb_presence", "uniqueness",
        "communicability_clusters", "magnitude", "signal_loss",
        "message_reach", "num_sig_vars",
    ]:
        assert key in m, key


def test_chi_square_signal_all_null_labels(spark):
    """A non-empty slice whose labels are all NULL must yield zeros, not
    a TypeError from NULL - int arithmetic."""
    from qudo_etl_pipeline_spark.catalog.ml_q import chi_square_signal

    df = spark.createDataFrame(
        [(1, None), (2, None)], "id long, prediction string"
    )
    out = chi_square_signal(df, df, "segA")
    assert out["signal"] == 0 and out["precision"] == 0


def test_smote_interpolates_true_nearest_neighbors(spark):
    """k-NN SMOTE property (reference metrics.py:749-750, imblearn
    semantics): the minority class has two sub-clusters separated by a
    wide gap. True k-NN interpolation synthesizes only WITHIN a
    sub-cluster; random-pair interpolation (the old implementation)
    would drop ~half its synthetic mass into the empty gap."""
    from qudo_etl_pipeline_spark.catalog.ml_q import _resample

    rows = []
    rid = 0
    # majority class 0: 80 rows anywhere
    for i in range(80):
        rows.append((float(i % 7), float((i * 3) % 5), 0.0))
    # minority class 1: two tight sub-clusters at x~0 and x~1000
    for i in range(10):
        rows.append((0.0 + i % 3, 0.0 + (i * 2) % 3, 1.0))
        rows.append((1000.0 + i % 3, 1000.0 + (i * 2) % 3, 1.0))
    df = spark.createDataFrame(rows, "f1 double, f2 double, label double")
    counts = {
        r["label"]: r["n"]
        for r in df.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    out = _resample(df, "label", "smote", 42)
    minority = [
        (r["f1"], r["f2"])
        for r in out.filter(F.col("label") == 1.0).collect()
    ]
    assert len(minority) == counts[0.0]  # topped up to majority size
    # every minority point (original or synthetic) lies inside one of the
    # sub-cluster boxes; nothing lands in the gap
    for f1, f2 in minority:
        in_low = f1 <= 10 and f2 <= 10
        in_high = f1 >= 990 and f2 >= 990
        assert in_low or in_high, (f1, f2)


def test_smote_max_class_rows_guard(spark):
    """The O(n_c^2) kernel must be capped: with max_class_rows far below
    a class size, SMOTE still completes, still tops every class up to
    the majority size, and synthetic rows still interpolate inside the
    class manifold (donor pool is a subsample of the class, so the
    bounding-box property survives)."""
    from qudo_etl_pipeline_spark.catalog.ml_q import _resample

    rows = []
    # class 0 (majority, "oversized" vs the tiny cap): 400 tight rows
    for i in range(400):
        rows.append((50.0 + i % 5, 50.0 + (i * 3) % 5, 0.0))
    # class 1 (minority, also above the cap): 120 rows near origin
    for i in range(120):
        rows.append((0.0 + i % 4, 0.0 + (i * 2) % 4, 1.0))
    df = spark.createDataFrame(rows, "f1 double, f2 double, label double")
    out = _resample(df, "label", "smote", 42, max_class_rows=50)
    got = {
        r["label"]: r["n"]
        for r in out.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    assert got == {0.0: 400, 1.0: 400}  # exact top-up despite the cap
    for r in out.filter(F.col("label") == 1.0).collect():
        assert 0 <= r["f1"] <= 4 and 0 <= r["f2"] <= 4  # in-manifold
    # under-cap classes take the identical un-capped path: same draw
    small = df.filter((F.col("label") == 1.0) | (F.col("f1") >= 50))
    a = _resample(small, "label", "smote", 7).orderBy("f1", "f2").collect()
    b = _resample(small, "label", "smote", 7, max_class_rows=10**6) \
        .orderBy("f1", "f2").collect()
    assert a == b


def test_classification_metrics_null_pairs_unscoreable(spark):
    """A NULL truth or prediction belongs to no confusion cell —
    metrics equal the NULL-free subset's (r11 NULL-salt sweep)."""
    from qudo_etl_pipeline_spark.catalog.ml_q import classification_metrics

    rows = [("a", "a"), ("a", "b"), ("b", "b"), (None, "a"), ("b", None)]
    df = spark.createDataFrame(rows, "label string, pred string")
    m = classification_metrics(df, "label", "pred")
    clean = classification_metrics(
        df.filter("label IS NOT NULL AND pred IS NOT NULL"), "label", "pred"
    )
    assert m == clean


def test_consistency_checks_skip_null_labels(spark):
    """model/label consistency stratify by label: NULL labels are
    excluded instead of crashing sampleBy (r11 NULL-salt sweep)."""
    from pyspark.sql import functions as F

    from qudo_etl_pipeline_spark.catalog.ml_q import (
        label_consistency,
        model_consistency,
    )

    rows = [(i, i % 2 if i % 7 else None) for i in range(60)]
    df = spark.createDataFrame(rows, "row_id long, prediction int")

    def refit(train):
        def predict(frame):
            return frame.withColumn(
                "prediction", (F.col("row_id") % 2).cast("int")
            )
        return predict

    assert model_consistency(df, refit) == 1.0
    assert label_consistency(df, refit) == 1.0
