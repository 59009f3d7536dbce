"""Seeded survey generator for the benchmark (FIXTURES.md F1 conventions).

One latent class variable is planted: every respondent belongs to one of
``N_CLASSES`` classes, and every question prefers a class-specific answer
with probability ``STRENGTH`` (else a uniform answer). Questions are
conditionally independent given the class.

Question columns come in two kinds:

- independent questions: drawn separately per respondent, from a bank that
  follows the reference's naming conventions (``_fb``/``_gg`` targetable
  columns, ``mc_`` social platform column, numeric answer codes, Likert,
  stray HTML, ``'Not shown'`` sentinels, NAs);
- one duplicated-question block: exact copies of the last ``n_dup``
  independent questions, renamed the way ``tools/time_pipeline.py`` widens
  a survey (``a_b_c_rb`` -> ``a_b_c1_rb``). Real surveys repeat question
  blocks; the copies also make the feature covariance singular, which is
  the input on which the GMM family is known to hang (see NOTES.md).

The same (n, n_questions, n_dup, seed) always gives the same frame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

LIKERT = [
    "Strongly agree", "Agree", "Neither agree nor disagree",
    "Disagree", "Strongly disagree",
]

# (name, options) in F1's {category}_{market}_{topic}_{qtype} shape
QUESTION_BANK = [
    ("fin_uk_goal_fb", ["Save", "Invest", "Spend"]),
    ("mc_ww_smplatform_gg", ["Facebook", "Instagram", "TikTok", "not selected"]),
    ("weightgain_ww_concern_rb", ["Yes", "No", "Maybe"]),
    ("psy_ww_openness_sc", ["10006", "10007", "10008", "10009"]),
    ("att_ww_brand_html_rb", ["<b>Brand A</b>", "Brand B", "<i>Brand C</i>"]),
    ("tech_ww_techcomfort_rb_ord", LIKERT),
    ("fin_uk_risk_rb", ["High risk", "Medium risk", "Low risk"]),
    ("ae_ww_adrecall_10234_rb", ["Recalled", "Not recalled", "Unsure"]),
    ("food_uk_diet_rb", ["Vegan", "Vegetarian", "Omnivore", "Pescatarian"]),
    ("travel_ww_freq_rb_ord", ["Never", "Yearly", "Monthly", "Weekly"]),
    ("psy_ww_risktaking_sc", ["10011", "10012", "10013"]),
    ("media_uk_channel_gg", ["TV", "Radio", "Podcast", "Print"]),
]

# the rules-based family segments on this column (post-clean name); it
# carries no NAs or sentinels, so its labels are exactly the planted
# number of answers
RULES_SOURCE = "fin_uk_goal_fb"
RULES_COL = "fin_uk_goal_fb_tgt"
ID_COL = "alchemer_id"
N_CLASSES = 3  # planted latent classes
STRENGTH = 0.75  # chance that an answer is the class's preferred one
WEIGHT_COL = "weight"


def question_names(n_questions: int, n_dup: int) -> tuple[list[str], list[str]]:
    """(independent, duplicated) question column names."""
    n_indep = n_questions - n_dup
    if not 0 <= n_dup <= n_indep <= len(QUESTION_BANK):
        raise ValueError(f"unsupported question counts {n_questions}, {n_dup}")
    indep = [name for name, _ in QUESTION_BANK[:n_indep]]
    dup = []
    for c in indep[n_indep - n_dup:]:
        head, _, tail = c.rpartition("_")
        dup.append(f"{head}1_{tail}")
    return indep, dup


def make_survey(
    n: int, n_questions: int, n_dup: int, seed: int
) -> tuple[pd.DataFrame, np.ndarray]:
    """Return (responses, planted_class) for one survey.

    ``n_questions`` counts both kinds; the last ``n_dup`` of them are the
    duplicated block.
    """
    rng = np.random.default_rng(seed)
    cls = rng.integers(0, N_CLASSES, size=n)
    indep, dup = question_names(n_questions, n_dup)

    cols: dict[str, object] = {
        ID_COL: np.arange(1, n + 1, dtype=np.int64),
        "cint_id": [f"cint_{i:06d}" for i in range(n)],
        WEIGHT_COL: rng.uniform(0.5, 1.8, size=n),
        "precompletion_weight": rng.uniform(0.5, 1.8, size=n),
        "qudo_weight_scaled": rng.uniform(0.5, 1.8, size=n),
        "shop_ww_basket_time_spent": rng.uniform(2, 300, size=n),
    }
    for j, name in enumerate(indep):
        options = np.array(QUESTION_BANK[j % len(QUESTION_BANK)][1], dtype=object)
        preferred = options[(cls + j) % len(options)]
        uniform = options[rng.integers(0, len(options), size=n)]
        answers = np.where(rng.random(n) < STRENGTH, preferred, uniform)
        if name != RULES_SOURCE:
            # F1 sentinels: ~5% NA, ~4% 'Not shown' on every other question
            answers[rng.random(n) < 0.05] = None
            if j % 2 == 0:
                answers[rng.random(n) < 0.04] = "Not shown"
        cols[name] = answers
    for src, name in zip(indep[len(indep) - n_dup:], dup):
        cols[name] = cols[src].copy()
    df = pd.DataFrame(cols)
    df.loc[rng.random(n) < 0.05, WEIGHT_COL] = np.nan
    return df, cls
