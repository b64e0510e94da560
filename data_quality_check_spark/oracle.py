"""Pure-pandas reference oracle (SURVEY.md §0.1, §3 E3).

The reference repo ships no executable code (/root/reference is a
2-line README), so "the reference's keep/drop labels"
(BASELINE.json:14) are produced here: a single-process pandas/numpy
implementation of the exact rule definitions, built on the SAME
kernels + constants modules the Spark pipeline uses.  The distributed
pipeline is scored against this output (F1 >= 0.99, target 1.0).

No Spark imports allowed in this file.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from data_quality_check_spark.constants import (
    MAX_CAPTION_LEN,
    MAX_PPL,
    MIN_CAPTION_LEN,
    MIN_PSNR_DB,
    RULE_DUP,
    RULE_LANG,
    RULE_NULL,
    RULE_ORDER,
    RULE_PIXEL,
    RULE_PPL,
    RULE_REPETITION,
    RULE_STOPWORD,
    RULE_SYMBOL,
    RULE_TOO_LONG,
    RULE_TOO_SHORT,
    RULE_TOXIC,
    LANG_UND,
)
from data_quality_check_spark.kernels.text import heuristic_stats
from data_quality_check_spark.kernels.verdict import model_verdict


def evaluate(pdf: pd.DataFrame) -> pd.DataFrame:
    """images pandas frame -> labels frame (FIXTURES.md §A2)."""
    n = len(pdf)
    cap = pdf["caption"]

    null_bad = (
        pdf["image_id"].isna()
        | cap.isna()
        | pdf["bytes"].isna()
        | pdf["w"].isna() | (pdf["w"] <= 0)
        | pdf["h"].isna() | (pdf["h"] <= 0)
        | pdf["phash"].isna()
    ).to_numpy()

    stats = heuristic_stats(cap)
    too_short = (stats["n_chars"] < MIN_CAPTION_LEN).to_numpy()
    too_long = (stats["n_chars"] > MAX_CAPTION_LEN).to_numpy()
    repetition = stats["repetition_bad"].to_numpy()
    stopword = stats["stopword_bad"].to_numpy()
    symbol = stats["symbol_bad"].to_numpy()

    # the per-row model verdict: the very function pipeline_udf runs
    v = model_verdict(cap, pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"],
                      pdf["phash"])
    lang_bad = (v["lang"] == LANG_UND).to_numpy()
    ppl_bad = (v["ppl"] > MAX_PPL).to_numpy()
    toxic = v["toxic"].to_numpy()
    pixel_ok = v["pixel_ok"].to_numpy()
    psnr = v["psnr_db"].to_numpy()

    with np.errstate(invalid="ignore"):
        psnr_ok = psnr >= MIN_PSNR_DB

    # duplicate rank: first image_id per phash wins.  dropna=False
    # mirrors Spark's window semantics, which group null phashes
    # together (second+ null-phash rows are duplicates)
    rank = pdf.groupby("phash", dropna=False)["image_id"].rank(method="first").to_numpy()
    dup = rank > 1

    flags = {
        RULE_NULL: null_bad,
        RULE_TOO_SHORT: too_short,
        RULE_TOO_LONG: too_long,
        RULE_REPETITION: repetition,
        RULE_STOPWORD: stopword,
        RULE_SYMBOL: symbol,
        RULE_LANG: lang_bad,
        RULE_PPL: ppl_bad,
        RULE_TOXIC: toxic,
        # pixel invariant incl. the lossy-format PSNR threshold
        # (BASELINE.json:15); NaN psnr rows already have pixel_ok
        # False, so the NaN comparison (False) cannot flip a verdict
        RULE_PIXEL: ~(pixel_ok & psnr_ok),
        RULE_DUP: dup,
    }
    any_bad = np.zeros(n, dtype=bool)
    for name in RULE_ORDER:
        any_bad |= flags[name]
    reasons = [
        [name for name in RULE_ORDER if flags[name][i]] for i in range(n)
    ]

    return pd.DataFrame({
        "image_id": pdf["image_id"],
        "keep": ~any_bad,
        "drop_reasons": reasons,
        "lang": v["lang"],
        "lang_conf": v["lang_conf"],
        "ppl": v["ppl"],
        "caption_scrubbed": v["caption_scrubbed"],
        "scrub_hits": v["scrub_hits"],
        "pixel_ok": pixel_ok,
        "psnr_db": psnr,
        "w_real": v["w_real"],
        "h_real": v["h_real"],
        "phash_real": v["phash_real"],
    })
