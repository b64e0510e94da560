"""Per-row model verdict: the one composition of the text models
(langid, perplexity, scrub) with the decode invariant (decode -> dims
check -> ahash64 compare -> reference-decode PSNR).

functions/udfs.py::pipeline_udf yields it per Arrow batch, the pandas
oracle calls it on the whole frame and oracle_fixtures builds the
decode fixture from the oracle's output, so the three cannot drift.
Each row's output depends on that row alone (the text kernels sum
with bincount), so batch boundaries never change a value.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import codecs
from .langid import classify
from .ppl import perplexity
from .scrub import scrub_series


def model_verdict(caption: pd.Series, blob: pd.Series, fmt: pd.Series,
                  w: pd.Series, h: pd.Series,
                  phash: pd.Series) -> pd.DataFrame:
    """-> DataFrame[lang, lang_conf, ppl, caption_scrubbed, scrub_hits,
    toxic, pixel_ok, psnr_db, w_real, h_real, phash_real], one row per
    input.  Null captions score as "" (encode_chars) and scrub to null;
    null blobs skip decode (pixel_ok False)."""
    lid = classify(caption)
    out = scrub_series(caption)
    out.insert(0, "lang", lid["lang"])
    out.insert(1, "lang_conf", lid["lang_conf"])
    out.insert(2, "ppl", perplexity(caption))

    n = len(blob)
    ok = np.zeros(n, dtype=bool)
    psnr = np.full(n, np.nan)
    w_real = np.zeros(n, dtype=np.int32)
    h_real = np.zeros(n, dtype=np.int32)
    ph_real = np.zeros(n, dtype=np.int64)
    blobs = blob.to_numpy()
    fmts = fmt.to_numpy()
    ws = w.to_numpy()
    hs = h.to_numpy()
    phs = phash.to_numpy()
    for i in range(n):
        b = blobs[i]
        if b is None:
            continue
        try:
            # null dims raise here (int(NaN)) and leave the row unset
            pix = codecs.decode(b, fmts[i], int(ws[i]), int(hs[i]))
        except Exception:
            continue
        h_real[i], w_real[i] = pix.shape[0], pix.shape[1]
        ph_real[i] = codecs.ahash64(pix)
        # null phash (NaN after to_numpy) must flag the row, not blow
        # up the whole Arrow task with int(NaN)
        ok[i] = (
            h_real[i] == int(hs[i])
            and w_real[i] == int(ws[i])
            and not pd.isna(phs[i])
            and ph_real[i] == int(phs[i])
        )
        if ok[i]:
            # decoder-fidelity PSNR: inf for lossless formats, finite
            # for lossy ones (production vs reference dequantization);
            # the keep rule thresholds it at MIN_PSNR_DB
            try:
                ref = codecs.decode_ref(b, fmts[i], w_real[i], h_real[i])
                psnr[i] = np.inf if ref is None else codecs.psnr_db(pix, ref)
            except Exception:
                pass  # stays NaN; pixel rule drops via the threshold
    out["pixel_ok"] = ok
    out["psnr_db"] = psnr
    out["w_real"] = w_real
    out["h_real"] = h_real
    out["phash_real"] = ph_real
    return out
