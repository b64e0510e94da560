"""Pixel-level image quality rules (LAION/DataComp-style visual
filters) over the decoded image: resolution / aspect geometry gates
plus luminance entropy, RMS contrast, variance-of-Laplacian blur,
flat-image and exposure fractions, and Hasler-Suesstrunk
colorfulness / saturation (kernels/imgstats.py).

Realizes the reference's named capability ("test Data Quality for Big
Size data", /root/reference README — no code) for the VISUAL side of
the image+caption pair, complementing the caption-side rules in
functions/rules.py.  Spark-first split:

* geometry rules (res_ok / aspect_ok) are pure JVM column
  expressions on the stored w/h metadata — no decode, no Python, and
  they survive predicate pushdown, so a scan that only needs the
  geometry gate never ships `bytes` anywhere;
* pixel statistics need the decoded image, so they run in ONE fused
  Arrow pandas UDF (decode + all statistics in a single
  ArrowEvalPython stage — same single-Python-hop discipline as
  functions/udfs.py::pipeline_udf over kernels/verdict.py), sharing
  kernels/imgstats.py verbatim with the driver-side numpy oracle
  (repo-wide shared-kernel invariant: parity is by construction, not
  by tolerance).

Scale notes (10^12 rows): the UDF projects only (bytes, fmt, w, h)
and emits ~7 scalar doubles — the payload column dies at the map
stage and never crosses an Exchange; every rule and the final
verdict are per-row map-side expressions, so the whole operator is
shuffle-free and scales linearly with input splits.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ..constants import (
    IMG_BLUR_VAR_MIN,
    IMG_BRIGHT_MAX,
    IMG_COLORFULNESS_MIN,
    IMG_CONTRAST_MIN,
    IMG_DARK_MAX,
    IMG_ENTROPY_MIN,
    IMG_FLAT_MAX,
    IMG_MAX_ASPECT,
    IMG_MIN_PIXELS,
)

IMGSTATS_SCHEMA = StructType([
    StructField("decoded", BooleanType()),
    StructField("n_px", IntegerType()),
    StructField("entropy_bits", DoubleType()),
    StructField("contrast_rms", DoubleType()),
    StructField("blur_var", DoubleType()),
    StructField("flat_frac", DoubleType()),
    StructField("dark_frac", DoubleType()),
    StructField("bright_frac", DoubleType()),
    StructField("colorfulness", DoubleType()),
    StructField("sat_mean", DoubleType()),
])

# (rule name, stat column, threshold, keep-iff) — single source for
# the Spark expressions, the numpy oracle and the tests.  keep-iff
# "ge": stat >= thr keeps; "le": stat <= thr keeps.
PIXEL_RULES: list[tuple[str, str, float, str]] = [
    ("entropy_ok", "entropy_bits", IMG_ENTROPY_MIN, "ge"),
    ("contrast_ok", "contrast_rms", IMG_CONTRAST_MIN, "ge"),
    ("blur_ok", "blur_var", IMG_BLUR_VAR_MIN, "ge"),
    ("flat_ok", "flat_frac", IMG_FLAT_MAX, "le"),
    ("dark_ok", "dark_frac", IMG_DARK_MAX, "le"),
    ("bright_ok", "bright_frac", IMG_BRIGHT_MAX, "le"),
    ("color_ok", "colorfulness", IMG_COLORFULNESS_MIN, "ge"),
]
RULE_COLS = [name for name, *_ in PIXEL_RULES]


def _stats_batch(blob: pd.Series, fmt: pd.Series, w: pd.Series,
                 h: pd.Series) -> pd.DataFrame:
    """Decode + all pixel statistics for one Arrow batch.  Shared by
    the Spark UDF and the fixture oracle (expected_imgquality)."""
    from ..kernels import codecs
    from ..kernels.imgstats import quality_stats

    n = len(blob)
    out = {
        "decoded": np.zeros(n, dtype=bool),
        "n_px": np.zeros(n, dtype=np.int32),
        "entropy_bits": np.full(n, np.nan),
        "contrast_rms": np.full(n, np.nan),
        "blur_var": np.full(n, np.nan),
        "flat_frac": np.full(n, np.nan),
        "dark_frac": np.full(n, np.nan),
        "bright_frac": np.full(n, np.nan),
        "colorfulness": np.full(n, np.nan),
        "sat_mean": np.full(n, np.nan),
    }
    blobs = blob.to_numpy()
    fmts = fmt.to_numpy()
    ws = w.to_numpy()
    hs = h.to_numpy()
    for i in range(n):
        b = blobs[i]
        if b is None:
            continue
        try:
            pix = codecs.decode(b, fmts[i], int(ws[i]), int(hs[i]))
        except Exception:
            continue
        st = quality_stats(pix)
        out["decoded"][i] = True
        out["n_px"][i] = st["n_px"]
        for k in ("entropy_bits", "contrast_rms", "flat_frac",
                  "dark_frac", "bright_frac", "colorfulness",
                  "sat_mean"):
            out[k][i] = st[k]
        if st["blur_var"] is not None:
            out["blur_var"][i] = st["blur_var"]
    return pd.DataFrame(out)


@pandas_udf(IMGSTATS_SCHEMA)
def imgstats_udf(
    it: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """(bytes, fmt, w, h) -> pixel quality statistics.  One fused
    ArrowEvalPython stage: the image ships to Python exactly once and
    every statistic comes back as a scalar double."""
    for blob, fmt, w, h in it:
        yield _stats_batch(blob, fmt, w, h)


def geometry_rules(w: Column | str = "w", h: Column | str = "h",
                   ) -> dict[str, Column]:
    """Metadata-only gates, pure JVM expressions (no decode):
    res_ok (pixel-count floor) and aspect_ok (extreme aspect ratio).
    int32*int32 fits long; DuckDB evaluates the same integer
    arithmetic exactly, so the twin SQL oracle is value-exact."""
    wc = F.col(w) if isinstance(w, str) else w
    hc = F.col(h) if isinstance(h, str) else h
    return {
        "res_ok": (wc.cast("long") * hc.cast("long")
                   >= F.lit(IMG_MIN_PIXELS)),
        "aspect_ok": (F.greatest(wc, hc)
                      <= F.lit(IMG_MAX_ASPECT) * F.least(wc, hc)),
    }


def with_image_quality(images: DataFrame) -> DataFrame:
    """Attach pixel statistics, per-rule booleans and the visual keep
    verdict.  Undecodable rows fail every pixel rule (NaN compares
    false in Spark and in numpy alike, but we make the null semantics
    explicit: a rule passes only for a DECODED image inside the
    threshold).  `visual_keep` = decoded AND every rule."""
    st = images.withColumn(
        "s", imgstats_udf("bytes", "fmt", "w", "h")).select(
        *[c for c in images.columns if c != "bytes"], "s.*")

    geo = geometry_rules()
    for name, col in geo.items():
        st = st.withColumn(name, col)
    for name, stat, thr, mode in PIXEL_RULES:
        cmp = (F.col(stat) >= F.lit(thr)) if mode == "ge" \
            else (F.col(stat) <= F.lit(thr))
        st = st.withColumn(
            name, F.when(F.col("decoded") & ~F.isnan(stat), cmp)
                   .otherwise(F.lit(False)))
    keep = F.col("decoded")
    for name in list(geo) + RULE_COLS:
        keep = keep & F.col(name)
    return st.withColumn("visual_keep", keep)


def quality_report(quality: DataFrame) -> DataFrame:
    """One-row corpus report over a with_image_quality frame: decode
    success count, per-rule failure counts, keep count and keep rate.
    One map-side partial-aggregate pass — the UDF already reduced
    each image to scalars, so the exchange carries bytes-per-row,
    not payload.  Shared by the batch contract key
    (agg_image_quality) and the streaming per-micro-batch monitor
    (streaming/dq.py::start_visual_quality_stream)."""
    aggs = [F.count("*").alias("n_images"),
            F.sum(F.col("decoded").cast("long")).alias("n_decoded")]
    for c in ["res_ok", "aspect_ok", *RULE_COLS]:
        aggs.append(F.sum((~F.col(c)).cast("long")).alias(f"bad_{c[:-3]}"))
    aggs.append(F.sum(F.col("visual_keep").cast("long")).alias("n_keep"))
    aggs.append(F.round(F.avg(F.col("visual_keep").cast("double")), 6)
                 .alias("keep_rate"))
    return quality.agg(*aggs)


def expected_imgquality(sf: float, root: str = "/root/repo/data") -> str:
    """Driver-side numpy oracle for the value pin: run the SAME
    kernel over the deterministic corpus WITHOUT Spark and write the
    expected per-image output as generate-once parquet, so the DuckDB
    oracle SELECTs literal expected values (the multimodal
    expected_fixtures pattern).  What the pin verifies is the
    distributed execution: Arrow round-trips, fused-UDF batching, the
    null/NaN rule semantics and the verdict expressions.

    Generate-once cache — DELETE data/imgquality_* after touching
    kernels/imgstats.py, kernels/codecs.py, sources/images.py, or the
    IMG_* constants."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, f"imgquality_sf{sf:g}.parquet")
    if os.path.exists(path):
        return path

    from ..sources.images import generate_pandas
    from .multimodal import _round6

    os.makedirs(root, exist_ok=True)
    pdf = generate_pandas(sf)
    st = _stats_batch(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"])

    w = pdf["w"].to_numpy().astype(np.int64)
    h = pdf["h"].to_numpy().astype(np.int64)
    out = pd.DataFrame({"image_id": pdf["image_id"]})
    out["decoded"] = st["decoded"].to_numpy()
    out["n_px"] = st["n_px"].to_numpy().astype(np.int32)
    for k in ("entropy_bits", "contrast_rms", "blur_var", "flat_frac",
              "dark_frac", "bright_frac", "colorfulness", "sat_mean"):
        vals = st[k].to_numpy()
        out[k] = [None if not d or np.isnan(v) else _round6(v)
                  for d, v in zip(out["decoded"], vals)]
    out["res_ok"] = (w * h) >= IMG_MIN_PIXELS
    out["aspect_ok"] = np.maximum(w, h) <= IMG_MAX_ASPECT * np.minimum(w, h)
    dec = out["decoded"].to_numpy()
    keep = dec & out["res_ok"].to_numpy() & out["aspect_ok"].to_numpy()
    for name, stat, thr, mode in PIXEL_RULES:
        vals = st[stat].to_numpy()
        finite = dec & ~np.isnan(vals)
        ok = np.zeros(len(out), dtype=bool)
        if mode == "ge":
            ok[finite] = vals[finite] >= thr
        else:
            ok[finite] = vals[finite] <= thr
        out[name] = ok
        keep = keep & ok
    out["visual_keep"] = keep

    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pandas(out, preserve_index=False), tmp)
    os.replace(tmp, path)
    return path
