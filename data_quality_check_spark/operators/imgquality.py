"""Pixel-level image quality rules (LAION/DataComp-style visual
filters) over the decoded image: resolution / aspect geometry gates
plus luminance entropy, RMS contrast, variance-of-Laplacian blur,
flat-image and exposure fractions, and Hasler-Suesstrunk
colorfulness / saturation (kernels/imgstats.py).  The visual side of
the image+caption pair, complementing the caption-side rules in
functions/rules.py.

The geometry gates (res_ok / aspect_ok) are pure JVM expressions on
the stored w/h metadata — no decode, no Python, pushdown-friendly, so
a scan that only needs the geometry gate never ships `bytes`.  The
pixel statistics run in ONE fused Arrow UDF over (bytes, fmt, w, h);
stats batch, rule verdict, report and fixture oracle are the shared
rule-table engine of operators/statrules.py.
"""

from __future__ import annotations

import os
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
from ..kernels import codecs
from ..kernels.imgstats import quality_stats
from .statrules import (
    expected_rules,
    fixture,
    rule_report,
    stats_batch,
    with_rules,
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
# the Spark expressions, the numpy oracle and the tests.
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


def decode_image(blob, fmt, w, h) -> np.ndarray:
    """The production decode of one stored image (also imgscore's)."""
    return codecs.decode(blob, fmt, int(w), int(h))


def _stats_batch(blob: pd.Series, fmt: pd.Series, w: pd.Series,
                 h: pd.Series) -> pd.DataFrame:
    """Decode + all pixel statistics for one Arrow batch (blur_var
    stays NaN for an image with no Laplacian interior)."""
    return stats_batch(IMGSTATS_SCHEMA, decode_image, quality_stats,
                       blob, fmt, w, h)


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
    """Attach pixel statistics, the geometry gates, per-rule booleans
    and `visual_keep` = decoded AND every gate AND every rule."""
    st = images.withColumn(
        "s", imgstats_udf("bytes", "fmt", "w", "h")).select(
        *[c for c in images.columns if c != "bytes"], "s.*")
    return with_rules(st, PIXEL_RULES, "visual_keep", gates=geometry_rules())


def quality_report(quality: DataFrame) -> DataFrame:
    """One-row corpus report over a with_image_quality frame.  Shared
    by the batch contract key (agg_image_quality) and the streaming
    per-micro-batch monitor
    (streaming/dq.py::start_visual_quality_stream)."""
    return rule_report(quality, ["res_ok", "aspect_ok", *RULE_COLS],
                       "visual_keep", "n_images")


def expected_imgquality(sf: float, root: str = "/root/repo/data") -> str:
    """Driver-side numpy oracle for the value pin: the SAME kernel over
    the deterministic corpus WITHOUT Spark, written as generate-once
    parquet the DuckDB oracle SELECTs literal expected values from.
    What the pin verifies is the distributed execution: Arrow
    round-trips, fused-UDF batching, the null/NaN rule semantics and
    the verdict expressions.

    Generate-once cache — DELETE data/imgquality_* after touching
    kernels/imgstats.py, kernels/codecs.py, sources/images.py, the
    IMG_* constants, this module or operators/statrules.py."""
    def build() -> pd.DataFrame:
        from ..sources.images import generate_pandas

        pdf = generate_pandas(sf)
        st = _stats_batch(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"])
        w = pdf["w"].to_numpy().astype(np.int64)
        h = pdf["h"].to_numpy().astype(np.int64)
        gates = {"res_ok": (w * h) >= IMG_MIN_PIXELS,
                 "aspect_ok": (np.maximum(w, h)
                               <= IMG_MAX_ASPECT * np.minimum(w, h))}
        return expected_rules(pdf["image_id"], IMGSTATS_SCHEMA, st,
                              PIXEL_RULES, "visual_keep", gates)

    return fixture(os.path.join(root, f"imgquality_sf{sf:g}.parquet"), build)
