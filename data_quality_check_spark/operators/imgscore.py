"""Visual RISK scoring (LAION-style watermark / NSFW / aesthetic
gates) over the decoded image, complementing the pixel QUALITY rules
in operators/imgquality.py: one fused Arrow UDF over (bytes, fmt, w,
h) runs kernels/imgrisk.py, and the rule verdict, report and fixture
oracle are the shared rule-table engine of operators/statrules.py.

The watermark / NSFW detectors are honest region-statistic stand-ins
for trained classifiers (which are [ENV]-unavailable — see the
kernels/imgrisk.py docstring for provenance); what this operator
makes real and tested is the Spark side a production scorer needs.
On a cluster you would fuse this kernel into the imgquality UDF (one
decode for both rule families); the sandbox keeps them separate so
each verdict stays independently value-pinned (same separation
rationale as queries.py::q_keep_decision_full).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

from ..constants import (
    IMG_AESTHETIC_MIN,
    IMG_SKIN_MAX,
    IMG_WM_CORNER_MAX,
    IMG_WM_STRIP_MAX,
)
from ..kernels.imgrisk import risk_stats
from .imgquality import decode_image
from .statrules import (
    expected_rules,
    fixture,
    rule_report,
    stats_batch,
    with_rules,
)

IMGRISK_SCHEMA = StructType([
    StructField("decoded", BooleanType()),
    StructField("wm_strip_frac", DoubleType()),
    StructField("wm_corner_frac", DoubleType()),
    StructField("skin_frac", DoubleType()),
    StructField("aesthetic", DoubleType()),
])

# (rule name, stat column, threshold, keep-iff) — single source for
# the Spark expressions, the numpy oracle and the tests.
RISK_RULES: list[tuple[str, str, float, str]] = [
    ("wm_strip_ok", "wm_strip_frac", IMG_WM_STRIP_MAX, "le"),
    ("wm_corner_ok", "wm_corner_frac", IMG_WM_CORNER_MAX, "le"),
    ("skin_ok", "skin_frac", IMG_SKIN_MAX, "le"),
    ("aesthetic_ok", "aesthetic", IMG_AESTHETIC_MIN, "ge"),
]
RISK_RULE_COLS = [name for name, *_ in RISK_RULES]


def _risk_batch(blob: pd.Series, fmt: pd.Series, w: pd.Series,
                h: pd.Series) -> pd.DataFrame:
    """Decode + all risk statistics for one Arrow batch."""
    return stats_batch(IMGRISK_SCHEMA, decode_image, risk_stats,
                       blob, fmt, w, h)


@pandas_udf(IMGRISK_SCHEMA)
def imgrisk_udf(
    it: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """(bytes, fmt, w, h) -> visual risk statistics.  One fused
    ArrowEvalPython stage: the image ships to Python exactly once."""
    for blob, fmt, w, h in it:
        yield _risk_batch(blob, fmt, w, h)


def with_image_risk(images: DataFrame) -> DataFrame:
    """Attach risk statistics, per-rule booleans and `risk_keep` =
    decoded AND every rule."""
    st = images.withColumn(
        "s", imgrisk_udf("bytes", "fmt", "w", "h")).select(
        *[c for c in images.columns if c != "bytes"], "s.*")
    return with_rules(st, RISK_RULES, "risk_keep")


def risk_report(risk: DataFrame) -> DataFrame:
    """One-row corpus risk report: decode count, per-rule flag counts
    and the risk keep rate."""
    return rule_report(risk, RISK_RULE_COLS, "risk_keep", "n_images")


def expected_imgrisk(sf: float, root: str = "/root/repo/data") -> str:
    """Driver-side numpy oracle for the value pin (the
    expected_imgquality pattern).

    Generate-once cache — DELETE data/imgrisk_* after touching
    kernels/imgrisk.py, kernels/imgstats.py, kernels/codecs.py,
    sources/images.py, the IMG_* risk constants, this module or
    operators/statrules.py."""
    def build() -> pd.DataFrame:
        from ..sources.images import generate_pandas

        pdf = generate_pandas(sf)
        st = _risk_batch(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"])
        return expected_rules(pdf["image_id"], IMGRISK_SCHEMA, st,
                              RISK_RULES, "risk_keep")

    return fixture(os.path.join(root, f"imgrisk_sf{sf:g}.parquet"), build)
