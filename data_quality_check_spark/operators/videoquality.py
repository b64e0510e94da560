"""Per-video frame-sampling quality rules — completes the
image/audio/video multimodal triplet.  The container is the
documented RVID stand-in (kernels/video.py: ffmpeg is unavailable, so
the payload is deterministic-fake while the PLUMBING — fused Arrow
UDF, stride frame sampling, statistics, rules, fixture oracle — is
the real production shape; swap the parser for an ffmpeg extractor
and nothing else changes).  The stats batch, rule verdict, report,
fixture oracle and fingerprint UDF are the shared rule-table engine
of operators/statrules.py.

Rules: duration floor, motion floor (drops STATIC clips — the
re-encoded thumbnail loops a web crawl is full of), near-black
ceiling and a minimum decoded frame count.  fps and n_frames come
from the decoded RVID header, never the claimed metadata columns.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
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
    VIDEO_BLACK_FRAC_MAX,
    VIDEO_MIN_DURATION_S,
    VIDEO_MIN_FRAMES,
    VIDEO_MOTION_MIN,
    VIDEO_SAMPLE_FRAMES,
)
from ..kernels.video import parse_rvid, video_fingerprint64, video_stats
from .statrules import (
    expected_fingerprints,
    expected_rules,
    fingerprint_udf,
    fixture,
    rule_report,
    stats_batch,
    with_rules,
)

VIDEOSTATS_SCHEMA = StructType([
    StructField("decoded", BooleanType()),
    StructField("n_frames", IntegerType()),
    StructField("duration_s", DoubleType()),
    StructField("lum_mean", DoubleType()),
    StructField("lum_std", DoubleType()),
    StructField("motion", DoubleType()),
    StructField("black_frac", DoubleType()),
])

STAT_COLS = [f.name for f in VIDEOSTATS_SCHEMA.fields][2:]

VIDEO_RULES: list[tuple[str, str, float, str]] = [
    ("duration_ok", "duration_s", VIDEO_MIN_DURATION_S, "ge"),
    ("motion_ok", "motion", VIDEO_MOTION_MIN, "ge"),
    ("black_ok", "black_frac", VIDEO_BLACK_FRAC_MAX, "le"),
    ("frames_ok", "n_frames", VIDEO_MIN_FRAMES, "ge"),
]
RULE_COLS = [name for name, *_ in VIDEO_RULES]


def _decode(blob) -> tuple[np.ndarray, int]:
    fps, frames = parse_rvid(bytes(blob))
    return frames, fps


def _stats_batch(blob: pd.Series) -> pd.DataFrame:
    return stats_batch(VIDEOSTATS_SCHEMA, _decode,
                       lambda d: video_stats(*d, VIDEO_SAMPLE_FRAMES), blob)


@pandas_udf(VIDEOSTATS_SCHEMA)
def videostats_udf(
    it: Iterator[pd.Series],
) -> Iterator[pd.DataFrame]:
    """bytes -> sampled-frame statistics, one fused ArrowEvalPython
    stage."""
    for blob in it:
        yield _stats_batch(blob)


def with_video_quality(video: DataFrame) -> DataFrame:
    """Statistics + per-rule booleans + `video_keep`; the claimed
    n_frames metadata is superseded by the decoded count (audio's
    n_samples discipline)."""
    st = video.withColumn(
        "s", videostats_udf("bytes")).select(
        *[c for c in video.columns if c not in ("bytes", "n_frames")],
        "s.*")
    return with_rules(st, VIDEO_RULES, "video_keep")


def quality_report(quality: DataFrame) -> DataFrame:
    return rule_report(quality, RULE_COLS, "video_keep", "n_videos")


def expected_videoquality(sf: float,
                          root: str = "/root/repo/data") -> str:
    """Numpy fixture oracle (the expected_imgquality pattern).
    Generate-once cache — DELETE data/videoquality_* (and
    data/video_*) after touching kernels/video.py, sources/video.py,
    the VIDEO_* constants, this module or operators/statrules.py."""
    def build() -> pd.DataFrame:
        from ..sources.video import generate_pandas

        pdf = generate_pandas(sf)
        return expected_rules(pdf["video_id"], VIDEOSTATS_SCHEMA,
                              _stats_batch(pdf["bytes"]), VIDEO_RULES,
                              "video_keep")

    return fixture(os.path.join(root, f"videoquality_sf{sf:g}.parquet"),
                   build)


def _fingerprint(d: tuple[np.ndarray, int]) -> int:
    return video_fingerprint64(d[0], VIDEO_SAMPLE_FRAMES)


# bytes -> 64-bit video fingerprint (majority-vote frame ahash,
# kernels/video.py); NULL for undecodable blobs
videofp_udf = fingerprint_udf(_decode, _fingerprint)


def video_fingerprints(video: DataFrame) -> DataFrame:
    """(video_id, vfp): the persisted video dedup index."""
    return (video
            .select("video_id", videofp_udf("bytes").alias("vfp"))
            .filter(F.col("vfp").isNotNull()))


def video_fingerprint_dups(video: DataFrame,
                           max_hamming: int = 3) -> DataFrame:
    """Video near-dup pairs through the SAME pigeonhole band index as
    phash/simhash/audio fingerprints — the FOURTH modality on one
    banding engine; catches brightness-shifted re-encodes the byte
    digest misses (ahash thresholds at the frame's own mean)."""
    from .dedup import phash_near_dups

    return phash_near_dups(video_fingerprints(video), max_hamming,
                           id_col="video_id", phash_col="vfp")


def expected_videofp(sf: float, root: str = "/root/repo/data") -> str:
    """Numpy fixture oracle for the fingerprint pin.  Generate-once
    cache — DELETE data/videofp_* with the other video caches."""
    def build():
        from ..sources.video import generate_pandas

        pdf = generate_pandas(sf)
        return expected_fingerprints(pdf["video_id"], pdf["bytes"], "vfp",
                                     _decode, _fingerprint)

    return fixture(os.path.join(root, f"videofp_sf{sf:g}.parquet"), build)
