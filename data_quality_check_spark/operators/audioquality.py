"""Per-clip audio quality rules — the audio modality's twin of
operators/imgquality.py, with a REAL (not stubbed) decode path:
PCM-WAV parses from scratch (kernels/audio.py), so the whole
decode -> statistics -> rules -> verdict chain runs end-to-end
in-sandbox; only the codec-dependent formats (mp3/ogg — ffmpeg) are
unsupported.  One fused Arrow UDF over `bytes` runs the kernel; the
stats batch, rule verdict, report, fixture oracle and fingerprint UDF
are the shared rule-table engine of operators/statrules.py.

The sample rate comes from the decoded RIFF header — the claimed sr
and n_samples metadata columns are never consulted (the decoded value
is authoritative), so they never cross Arrow.
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
    AUDIO_CLIP_FRAC_MAX,
    AUDIO_DC_FRAC_MAX,
    AUDIO_MIN_DURATION_S,
    AUDIO_SILENCE_FRAC_MAX,
    AUDIO_SILENCE_RMS_DB,
)
from ..kernels.audio import audio_fingerprint64, audio_stats, decode_wav
from .statrules import (
    expected_fingerprints,
    expected_rules,
    fingerprint_udf,
    fixture,
    rule_report,
    stats_batch,
    with_rules,
)

AUDIOSTATS_SCHEMA = StructType([
    StructField("decoded", BooleanType()),
    StructField("n_samples", IntegerType()),
    StructField("duration_s", DoubleType()),
    StructField("rms_db", DoubleType()),
    StructField("peak_frac", DoubleType()),
    StructField("clip_frac", DoubleType()),
    StructField("silence_frac", DoubleType()),
    StructField("dc_frac", DoubleType()),
    StructField("zcr", DoubleType()),
    StructField("spectral_centroid_hz", DoubleType()),
])

STAT_COLS = [f.name for f in AUDIOSTATS_SCHEMA.fields][2:]

# (rule name, stat column, threshold, keep-iff) — single source for
# the Spark expressions, the numpy oracle and the tests.
AUDIO_RULES: list[tuple[str, str, float, str]] = [
    ("duration_ok", "duration_s", AUDIO_MIN_DURATION_S, "ge"),
    ("loudness_ok", "rms_db", AUDIO_SILENCE_RMS_DB, "ge"),
    ("clip_ok", "clip_frac", AUDIO_CLIP_FRAC_MAX, "le"),
    ("silence_ok", "silence_frac", AUDIO_SILENCE_FRAC_MAX, "le"),
    ("dc_ok", "dc_frac", AUDIO_DC_FRAC_MAX, "le"),
]
RULE_COLS = [name for name, *_ in AUDIO_RULES]


def _decode(blob) -> tuple[np.ndarray, int]:
    sr, x = decode_wav(bytes(blob))
    return x, sr


def _stats_batch(blob: pd.Series) -> pd.DataFrame:
    return stats_batch(AUDIOSTATS_SCHEMA, _decode,
                       lambda d: audio_stats(*d), blob)


@pandas_udf(AUDIOSTATS_SCHEMA)
def audiostats_udf(
    it: Iterator[pd.Series],
) -> Iterator[pd.DataFrame]:
    """bytes -> audio quality statistics.  One fused ArrowEvalPython
    stage: the clip ships to Python exactly once and every statistic
    comes back as a scalar double."""
    for blob in it:
        yield _stats_batch(blob)


def with_audio_quality(audio: DataFrame) -> DataFrame:
    """Attach waveform statistics, per-rule booleans and `audio_keep`
    = decoded AND every rule."""
    # the claimed n_samples metadata column is superseded by the
    # decoded stats struct's field of the same name — drop it with
    # the payload so the output has ONE authoritative n_samples
    st = audio.withColumn(
        "s", audiostats_udf("bytes")).select(
        *[c for c in audio.columns if c not in ("bytes", "n_samples")],
        "s.*")
    return with_rules(st, AUDIO_RULES, "audio_keep")


def quality_report(quality: DataFrame) -> DataFrame:
    """One-row corpus report over a with_audio_quality frame."""
    return rule_report(quality, RULE_COLS, "audio_keep", "n_clips")


def expected_audioquality(sf: float,
                          root: str = "/root/repo/data") -> str:
    """Driver-side numpy oracle for the value pin (the
    expected_imgquality pattern).

    Generate-once cache — DELETE data/audioquality_* (and data/
    audio_*) after touching kernels/audio.py, sources/audio.py, the
    AUDIO_* constants, this module or operators/statrules.py."""
    def build() -> pd.DataFrame:
        from ..sources.audio import generate_pandas

        pdf = generate_pandas(sf)
        return expected_rules(pdf["clip_id"], AUDIOSTATS_SCHEMA,
                              _stats_batch(pdf["bytes"]), AUDIO_RULES,
                              "audio_keep")

    return fixture(os.path.join(root, f"audioquality_sf{sf:g}.parquet"),
                   build)


def _fingerprint(d: tuple[np.ndarray, int]) -> int:
    return audio_fingerprint64(*d)


# bytes -> 64-bit spectral fingerprint (kernels/audio.py::
# audio_fingerprint64); NULL for undecodable blobs
audiofp_udf = fingerprint_udf(_decode, _fingerprint)


def audio_fingerprints(audio: DataFrame) -> DataFrame:
    """(clip_id, afp): one fingerprint per decodable clip — the
    persisted audio dedup index (the phash twin for the audio
    modality)."""
    return (audio
            .select("clip_id", audiofp_udf("bytes").alias("afp"))
            .filter(F.col("afp").isNotNull()))


def audio_fingerprint_dups(audio: DataFrame,
                           max_hamming: int = 3) -> DataFrame:
    """Audio near-dup pairs: the SAME guaranteed-recall pigeonhole
    band index as the visual pipeline (dedup.phash_near_dups is
    hash-agnostic) over spectral fingerprints — catches volume-scaled
    re-encodes the exact byte digest structurally misses (the sign of
    a temporal energy delta is gain-invariant)."""
    from .dedup import phash_near_dups

    return phash_near_dups(audio_fingerprints(audio), max_hamming,
                           id_col="clip_id", phash_col="afp")


def expected_audiofp(sf: float, root: str = "/root/repo/data") -> str:
    """Numpy fixture oracle for the fingerprint pin: (clip_id, afp)
    for every decodable clip, same kernel, no Spark.  Generate-once
    cache — DELETE data/audiofp_* with the other audio caches."""
    def build():
        from ..sources.audio import generate_pandas

        pdf = generate_pandas(sf)
        return expected_fingerprints(pdf["clip_id"], pdf["bytes"], "afp",
                                     _decode, _fingerprint)

    return fixture(os.path.join(root, f"audiofp_sf{sf:g}.parquet"), build)
