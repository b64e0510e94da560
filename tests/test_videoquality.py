"""Video frame-sampling family: container roundtrip, stride
sampling, planted defect detection, fixture parity, plan shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_quality_check_spark.kernels.video import (
    encode_rvid,
    parse_rvid,
    sample_indices,
    video_stats,
)

SF = 0.001


def test_rvid_roundtrip_and_strictness():
    rng = np.random.default_rng(3)
    frames = rng.integers(0, 256, (12, 32, 32)).astype(np.uint8)
    fps, got = parse_rvid(encode_rvid(frames, 8))
    assert fps == 8 and np.array_equal(frames, got)
    with pytest.raises(ValueError):
        parse_rvid(encode_rvid(frames, 8)[:-7])   # truncated payload
    with pytest.raises(ValueError):
        parse_rvid(b"RVIDxx")                     # truncated header
    with pytest.raises(ValueError):
        parse_rvid(b"not a video blob at all")
    # w/h < 8 parse fine as a container but would break the 8x8
    # fingerprint reshape downstream — the header guard must reject
    # them (ValueError -> row fails every rule, not a task crash)
    tiny = rng.integers(0, 256, (4, 4, 4)).astype(np.uint8)
    with pytest.raises(ValueError):
        parse_rvid(encode_rvid(tiny, 8))


def test_stride_sampling_deterministic_and_bounded():
    assert list(sample_indices(3, 8)) == [0, 1, 2]
    idx = sample_indices(100, 8)
    assert len(idx) == 8 and idx[0] == 0 and idx[-1] == 99
    assert (np.diff(idx) > 0).all()
    assert np.array_equal(idx, sample_indices(100, 8))


def test_video_stats_known_signals():
    # static clip: zero motion; black clip: black_frac 1
    one = np.full((10, 32, 32), 100, dtype=np.uint8)
    st = video_stats(one, 8, 8)
    assert st["motion"] == 0.0 and st["lum_std"] == 0.0
    black = np.zeros((10, 32, 32), dtype=np.uint8)
    assert video_stats(black, 8, 8)["black_frac"] == 1.0
    # alternating 0/255 frames: motion = 1.0 exactly
    alt = np.stack([np.zeros((32, 32)), np.full((32, 32), 255)] * 4) \
        .astype(np.uint8)
    assert video_stats(alt, 8, 8)["motion"] == 1.0


def test_planted_defects_flagged(spark):
    from data_quality_check_spark.operators.videoquality import (
        with_video_quality)
    from data_quality_check_spark.sources import video as VI

    # sf0.01 -> 200 videos: at 20 rows the 5% populations can come
    # up empty under the deterministic seed
    out = with_video_quality(
        spark.createDataFrame(VI.generate_pandas(0.01))).toPandas()
    assert len(out) == VI.video_rows(0.01)
    assert out["decoded"].mean() > 0.95
    assert (~out["motion_ok"] & out["decoded"]).sum() > 0   # static
    assert (~out["black_ok"] & out["decoded"]).sum() > 0    # black
    assert (~out["frames_ok"] & out["decoded"]).sum() > 0   # short
    assert (~out.loc[~out["decoded"], "video_keep"]).all()
    assert 0.3 < out["video_keep"].mean() < 0.98


def test_fixture_matches_spark(spark, tmp_path):
    import pyarrow.parquet as pq

    from data_quality_check_spark.operators.videoquality import (
        RULE_COLS, STAT_COLS, expected_videoquality, with_video_quality)
    from data_quality_check_spark.sources import video as VI

    fix = pq.read_table(
        expected_videoquality(SF, root=str(tmp_path))).to_pandas()
    got = with_video_quality(
        spark.createDataFrame(VI.generate_pandas(SF)))
    got = got.select(
        "video_id", "decoded", "n_frames",
        *[F.round(F.when(F.isnan(c), None).otherwise(F.col(c)), 6)
          .alias(c) for c in STAT_COLS],
        *RULE_COLS, "video_keep").toPandas()
    fix = fix.sort_values("video_id").reset_index(drop=True)
    got = got.sort_values("video_id").reset_index(drop=True)
    assert list(fix.columns) == list(got.columns)
    for c in fix.columns:
        a, b = fix[c], got[c]
        if c == "video_id":
            assert (a == b).all(), c
        elif a.dtype.kind == "f" or b.dtype.kind == "f" \
                or a.dtype == object:
            aa, bb = a.astype("float64"), b.astype("float64")
            assert ((aa == bb) | (aa.isna() & bb.isna())).all(), c
        else:
            assert (a == b).all(), c


def test_video_plan_shape(spark):
    from data_quality_check_spark.queries import REGISTRY

    plan = REGISTRY["agg_video_quality"][0](
        spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    tree = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(tree) == 1
    ex_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("bytes" not in ln for ln in ex_lines)


def test_video_fingerprint_brightness_invariance():
    from data_quality_check_spark.kernels.video import video_fingerprint64
    from data_quality_check_spark.sources.video import _moving

    rng = np.random.default_rng(13)
    ham = lambda p, q: bin((p ^ q) & (2**64 - 1)).count("1")  # noqa: E731
    f = _moving(rng, 16)
    a = video_fingerprint64(f, 8)
    shifted = np.clip(f.astype(np.int16) + 25, 0, 255).astype(np.uint8)
    assert ham(a, video_fingerprint64(shifted, 8)) <= 3


def test_video_fingerprint_dups_catch_recodes(spark):
    """The banding key finds byte-DIFFERENT near-pairs — the planted
    brightness-shifted re-encodes a byte digest cannot see."""
    from data_quality_check_spark.operators.videoquality import (
        video_fingerprint_dups)
    from data_quality_check_spark.sources import video as VI

    pdf = VI.generate_pandas(0.01)
    df = spark.createDataFrame(pdf)
    pairs = video_fingerprint_dups(df, max_hamming=3).toPandas()
    assert len(pairs) > 0
    blobs = dict(zip(pdf.video_id, pdf.bytes))
    byte_diff = [(a, b) for a, b in zip(pairs.id_a, pairs.id_b)
                 if bytes(blobs[a]) != bytes(blobs[b])]
    assert len(byte_diff) > 0, "no brightness-recode pair found"
