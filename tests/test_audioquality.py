"""Audio quality family: from-scratch WAV codec roundtrip, planted
defect detection, kernel/fixture parity and plan shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_quality_check_spark.kernels.audio import (
    audio_stats,
    decode_wav,
    encode_wav,
)

SF = 0.001


def test_wav_roundtrip_and_strictness():
    rng = np.random.default_rng(5)
    x = np.clip(rng.normal(0, 8000, 1234), -32768, 32767).astype(np.int16)
    sr, y = decode_wav(encode_wav(x, 8000))
    assert sr == 8000 and np.array_equal(x, y)
    with pytest.raises(ValueError):
        decode_wav(encode_wav(x, 8000)[:30])      # truncated header
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxWAVEgarbage_chunk___")  # bad chunks
    with pytest.raises(ValueError):
        decode_wav(b"not audio at all")


def test_audio_stats_known_signals():
    sr = 8000
    # pure 1 kHz at half scale: centroid ~1 kHz, zcr ~ 2*f/sr
    t = np.arange(sr) / sr
    tone = (16384 * np.sin(2 * np.pi * 1000 * t)).astype(np.int16)
    st = audio_stats(tone, sr)
    assert abs(st["spectral_centroid_hz"] - 1000) < 30
    assert abs(st["zcr"] - 2 * 1000 / sr) < 0.01
    assert abs(st["rms_db"] - 20 * np.log10(16384 / 32768 / np.sqrt(2))) \
        < 0.1
    # digital silence: exact floor values
    st0 = audio_stats(np.zeros(100, dtype=np.int16), sr)
    assert st0["rms_db"] == -120.0 and st0["silence_frac"] == 1.0
    # hard-clipped square wave: clip_frac ~ 1
    sq = np.where(np.sin(2 * np.pi * 100 * t) >= 0, 32767, -32767) \
        .astype(np.int16)
    assert audio_stats(sq, sr)["clip_frac"] > 0.9


def test_planted_defects_flagged(spark):
    from data_quality_check_spark.operators.audioquality import (
        with_audio_quality)
    from data_quality_check_spark.sources import audio as AU

    out = with_audio_quality(
        spark.createDataFrame(AU.generate_pandas(SF))).toPandas()
    assert len(out) == AU.audio_rows(SF)
    assert out["decoded"].mean() > 0.95          # only truncated fail
    assert (~out["loudness_ok"] & out["decoded"]).sum() > 0   # silent
    assert (~out["clip_ok"] & out["decoded"]).sum() > 0       # clipped
    assert (~out["duration_ok"] & out["decoded"]).sum() > 0   # short
    assert (~out.loc[~out["decoded"], "audio_keep"]).all()
    assert 0.3 < out["audio_keep"].mean() < 0.95


def test_fixture_matches_spark(spark, tmp_path):
    """The numpy fixture oracle equals the distributed output row for
    row (shared kernel -> parity by construction; this guards the
    Arrow round-trip and the NaN/NULL rule semantics)."""
    import pyarrow.parquet as pq

    from data_quality_check_spark.operators.audioquality import (
        RULE_COLS, STAT_COLS, expected_audioquality, with_audio_quality)
    from data_quality_check_spark.sources import audio as AU

    fix = pq.read_table(
        expected_audioquality(SF, root=str(tmp_path))).to_pandas()
    got = with_audio_quality(
        spark.createDataFrame(AU.generate_pandas(SF)))
    got = got.select(
        "clip_id", "decoded", "n_samples",
        *[F.round(F.when(F.isnan(c), None).otherwise(F.col(c)), 6)
          .alias(c) for c in STAT_COLS],
        *RULE_COLS, "audio_keep").toPandas()
    fix = fix.sort_values("clip_id").reset_index(drop=True)
    got = got.sort_values("clip_id").reset_index(drop=True)
    assert list(fix.columns) == list(got.columns)
    for c in fix.columns:
        a, b = fix[c], got[c]
        if c == "clip_id":
            assert (a == b).all(), c
        elif a.dtype.kind == "f" or b.dtype.kind == "f" \
                or a.dtype == object:
            aa, bb = a.astype("float64"), b.astype("float64")
            assert ((aa == bb) | (aa.isna() & bb.isna())).all(), c
        else:
            assert (a == b).all(), c


def test_batch_composition_invariance(spark):
    """Partitioning must not change any statistic (per-row kernel)."""
    from data_quality_check_spark.operators.audioquality import (
        with_audio_quality)
    from data_quality_check_spark.sources import audio as AU

    df = spark.createDataFrame(AU.generate_pandas(SF))
    a = with_audio_quality(df).toPandas() \
        .sort_values("clip_id").reset_index(drop=True)
    b = with_audio_quality(df.repartition(7)).toPandas() \
        .sort_values("clip_id").reset_index(drop=True)
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f":
            assert ((x == y) | (x.isna() & y.isna())).all(), c
        else:
            assert (x == y).all(), c


def test_zero_sample_rate_is_undecoded(spark):
    """A WAV header with sample rate 0 is a malformed blob: its row is
    undecoded and dropped and its fingerprint is NULL — it must not
    fail the task (duration and the fingerprint divide by sr)."""
    from data_quality_check_spark.operators.audioquality import (
        audio_fingerprints, quality_report, with_audio_quality)

    x = (8000 * np.sin(np.arange(8000) / 5.0)).astype(np.int16)
    df = spark.createDataFrame(
        [("good", encode_wav(x, 8000)), ("sr0", encode_wav(x, 0))],
        "clip_id string, bytes binary")
    out = with_audio_quality(df).toPandas().set_index("clip_id")
    assert out.loc["good", "decoded"] and not out.loc["sr0", "decoded"]
    assert not out.loc["sr0", "audio_keep"]
    rep = quality_report(with_audio_quality(df)).collect()[0]
    assert (rep["n_clips"], rep["n_decoded"]) == (2, 1)
    fps = audio_fingerprints(df).toPandas()
    assert fps["clip_id"].tolist() == ["good"]


def test_audio_plan_shape(spark):
    """One fused ArrowEvalPython stage; bytes never on an Exchange."""
    from data_quality_check_spark.queries import REGISTRY

    plan = REGISTRY["agg_audio_quality"][0](
        spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    tree = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(tree) == 1
    ex_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("bytes" not in ln for ln in ex_lines)


def test_fingerprint_gain_invariance():
    """Volume scaling flips (almost) no fingerprint bits; unrelated
    clips differ in ~32 — the margin the banding threshold rides."""
    from data_quality_check_spark.kernels.audio import audio_fingerprint64

    rng = np.random.default_rng(9)
    t = np.arange(8000) / 8000
    x = np.zeros(8000)
    for _ in range(3):
        f = rng.uniform(120, 1800)
        x += rng.uniform(0.2, 0.8) * np.sin(2 * np.pi * f * t)
    x = (x / np.abs(x).max() * 0.6 * 32767)
    a = audio_fingerprint64(x.astype(np.int16), 8000)
    b = audio_fingerprint64((x * 0.5).astype(np.int16), 8000)
    other = audio_fingerprint64(
        rng.normal(0, 6000, 8000).astype(np.int16), 8000)
    ham = lambda p, q: bin((p ^ q) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(a, b) <= 3
    assert ham(a, other) > 15


def test_fingerprint_dups_catch_gain_variants(spark):
    """The banding key finds byte-DIFFERENT near-pairs (the planted
    volume-scaled re-encodes) that exact digest dedup cannot."""
    from data_quality_check_spark.operators.audioquality import (
        audio_fingerprint_dups)
    from data_quality_check_spark.sources import audio as AU

    pdf = AU.generate_pandas(SF)
    df = spark.createDataFrame(pdf)
    pairs = audio_fingerprint_dups(df, max_hamming=3).toPandas()
    assert len(pairs) > 0
    blobs = dict(zip(pdf.clip_id, pdf.bytes))
    byte_diff = [(a, b) for a, b in zip(pairs.id_a, pairs.id_b)
                 if bytes(blobs[a]) != bytes(blobs[b])]
    assert len(byte_diff) > 0, "no gain-variant pair found"


def test_streaming_audio_quality_matches_batch(spark, tmp_path):
    """Per-micro-batch audio quality reports equal batch runs over
    the same shards (shared operator; counts additive across
    batches)."""
    import os

    from data_quality_check_spark.operators.audioquality import (
        quality_report, with_audio_quality)
    from data_quality_check_spark.plans.catalog import LocalParquetCatalog
    from data_quality_check_spark.sources import audio as AU
    from data_quality_check_spark.streaming.dq import (
        start_audio_quality_stream)

    pdf = AU.generate_pandas(SF)
    shard_dir = str(tmp_path / "shards")
    os.makedirs(shard_dir)
    chunks = (pdf.iloc[:120], pdf.iloc[120:])  # unequal: n_clips is the join key
    for i, chunk in enumerate(chunks):
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_table(pa.Table.from_pandas(
            chunk, schema=AU.ARROW_SCHEMA, preserve_index=False),
            os.path.join(shard_dir, f"a{i}.parquet"))

    out_root = str(tmp_path / "cat")
    cat = LocalParquetCatalog(spark, out_root)
    q = start_audio_quality_stream(
        spark, shard_dir, AU.AUDIO_DDL, cat,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1).start()
    assert q.awaitTermination(120)
    assert q.exception() is None

    rep = cat.read_table("audio_quality_reports").toPandas()
    assert len(rep) == 2 and set(rep.batch_id) == {0, 1}
    assert int(rep.n_clips.sum()) == len(pdf)
    want = {}
    for chunk in chunks:
        row = quality_report(with_audio_quality(
            spark.createDataFrame(chunk))).collect()[0]
        want[row["n_clips"]] = row.asDict()
    for _, got in rep.iterrows():
        exp = want[int(got["n_clips"])]
        for k, v in exp.items():
            assert got[k] == v, k
