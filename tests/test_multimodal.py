"""Multimodal plumbing: mapInPandas decode/feature extraction over
the binary column — real image decode, deterministic fake embedding."""

from __future__ import annotations

import numpy as np

from data_quality_check_spark.kernels import codecs
from data_quality_check_spark.operators import multimodal as MM
from data_quality_check_spark.sources import images as IM


def test_extract_features_matches_direct(spark, images_pdf):
    df = IM.read_images(spark, 0.001)
    out = MM.extract_features(df).toPandas().set_index("image_id")
    assert len(out) == len(images_pdf)

    checked = 0
    for _, row in images_pdf.head(50).iterrows():
        got = out.loc[row.image_id]
        try:
            pix = codecs.decode(row["bytes"], row.fmt, int(row.w), int(row.h))
        except Exception:
            assert not got.decoded
            continue
        assert got.decoded
        means = pix.astype(np.float64).mean(axis=(0, 1))
        assert abs(got.mean_r - means[0]) < 1e-9
        emb = np.array(got.embedding, dtype=np.float32)
        assert emb.shape == (MM.EMB_DIM,)
        assert np.allclose(emb, MM._fake_embedding(pix))
        checked += 1
    assert checked > 30


def test_undecodable_rows_flagged(spark):
    df = spark.createDataFrame(
        [("x1", bytearray(b"notanimage"), 8, 8, "png"),
         ("x2", None, 8, 8, "raw")],
        "image_id string, bytes binary, w int, h int, fmt string")
    out = MM.extract_features(df).toPandas()
    assert not out.decoded.any()
    assert out.n_bytes.tolist() == [10, 0]


def test_null_phash_flags_row_not_task(spark):
    """ADVICE r1: a row with decodable bytes but NULL phash (or null
    dims) must come back pixel_ok=False — not abort the whole Arrow
    task with int(NaN).  Exercised through pipeline_udf AND the oracle;
    a null-bytes row bound through text_verdict skips decode and still
    gets model_verdict's text fields."""
    import pandas as pd

    from data_quality_check_spark.functions.udfs import (
        pipeline_udf, text_verdict)
    from data_quality_check_spark.kernels.verdict import model_verdict
    from pyspark.sql import functions as F
    from tests.oracle import evaluate

    pix = np.full((8, 8, 3), 200, dtype=np.uint8)
    blob = codecs.encode(pix, "raw")
    good_ph = codecs.ahash64(pix)
    rows = [
        ("ok", blob, 8, 8, "raw", "the a of photo", good_ph),
        ("null_ph", blob, 8, 8, "raw", "the a of photo", None),
        ("null_dims", blob, None, None, "raw", "the a of photo", good_ph),
    ]
    sdf = spark.createDataFrame(rows, IM.IMAGES_DDL)
    out = (sdf.select("image_id",
                      pipeline_udf("caption", "bytes", "fmt", "w", "h",
                                   "phash").alias("d"))
           .select("image_id", "d.pixel_ok").toPandas()
           .set_index("image_id")["pixel_ok"])
    assert bool(out["ok"]) is True
    assert bool(out["null_ph"]) is False
    assert bool(out["null_dims"]) is False

    pdf = pd.DataFrame(rows, columns=[
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"])
    lab = evaluate(pdf).set_index("image_id")
    assert bool(lab.loc["ok", "pixel_ok"]) is True
    assert bool(lab.loc["null_ph", "pixel_ok"]) is False
    assert bool(lab.loc["null_dims", "pixel_ok"]) is False

    cap = "the photo of a dog, mail bob@example.com"
    got = (spark.createDataFrame([(cap,)], "caption string")
           .select(text_verdict(F.col("caption")).alias("d"))
           .select("d.*").toPandas().iloc[0])
    none = pd.Series([None], dtype=object)
    ref = model_verdict(pd.Series([cap]), none, none, none, none,
                        none).iloc[0]
    assert bool(got["pixel_ok"]) is False
    assert got["caption_scrubbed"] != cap  # the scrub did fire
    for c in ("lang", "ppl", "caption_scrubbed"):
        assert got[c] == ref[c], c


def test_resize_nearest_kernel():
    """Floor index mapping: resize of a known ramp equals direct
    integer indexing; identity resize is a no-op; upscale repeats."""
    pix = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    out = MM.resize_nearest(pix, 3, 2)
    ys = (np.arange(2) * 4) // 2
    xs = (np.arange(3) * 6) // 3
    assert np.array_equal(out, pix[ys][:, xs])
    assert np.array_equal(MM.resize_nearest(pix, 6, 4), pix)
    up = MM.resize_nearest(pix, 12, 8)
    assert up.shape == (8, 12, 3)
    assert np.array_equal(up[::2][:, ::2], pix)


def test_resize_images_matches_numpy_oracle(spark, images_pdf):
    import hashlib

    df = IM.read_images(spark, 0.001)
    out = (MM.resize_images(df, tw=16, th=16).toPandas()
           .set_index("image_id"))
    assert len(out) == len(images_pdf)

    checked = 0
    for _, row in images_pdf.head(40).iterrows():
        got = out.loc[row.image_id]
        try:
            pix = codecs.decode(row["bytes"], row.fmt, int(row.w), int(row.h))
        except Exception:
            assert not got.decoded
            assert got.resized_sha256 is None
            continue
        small = np.ascontiguousarray(MM.resize_nearest(pix, 16, 16))
        assert got.decoded and (got.rw, got.rh) == (16, 16)
        assert got.resized_sha256 == hashlib.sha256(small.tobytes()).hexdigest()
        assert abs(got.mean_gray
                   - small.sum(dtype=np.int64) / small.size) < 1e-9
        checked += 1
    assert checked > 25


def test_multimodal_near_dups_find_pixel_dups(spark):
    """Content-level image near-dup: phash duplicate-cluster members
    (identical pixels, possibly different fmt) must appear as
    cos == 1.0 pairs of the embedding-LSH path."""
    import pandas as pd

    from data_quality_check_spark.queries import REGISTRY

    fn, _ = REGISTRY["multimodal_near_dups"]
    pairs = fn(spark, "/root/testdata/sf0.001").toPandas()
    assert len(pairs) > 0
    assert (pairs.cos >= 0.9999).all()

    pdf = IM.generate_pandas(0.001)
    sub = pdf[pdf.image_id < "img_000000002000"]

    def decodable(r):
        try:
            codecs.decode(r["bytes"], r["fmt"], int(r["w"]), int(r["h"]))
            return True
        except Exception:
            return False

    # corrupted members (truncated bytes, dim mismatch) never reach
    # the feature path — only expect pairs of decodable images.
    # Ground truth groups by DECODED PIXEL CONTENT, not phash: smooth
    # gradient images can collide in the 8x8 average hash without
    # sharing pixels.
    sub = sub[sub.apply(decodable, axis=1)].copy()
    sub["pixkey"] = sub.apply(
        lambda r: codecs.decode(r["bytes"], r["fmt"], int(r["w"]),
                                int(r["h"])).tobytes(), axis=1)
    multi = sub.groupby("pixkey").image_id.agg(list)
    clustered = [sorted(ids) for ids in multi if len(ids) > 1]
    got_pairs = {tuple(sorted(p)) for p in
                 zip(pairs.id_a.tolist(), pairs.id_b.tolist())}
    for ids in clustered:
        a, b = ids[0], ids[1]
        assert (a, b) in got_pairs, f"dup cluster pair {(a, b)} missed"


def test_caption_alignment_matches_python_reference(spark, images_pdf):
    """Spark caption-trigram embedding + cosine vs a direct Python
    recomputation (md5 trigram buckets, block-mean image embedding)
    on the first 100 images; undecodable / gram-less rows get the
    -1.0 sentinel."""
    import hashlib

    df = IM.read_images(spark, 0.001).filter("image_id < 'img_000000000100'")
    out = (MM.caption_alignment(df, threshold=0.55)
           .toPandas().set_index("image_id"))
    assert len(out) == 100

    feats = (MM.extract_features(df).toPandas().set_index("image_id"))
    checked_pos = checked_neg = 0
    for _, row in images_pdf.head(100).iterrows():
        got = out.loc[row.image_id]
        lc = (row.caption or "").lower()
        counts = np.zeros(16, dtype=np.int64)
        for i in range(max(len(lc) - 2, 0)):
            g = lc[i:i + 3].encode("utf-8")
            counts[int(hashlib.md5(g).hexdigest()[0], 16)] += 1
        assert got.n_grams == counts.sum()
        frow = feats.loc[row.image_id]
        emb = np.round(np.array(frow.embedding, dtype=np.float64), 6) \
            if frow.decoded else None
        if (not frow.decoded or counts.sum() == 0
                or emb is None or (emb ** 2).sum() == 0):
            assert got.align_cos == -1.0
            assert not got.aligned
            checked_neg += 1
            continue
        ref = (counts * emb).sum() / (
            np.sqrt((counts.astype(np.float64) ** 2).sum())
            * np.sqrt((emb ** 2).sum()))
        assert abs(got.align_cos - round(ref, 6)) <= 1e-6
        assert got.aligned == (got.align_cos >= 0.55)
        checked_pos += 1
    assert checked_pos > 50
