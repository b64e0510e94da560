"""Multimodal column plumbing (training-data pipeline ops).

Images/audio/video are opaque `binary` columns with typed metadata.
The Spark-side plumbing — schema, Arrow batch shape, mapInPandas
signature, partitioning discipline (small batches while the payload
column is in flight) — is real and tested; image decode for the three
sandbox formats is real (kernels/codecs.py).  PCM WAV audio
(kernels/audio.py, operators/audioquality.py) and the documented RVID
stand-in video container (kernels/video.py, operators/videoquality.py)
are implemented end to end; codec audio/video (mp3/ogg/flac,
mp4/webm) is unsupported, because ffmpeg-class decoders are not
installed [ENV].  The ML feature extractor is a deterministic fake;
swap `_fake_embedding` for a real model UDF on a cluster.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

FEATURES_DDL = (
    "image_id string, n_bytes int, decoded boolean, mean_r double, "
    "mean_g double, mean_b double, embedding array<float>"
)

EMB_DIM = 16


def _fake_embedding(pix: np.ndarray) -> np.ndarray:
    """Deterministic stand-in for a vision encoder: 16 coarse block
    means of the grayscale image, scaled to [0, 1].  Replace with a
    real model (e.g. ONNX runtime pandas UDF) on a cluster.

    Block means are EXACT integer sums (uint8 -> int64) folded by two
    `reduceat` passes, one division at the end — ~8x faster than the
    r1 version's 16 small-slice float means, and deterministic
    regardless of value order (integer addition is associative).
    reduceat's empty-segment rule (returns the element at the index)
    reproduces the old max(lo+1, hi) single-row fallback for degenerate
    tiny images."""
    s = pix.sum(axis=2, dtype=np.int64)            # HxW channel sums
    h, w = s.shape
    ys = (np.arange(5) * h) // 4
    xs = (np.arange(5) * w) // 4
    rows = np.add.reduceat(s, ys[:4], axis=0)      # 4xW row-band sums
    blocks = np.add.reduceat(rows, xs[:4], axis=1)  # 4x4 block sums
    cnt = np.outer(np.maximum(np.diff(ys), 1),
                   np.maximum(np.diff(xs), 1)) * 3
    return (blocks / cnt / 255.0).astype(np.float32).ravel()


def extract_features(images: DataFrame, batch_limit: int = 512) -> DataFrame:
    """Decode + feature-extract via mapInPandas (multi-column in,
    struct out, bounded batches while `bytes` is in flight)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import codecs

        for pdf in batches:
            for start in range(0, len(pdf), batch_limit):
                chunk = pdf.iloc[start:start + batch_limit]
                # column-wise numpy access + zip: iterrows() builds a
                # Series per row and was the slowest path in the UDF
                # hot loop (same idiom as kernels/verdict.py)
                ids = chunk["image_id"].to_numpy()
                blobs = chunk["bytes"].to_numpy()
                fmts = chunk["fmt"].to_numpy()
                ws = chunk["w"].to_numpy()
                hs = chunk["h"].to_numpy()
                rows = []
                for iid, blob, fmt, w, h in zip(ids, blobs, fmts, ws, hs):
                    rec = {
                        "image_id": iid,
                        "n_bytes": len(blob) if blob is not None else 0,
                        "decoded": False,
                        "mean_r": None, "mean_g": None, "mean_b": None,
                        "embedding": None,
                    }
                    try:
                        pix = codecs.decode(blob, fmt, int(w), int(h))
                        # exact integer channel sums; one float divide
                        means = (pix.sum(axis=(0, 1), dtype=np.int64)
                                 / float(pix.shape[0] * pix.shape[1]))
                        rec.update(
                            decoded=True,
                            mean_r=float(means[0]), mean_g=float(means[1]),
                            mean_b=float(means[2]),
                            embedding=_fake_embedding(pix).tolist(),
                        )
                    except Exception:
                        pass
                    rows.append(rec)
                yield pd.DataFrame(rows)

    return images.select("image_id", "bytes", "fmt", "w", "h").mapInPandas(
        run, FEATURES_DDL)


RESIZE_DDL = ("image_id string, decoded boolean, rw int, rh int, "
              "resized_sha256 string, mean_gray double")


def resize_nearest(pix: np.ndarray, tw: int, th: int) -> np.ndarray:
    """Nearest-neighbor resize by floor index mapping — deterministic
    (pure integer index arithmetic, no interpolation rounding), so the
    output digest is stable across platforms and batch compositions."""
    h, w = pix.shape[:2]
    ys = (np.arange(th, dtype=np.int64) * h) // th
    xs = (np.arange(tw, dtype=np.int64) * w) // tw
    return pix[ys][:, xs]


def resize_images(images: DataFrame, tw: int = 32, th: int = 32,
                  batch_limit: int = 512) -> DataFrame:
    """Decode + resize to a fixed thumbnail grid via mapInPandas.

    Emits scalar evidence columns instead of the pixel payload: the
    sha256 of the resized RGB buffer (byte-exact identity check) and
    the exact grayscale mean.  On a real cluster the thumbnail bytes
    would be re-emitted as a binary column for the downstream vision
    encoder; here the digest keeps the driver-contract output scalar
    while still pinning every pixel."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from ..kernels import codecs

        for pdf in batches:
            for start in range(0, len(pdf), batch_limit):
                chunk = pdf.iloc[start:start + batch_limit]
                ids = chunk["image_id"].to_numpy()
                blobs = chunk["bytes"].to_numpy()
                fmts = chunk["fmt"].to_numpy()
                ws = chunk["w"].to_numpy()
                hs = chunk["h"].to_numpy()
                rows = []
                for iid, blob, fmt, w, h in zip(ids, blobs, fmts, ws, hs):
                    rec = {"image_id": iid, "decoded": False,
                           "rw": tw, "rh": th,
                           "resized_sha256": None, "mean_gray": None}
                    try:
                        pix = codecs.decode(blob, fmt, int(w), int(h))
                        small = np.ascontiguousarray(
                            resize_nearest(pix, tw, th))
                        rec.update(
                            decoded=True,
                            resized_sha256=hashlib.sha256(
                                small.tobytes()).hexdigest(),
                            mean_gray=float(small.sum(dtype=np.int64)
                                            / small.size),
                        )
                    except Exception:
                        pass
                    rows.append(rec)
                yield pd.DataFrame(rows)

    return images.select("image_id", "bytes", "fmt", "w", "h").mapInPandas(
        run, RESIZE_DDL)


_Q6 = __import__("decimal").Decimal("0.000001")


def _round_half_up(v, n: int) -> float | None:
    """Replicate Spark's round(double, n) exactly: BigDecimal.valueOf
    uses the double's SHORTEST decimal repr (== Python repr) and
    rounds HALF_UP — binary-value rounding (numpy/DuckDB round) can
    disagree on ties, which the driver's exact float compare would
    flag."""
    import decimal

    if v is None:
        return None
    f = float(v)
    if f != f:  # NaN
        return None
    q = _Q6 if n == 6 else decimal.Decimal(1).scaleb(-n)
    out = float(decimal.Decimal(repr(f)).quantize(
        q, rounding=decimal.ROUND_HALF_UP))
    # `+ 0.0` normalizes IEEE negative zero: the kernels can emit
    # -0.0 (e.g. entropy -(p*log2 p).sum() of a one-bin histogram)
    # while Spark's round() emits +0.0; the two compare equal under
    # == but hash differently under a bit-sensitive canonicalizer
    # (the driver's), so fixtures must carry the same bits as Spark.
    return out + 0.0


def _round6(v) -> float | None:
    return _round_half_up(v, 6)


def expected_fixtures(sf: float, root: str = "/root/repo/data") -> tuple[str, str]:
    """Driver-side numpy oracle for the multimodal value pin: decode
    every image of the deterministic corpus WITHOUT Spark (plain
    Python loop over generate_pandas) and write the expected
    features/resize outputs as parquet, so the DuckDB oracle for
    multimodal_features / multimodal_resize can SELECT literal
    expected values — graduating both keys from rows-only to
    value-checked.  Shares the decode/embedding/resize kernels with
    the Spark path by design (the repo-wide shared-kernel invariant);
    what the pin verifies is the Spark-side plumbing: Arrow batch
    round-trips, mapInPandas chunking, schema, and null paths.

    Generate-once cache like images_sf*.parquet — DELETE the mm_*
    caches after touching sources/images.py or kernels/codecs.py."""
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    feat_path = os.path.join(root, f"mm_features_sf{sf:g}.parquet")
    rez_path = os.path.join(root, f"mm_resize_sf{sf:g}.parquet")
    if os.path.exists(feat_path) and os.path.exists(rez_path):
        return feat_path, rez_path

    from ..kernels import codecs
    from ..sources.images import generate_pandas

    os.makedirs(root, exist_ok=True)
    pdf = generate_pandas(sf)
    frows: list[dict] = []
    rrows: list[dict] = []
    for iid, blob, fmt, w, h in zip(pdf["image_id"], pdf["bytes"],
                                    pdf["fmt"], pdf["w"], pdf["h"]):
        frec: dict = {
            "image_id": iid,
            "n_bytes": len(blob) if blob is not None else 0,
            "decoded": False,
            "mean_r": None, "mean_g": None, "mean_b": None,
            **{f"emb_{i:02d}": None for i in range(EMB_DIM)},
        }
        rrec: dict = {"image_id": iid, "decoded": False, "rw": 16,
                      "rh": 16, "resized_sha256": "", "mean_gray": None}
        try:
            pix = codecs.decode(blob, fmt, int(w), int(h))
        except Exception:
            pix = None
        if pix is not None:
            means = (pix.sum(axis=(0, 1), dtype=np.int64)
                     / float(pix.shape[0] * pix.shape[1]))
            emb = _fake_embedding(pix)
            frec.update(decoded=True,
                        mean_r=_round6(means[0]), mean_g=_round6(means[1]),
                        mean_b=_round6(means[2]))
            for i in range(EMB_DIM):
                # float32 -> float64 widening is exact on both sides
                frec[f"emb_{i:02d}"] = _round6(float(emb[i]))
            small = np.ascontiguousarray(resize_nearest(pix, 16, 16))
            rrec.update(
                decoded=True,
                resized_sha256=hashlib.sha256(small.tobytes()).hexdigest(),
                mean_gray=_round6(small.sum(dtype=np.int64) / small.size))
        frows.append(frec)
        rrows.append(rrec)

    fpdf = pd.DataFrame(frows)
    rpdf = pd.DataFrame(rrows)
    fpdf["n_bytes"] = fpdf["n_bytes"].astype("int32")
    rpdf["rw"] = rpdf["rw"].astype("int32")
    rpdf["rh"] = rpdf["rh"].astype("int32")
    for path, frame in ((feat_path, fpdf), (rez_path, rpdf)):
        tmp = path + ".tmp"
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                       tmp)
        os.replace(tmp, path)
    return feat_path, rez_path


def expected_near_dup_pairs(sf: float,
                            root: str = "/root/repo/data") -> str:
    """Driver-side numpy oracle for the `multimodal_near_dups` value
    pin: replicate the ENTIRE Spark plan — decode -> block-mean
    embedding -> per-vector mean-centering -> banded random-hyperplane
    LSH candidates -> exact cosine -> threshold — in plain numpy with
    BIT-IDENTICAL float semantics, and write the expected (id_a, id_b,
    cos) pairs as parquet for the DuckDB oracle to SELECT.

    Why this is exactly reproducible (not probabilistic): the
    hyperplanes are deterministic driver-side literals
    (similarity.py::_hyperplanes, fixed rng seed), and every float
    reduction in the Spark plan is a SEQUENTIAL double fold
    (F.aggregate starting at 0.0) — replicated here by accumulating
    column-by-column over a (rows, dim) float64 array, which performs
    the same additions in the same order per row.  numpy's own
    np.sum/np.dot would NOT be safe (pairwise summation changes
    rounding, and a last-ulp flip near a hyperplane changes a
    signature bit); the column loop is the whole trick.

    Mirrors q_multimodal_near_dups exactly: first 2000 image_ids,
    decoded only, threshold 0.9999 on the 6-rounded cosine, bits=16 x
    bands=8, center_lsh, output cos re-rounded to 4.  Generate-once
    cache like mm_features — DELETE data/mm_* after touching
    sources/images.py, kernels, or this module."""
    import itertools
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, f"mm_neardups_sf{sf:g}.parquet")
    if os.path.exists(path):
        return path

    from ..kernels import codecs
    from ..sources.images import generate_pandas
    from .similarity import _hyperplanes

    bits, bands, dim, threshold = 16, 8, 16, 0.9999

    def seqsum(arr: np.ndarray) -> np.ndarray:
        # sequential left fold per row, vectorized across rows —
        # replicates F.aggregate(..., 0.0, acc + v) double-for-double
        acc = np.zeros(arr.shape[0], dtype=np.float64)
        for i in range(arr.shape[1]):
            acc = acc + arr[:, i]
        return acc

    pdf = generate_pandas(sf)
    pdf = pdf[pdf.image_id < "img_000000002000"]
    ids: list[str] = []
    embs: list[np.ndarray] = []
    for iid, blob, fmt, w, h in zip(pdf["image_id"], pdf["bytes"],
                                    pdf["fmt"], pdf["w"], pdf["h"]):
        try:
            pix = codecs.decode(blob, fmt, int(w), int(h))
        except Exception:
            continue
        ids.append(iid)
        embs.append(_fake_embedding(pix))
    # float32 -> float64 widening is exact (same as Spark's cast)
    E = np.stack(embs).astype(np.float64)
    n = len(ids)

    mu = seqsum(E) / float(dim)
    C = E - mu[:, None]

    cand: set[tuple[int, int]] = set()
    for t in range(bands):
        planes = _hyperplanes(dim, bits, seed=t)
        sig = np.zeros(n, dtype=np.int64)
        for b in range(bits):
            # elementwise double multiply then sequential fold — the
            # same ops as similarity._plane_dots (zip_with + aggregate)
            sig += np.where(seqsum(C * planes[b]) > 0.0, 1 << b, 0)
        order = np.argsort(sig, kind="stable")
        svals = sig[order]
        start = 0
        for k in range(1, n + 1):
            if k == n or svals[k] != svals[start]:
                if k - start > 1:
                    grp = order[start:k]
                    for i, j in itertools.combinations(grp, 2):
                        a, b2 = (i, j) if ids[i] < ids[j] else (j, i)
                        cand.add((a, b2))
                start = k

    norms = np.sqrt(seqsum(E * E))
    rows = []
    for i, j in sorted(cand):
        dot = seqsum((E[i] * E[j])[None, :])[0]
        cos6 = _round6(dot / (norms[i] * norms[j]))
        if cos6 is not None and cos6 >= threshold:
            rows.append({"id_a": ids[i], "id_b": ids[j],
                         "cos": _round_half_up(cos6, 4)})

    out = pd.DataFrame(rows, columns=["id_a", "id_b", "cos"])
    out["cos"] = out["cos"].astype("float64")
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pandas(out, preserve_index=False), tmp)
    os.replace(tmp, path)
    return path


def caption_alignment(images: DataFrame,
                      threshold: float = 0.55) -> DataFrame:
    """CLIP-score-shaped caption<->image alignment filter (the
    LAION-style "does the caption match the image?" gate).  Real
    CLIP needs a model this sandbox doesn't have, so both encoders
    are deterministic stand-ins with the production plan shape:

      image side   = the 16-dim block-mean embedding from the decode
                     mapInPandas (extract_features) — swap for a
                     vision-tower pandas UDF on a cluster;
      caption side = a 16-dim hashed char-trigram count embedding,
                     built entirely JVM-side (md5 bucket per trigram,
                     one explode + conditional-sum groupBy);
      score        = cosine(caption_emb, image_emb), keep when
                     score >= threshold.

    On the synthetic fixture the captions are content-free word
    salads, so the score carries no real signal — the VALUE of this
    operator here is the verified plumbing: both branches prune to
    (id, small-vector), the caption branch never touches `bytes`,
    the trigram shuffle is payload-free (17 ints per image after
    map-side combine), and the join is image_id-keyed on both sides.

    Scale: at 10^12 rows the caption groupBy partial-aggregates
    per-partition (shuffled rows ~= images, not trigrams); the
    decode branch is the same single fused ArrowEvalPython the main
    pipeline uses; cosine is whole-stage codegen."""
    from functools import reduce

    from pyspark.sql import functions as F

    feats = extract_features(images)
    femb = feats.select(
        "image_id", "decoded",
        *[F.round(F.col("embedding")[i].cast("double"), 6)
          .alias(f"e{i:02d}") for i in range(EMB_DIM)])

    lc = images.select(
        "image_id",
        F.coalesce(F.lower(F.col("caption")), F.lit("")).alias("_lc"))
    # trigram list in its own projection (HOF rule: never build it
    # inline where later columns would re-evaluate it per reference)
    grams = lc.select("image_id", F.expr(
        "CASE WHEN char_length(_lc) >= 3 THEN "
        "transform(sequence(1, char_length(_lc) - 2), "
        "i -> substring(_lc, i, 3)) ELSE array() END").alias("_grams"))
    dims = grams.select("image_id", F.expr(
        "transform(_grams, g -> instr('0123456789abcdef', "
        "substring(md5(g), 1, 1)) - 1)").alias("_dims"))
    # explode_outer keeps gram-less captions (null d -> all-zero
    # counts) so every image gets a verdict row
    d = dims.select("image_id", F.explode_outer("_dims").alias("d"))
    counts = d.groupBy("image_id").agg(
        *[F.sum(F.when(F.col("d") == i, 1).otherwise(0))
          .cast("bigint").alias(f"c{i:02d}") for i in range(EMB_DIM)])

    j = counts.join(femb, "image_id")
    dot = reduce(lambda a, b: a + b,
                 [F.col(f"c{i:02d}") * F.col(f"e{i:02d}")
                  for i in range(EMB_DIM)])
    nc2 = reduce(lambda a, b: a + b,
                 [F.col(f"c{i:02d}") * F.col(f"c{i:02d}")
                  for i in range(EMB_DIM)])
    ne2 = reduce(lambda a, b: a + b,
                 [F.col(f"e{i:02d}") * F.col(f"e{i:02d}")
                  for i in range(EMB_DIM)])
    n_grams = reduce(lambda a, b: a + b,
                     [F.col(f"c{i:02d}") for i in range(EMB_DIM)])
    cos = (dot.cast("double")
           / (F.sqrt(nc2.cast("double")) * F.sqrt(ne2)))
    score = F.when(F.col("decoded") & (nc2 > 0) & (ne2 > 0),
                   F.round(cos, 6)).otherwise(F.lit(-1.0))
    return j.select(
        "image_id", "decoded", n_grams.alias("n_grams"),
        score.alias("align_cos"),
        (score >= F.lit(threshold)).alias("aligned"))
