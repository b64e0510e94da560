"""Expected-label fixtures for the UDF-dependent contract keys.

DuckDB cannot run the langid / perplexity / scrub / decode kernels
(kernels/verdict.py::model_verdict), so those keys were rows-only
checked.  This module runs the SAME pure-pandas reference oracle the
F1 gate trusts (data_quality_check_spark/oracle.py::evaluate —
bit-exact vs the pipeline per tests/test_pipeline_vs_oracle.py) over
the deterministic corpora WITHOUT Spark, and writes the expected
outputs as generate-once parquet; the SQL oracles SELECT the pinned
values.
That graduates `keep_decision_images`, `udf_decode`, `udf_langid`,
`udf_perplexity`, `udf_scrub` and `agg_bucket_metrics` from rows-only
to value-checked: what the pin verifies is the DISTRIBUTED execution
(Arrow round-trips, fused-UDF batching, flag->verdict expressions,
bucket assignment) against the single-process reference.

Deterministic caches — DELETE data/labels_* / data/decode_* /
data/doc_* after touching any kernel, sources/images.py, or the rule
constants.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from .constants import N_BUCKETS, RULE_ORDER
from .operators.multimodal import _round6


def _round2(v):
    """Spark round(double, 2) twin incl. special values (Spark's
    round passes NaN / +-Inf through unchanged)."""
    import decimal

    if v is None:
        return None
    f = float(v)
    if f != f or f in (float("inf"), float("-inf")):
        return f
    return float(decimal.Decimal(repr(f)).quantize(
        decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP))


def _scrub_hits_str(d) -> str:
    if not d:
        return ""
    return ",".join(f"{k}:{int(d[k])}" for k in sorted(d))


def _bucket(ph) -> int:
    if pd.isna(ph):
        ph = 0
    return int(ph) % N_BUCKETS  # pmod: nonneg for nonneg inputs


def ensure_label_fixtures(sf: float = 0.01,
                          root: str = "/root/repo/data",
                          testdata_dir: str = "/root/testdata/sf0.01",
                          ) -> dict[str, str]:
    """Generate-once; returns {name: path}."""
    import pyarrow.parquet as pq

    paths = {
        "labels": os.path.join(root, f"labels_sf{sf:g}.parquet"),
        "decode": os.path.join(root, f"decode_sf{sf:g}.parquet"),
        "doc_langid": os.path.join(root, f"doc_langid_sf{sf:g}.parquet"),
        "doc_ppl": os.path.join(root, f"doc_ppl_sf{sf:g}.parquet"),
        "doc_scrub": os.path.join(root, f"doc_scrub_sf{sf:g}.parquet"),
    }
    if all(os.path.exists(p) for p in paths.values()):
        return paths

    from .kernels.verdict import model_verdict
    from .oracle import evaluate
    from .sources.images import generate_pandas

    os.makedirs(root, exist_ok=True)

    def _write(path: str, frame: pd.DataFrame) -> None:
        import pyarrow as pa

        tmp = path + ".tmp"
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                       tmp)
        os.replace(tmp, path)

    # ---- images: pipeline verdict + decode metrics -------------------
    pdf = generate_pandas(sf)
    lab = evaluate(pdf)
    labels = pd.DataFrame({
        "image_id": lab["image_id"],
        "bucket": np.array([_bucket(p) for p in pdf["phash"]],
                           dtype=np.int32),
        "lang": lab["lang"],
        "lang_conf": [_round6(v) for v in lab["lang_conf"]],
        "ppl": [_round6(v) for v in lab["ppl"]],
        "keep": lab["keep"].astype(bool),
        "drop_reasons": ["|".join(r) for r in lab["drop_reasons"]],
        "rule_flags": np.array(
            [sum(1 << i for i, name in enumerate(RULE_ORDER)
                 if name in set(r))
             for r in lab["drop_reasons"]], dtype=np.int32),
        "caption_scrubbed": lab["caption_scrubbed"],
        "scrub_hits": [_scrub_hits_str(d) for d in lab["scrub_hits"]],
        "pixel_ok": lab["pixel_ok"].astype(bool),
    })
    _write(paths["labels"], labels)

    # decode metrics: evaluate's own model_verdict call, the one
    # pipeline_udf makes
    _write(paths["decode"], pd.DataFrame({
        "image_id": lab["image_id"],
        "pixel_ok": lab["pixel_ok"],
        "w_real": lab["w_real"], "h_real": lab["h_real"],
        "phash_real": lab["phash_real"],
        "psnr_db": np.array([_round2(v) for v in lab["psnr_db"]],
                            dtype=np.float64),
    }))

    # ---- documents: kernel outputs -----------------------------------
    docs = pq.read_table(
        os.path.join(testdata_dir, "documents.parquet")).to_pandas()
    # text-only verdict, as udfs.text_verdict binds it: null image
    # columns skip decode
    none = pd.Series([None] * len(docs), dtype=object)
    v = model_verdict(docs["text"], none, none, none, none, none)
    _write(paths["doc_langid"], pd.DataFrame({
        "doc_id": docs["doc_id"],
        "lang": v["lang"],
        "lang_conf": [_round6(x) for x in v["lang_conf"]],
    }))
    _write(paths["doc_ppl"], pd.DataFrame({
        "doc_id": docs["doc_id"],
        "ppl": [_round6(x) for x in v["ppl"]],
    }))
    _write(paths["doc_scrub"], pd.DataFrame({
        "doc_id": docs["doc_id"],
        "scrubbed": v["caption_scrubbed"],
        "toxic": v["toxic"].astype(bool),
    }))
    return paths


def _minhash_sig_py(text: str, num_hashes: int = 16,
                    shingle_k: int = 5) -> list[int]:
    """Driver-side twin of operators/dedup.py::minhash_signatures:
    one-permutation hashing over char shingles of the lowered text,
    empty bins densified with xxhash64(global_min, bin_idx).  Uses
    kernels/xxh64.py (bit-exact vs F.xxhash64 per tests/test_xxh64.py)
    so the signature longs match the engine's exactly."""
    from .kernels.xxh64 import hash_int, hash_long, hash_string

    low = text.lower()
    n = max(len(low) - (shingle_k - 1), 1)
    sentinel = (1 << 63) - 1
    sig = [sentinel] * num_hashes
    for i in range(n):
        h = hash_string(low[i:i + shingle_k])
        b = h % num_hashes  # Python floor-mod == Spark pmod for n>0
        if h < sig[b]:
            sig[b] = h
    gmin = min(s for s in sig if s != sentinel)
    for i in range(num_hashes):
        if sig[i] == sentinel:
            # engine densification: xxhash64(gmin:long, i:int) —
            # sequence(0, n-1) of int literals yields array<int>
            sig[i] = hash_int(i, hash_long(gmin))
    return sig


def _simhash64_py(text: str | None) -> int:
    """Driver-side twin of operators/dedup.py::simhash64 for one doc
    (signed int64): per-token xxhash64 of the lowered text split on
    single spaces, bit i set iff 2 * ones_i > n_tokens.  A doc with no
    tokens (null, empty or blank text) reaches the engine's aggregate
    as one null token, and xxhash64 of a null is the seed, so it votes
    as one token hashing to SEED."""
    from .kernels.xxh64 import SEED, hash_string

    toks = [t for t in (text or "").lower().split(" ") if t != ""]
    hs = [hash_string(t) for t in toks] or [SEED]
    u = 0
    for i in range(64):
        if 2 * sum((h >> i) & 1 for h in hs) > len(hs):
            u |= 1 << i
    return u - (1 << 64) if u >= (1 << 63) else u


def ensure_hash_fixtures(sf: float = 0.01,
                         root: str = "/root/repo/data",
                         testdata_dir: str = "/root/testdata/sf0.01",
                         ) -> dict[str, str]:
    """Expected MinHash-LSH clusters and SimHash values, computed
    WITHOUT Spark via the kernels/xxh64.py engine-hash twin —
    graduating `dedup_minhash_lsh` / `dedup_simhash` (the last two
    rows-only contract keys) to SQL-value-exact.  What the pin
    verifies is the distributed plan: the single-pass bin-min
    aggregate, densification, band explosion + groupBy on one side;
    the 64 branch-free bit-count aggregates on the other.

    Generate-once caches — DELETE data/doc_minhash_* /
    data/doc_simhash_* after touching kernels/xxh64.py or the
    minhash/simhash operators."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .kernels.xxh64 import hash_long

    paths = {
        "doc_minhash": os.path.join(root, f"doc_minhash_sf{sf:g}.parquet"),
        "doc_simhash": os.path.join(root, f"doc_simhash_sf{sf:g}.parquet"),
        "doc_minhash_sigs": os.path.join(
            root, f"doc_minhash_sigs_sf{sf:g}.parquet"),
    }
    if all(os.path.exists(p) for p in paths.values()):
        return paths
    os.makedirs(root, exist_ok=True)

    def _write(path: str, frame: pd.DataFrame) -> None:
        tmp = path + ".tmp"
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                       tmp)
        os.replace(tmp, path)

    docs = pq.read_table(
        os.path.join(testdata_dir, "documents.parquet")).to_pandas()

    # ---- minhash LSH clusters (band, band_hash, n, keeper_id) --------
    num_hashes, bands = 16, 4
    rows_per_band = num_hashes // bands
    clusters: dict[tuple[int, int], list[int]] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        sig = _minhash_sig_py(text, num_hashes)
        for b in range(bands):
            bh = 42
            for r in range(rows_per_band):
                bh = hash_long(sig[b * rows_per_band + r], bh)
            clusters.setdefault((b, bh), []).append(int(doc_id))
    rows = [{"band": b, "band_hash": bh, "n": len(ids),
             "keeper_id": min(ids)}
            for (b, bh), ids in sorted(clusters.items()) if len(ids) > 1]
    mh = pd.DataFrame(rows,
                      columns=["band", "band_hash", "n", "keeper_id"])
    mh["band"] = mh["band"].astype("int32")      # F.lit(b) is int
    mh["band_hash"] = mh["band_hash"].astype("int64")
    mh["n"] = mh["n"].astype("int64")
    mh["keeper_id"] = mh["keeper_id"].astype("int64")
    _write(paths["doc_minhash"], mh)

    # ---- raw per-doc signatures (doc_id, sig list<int64>) — the
    # estimator-audit oracle (dedup_minhash_est_error) reads these to
    # compute signature agreement in DuckDB ------------------------------
    sig_rows = [{"doc_id": int(doc_id),
                 "sig": [s - (1 << 64) if s >= (1 << 63) else s
                         for s in _minhash_sig_py(text, num_hashes)]}
                for doc_id, text in zip(docs["doc_id"], docs["text"])]
    sigs_tbl = pa.Table.from_pylist(
        sig_rows, schema=pa.schema([("doc_id", pa.int64()),
                                    ("sig", pa.list_(pa.int64()))]))
    tmp = paths["doc_minhash_sigs"] + ".tmp"
    pq.write_table(sigs_tbl, tmp)
    os.replace(tmp, paths["doc_minhash_sigs"])

    # ---- simhash (doc_id, simhash) ------------------------------------
    sims = [_simhash64_py(text) for text in docs["text"]]
    sh = pd.DataFrame({"doc_id": docs["doc_id"].astype("int64"),
                       "simhash": pd.Series(sims, dtype="int64")})
    _write(paths["doc_simhash"], sh)
    return paths
