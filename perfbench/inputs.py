"""Seeded input cache and the reference answers the benchmark checks
against.

For a (rows, seed) pair this writes, under ``perfbench/.cache`` and
only the files a run needs:

- ``images.parquet``: ``sources.images.generate_pandas(sf, seed)`` in
  the layout ``sources.images.ensure_images`` uses (``bytes``
  uncompressed, the rest zstd, 2048-row groups);
- ``labels.parquet``: ``oracle.evaluate`` on the same frame
  (image_id, keep, caption_scrubbed);
- ``neardup.parquet``: the near-duplicate keeper of every image from
  an all-pairs Hamming scan over the distinct phashes plus union-find,
  written in numpy with no Spark involved.

``ensure_images``/``read_images`` are not used: they ignore the seed
and write into the repository's ``data/`` directory.

Run as a script it fills in one cache entry; the workload process
starts it next to the Spark session so that generation stays out of
set-up.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import numpy as np
import pandas as pd

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
# one entry is ~25 MB at 8k rows; keep the newest dozen seeds only
MAX_ENTRIES = 12
MAX_HAMMING = 3  # operators.dedup.image_near_dup_keepers default
PARTS = ("labels", "neardup")


def entry_dir(rows: int, seed: int) -> str:
    return os.path.join(CACHE_DIR, f"rows{rows}-seed{seed}")


def part_path(rows: int, seed: int, part: str) -> str:
    return os.path.join(entry_dir(rows, seed), f"{part}.parquet")


def missing(rows: int, seed: int, parts) -> list[str]:
    """The files of ("images", *parts) not yet in the cache entry."""
    return [p for p in ("images", *parts)
            if not os.path.exists(part_path(rows, seed, p))]


_BYTE_POPCOUNT = np.array([bin(i).count("1") for i in range(256)],
                          dtype=np.uint8)


def _popcount64(x: np.ndarray) -> np.ndarray:
    b = x.view(np.uint8).reshape(*x.shape, 8)
    return _BYTE_POPCOUNT[b].sum(axis=-1, dtype=np.int32)


def near_dup_reference(image_id: pd.Series, phash: pd.Series) -> pd.DataFrame:
    """(id, keeper_id, is_dup) per image: images whose phashes are
    linked by a chain of pairs within MAX_HAMMING bits form a group,
    and the smallest image_id of the group keeps.  Null phashes keep
    themselves."""
    df = pd.DataFrame({"id": image_id.to_numpy(), "ph": phash.to_numpy()})
    nn = df[df["ph"].notna()]
    reps = nn.groupby("ph")["id"].min()
    ph = reps.index.to_numpy(dtype=np.int64).view(np.uint64)
    rep = reps.to_numpy(dtype=object)
    parent = np.arange(len(ph))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    chunk = 256
    for lo in range(0, len(ph), chunk):
        blk = ph[lo:lo + chunk]
        dist = _popcount64(blk[:, None] ^ ph[None, :])
        ii, jj = np.nonzero(dist <= MAX_HAMMING)
        ii = ii + lo
        for i, j in zip(ii[ii < jj].tolist(), jj[ii < jj].tolist()):
            ri, rj = find(i), find(j)
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)
    roots = np.array([find(i) for i in range(len(ph))], dtype=np.int64)
    keeper_of_root: dict = {}
    for r, rid in zip(roots.tolist(), rep.tolist()):
        if r not in keeper_of_root or rid < keeper_of_root[r]:
            keeper_of_root[r] = rid
    keeper_by_ph = dict(zip(reps.index.tolist(),
                            (keeper_of_root[r] for r in roots.tolist())))
    keeper = [keeper_by_ph[p] if not pd.isna(p) else i
              for i, p in zip(df["id"].tolist(), df["ph"].tolist())]
    out = pd.DataFrame({"id": df["id"], "keeper_id": keeper})
    out["is_dup"] = out["keeper_id"] != out["id"]
    return out


def _evict_old() -> None:
    entries = [os.path.join(CACHE_DIR, d) for d in os.listdir(CACHE_DIR)
               if d.startswith("rows")]
    entries.sort(key=os.path.getmtime, reverse=True)
    for d in entries[MAX_ENTRIES:]:
        shutil.rmtree(d, ignore_errors=True)


def build(rows: int, seed: int, parts) -> None:
    """Fill in whatever of ("images", *parts) the entry lacks.  Each
    file is written under a temporary name and renamed into place, so
    a killed run never leaves a partial file behind."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_check_spark import oracle
    from data_quality_check_spark.sources import images as IM

    todo = missing(rows, seed, parts)
    os.makedirs(entry_dir(rows, seed), exist_ok=True)
    os.utime(entry_dir(rows, seed))
    if not todo:
        return

    def put(part: str, write) -> None:
        path = part_path(rows, seed, part)
        write(path + ".tmp")
        os.replace(path + ".tmp", path)

    if "images" in todo:
        pdf = IM.generate_pandas(rows / IM.SF_ROWS, seed)
        if len(pdf) != rows:
            raise ValueError(f"generator made {len(pdf)} rows, wanted {rows}")
        tbl = pa.Table.from_pandas(pdf, schema=IM.ARROW_SCHEMA,
                                   preserve_index=False)
        codecs_map = {name: "zstd" for name in tbl.schema.names}
        codecs_map["bytes"] = "none"
        put("images", lambda p: pq.write_table(
            tbl, p, compression=codecs_map, row_group_size=2048))
    else:
        pdf = pd.read_parquet(part_path(rows, seed, "images"))
    if "labels" in todo:
        lab = oracle.evaluate(pdf)[["image_id", "keep", "caption_scrubbed"]]
        put("labels", lambda p: lab.to_parquet(p, index=False))
    if "neardup" in todo:
        ref = near_dup_reference(pdf["image_id"], pdf["phash"])
        put("neardup", lambda p: ref.to_parquet(p, index=False))
    _evict_old()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--parts", nargs="*", choices=PARTS, default=[])
    a = ap.parse_args()
    build(a.rows, a.seed, a.parts)


if __name__ == "__main__":
    main()
