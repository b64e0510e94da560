"""Stage decomposition for dedup_text_big (VERDICT r4 item 4): time
each stage family of text_near_dup_keepers on the 5x-replicated
corpus, localCheckpoint-materialized boundaries, taskset-confined.

Every stage runs the production helpers of operators/dedup.py.
`minhash_candidate_pairs` rebuilds its own band table, so
band_join_distinct is its wall minus the band_table wall.  The
candidate-id semi-join is part of `_pair_grams`, so it is timed in
fetch_verify; gram_build_semi times the gram table alone.

Usage: taskset -c 0-7 python tools/decomp_dedup_text.py 8 [runs=2]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_quality_check_spark.session import get_spark  # noqa: E402


def main() -> None:
    cores = int(sys.argv[1])
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    rep = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    sf = 0.1
    spark = get_spark(master=f"local[{cores}]",
                      shuffle_partitions=cores * 2,
                      app_name=f"dqc-decomp-text-{cores}")
    spark.sparkContext.setLogLevel("ERROR")

    from data_quality_check_spark.operators.dedup import (
        _gram_table, _jaccard, _pair_grams, connected_components_star,
        minhash_band_table, minhash_candidate_pairs)

    base = spark.read.parquet(f"/root/testdata/sf{sf:g}/documents.parquet")
    docs = (base.crossJoin(spark.range(rep).select(F.col("id").alias("__rep")))
            .select((F.col("doc_id") * 32 + F.col("__rep")).alias("doc_id"),
                    "text")
            .localCheckpoint())
    threshold, ngram = 0.5, 3

    def one() -> dict:
        t: dict[str, float] = {}
        t0 = time.time()
        minhash_band_table(docs, "text", "doc_id", 16, 4, 5) \
            .localCheckpoint()
        t["band_table"] = time.time() - t0

        t0 = time.time()
        cand = minhash_candidate_pairs(docs, "text", "doc_id", 16, 4, 5) \
            .localCheckpoint()
        t["band_join_distinct"] = time.time() - t0 - t["band_table"]

        t0 = time.time()
        grams = _gram_table(docs, "text", "doc_id", ngram, hashed=True) \
            .localCheckpoint()
        t["gram_build_semi"] = time.time() - t0

        t0 = time.time()
        verified = (_pair_grams(cand, grams, "id_a", "id_b")
                    .filter(_jaccard() >= threshold)
                    .select("id_a", "id_b").localCheckpoint())
        t["fetch_verify"] = time.time() - t0

        t0 = time.time()
        comp = connected_components_star(verified).localCheckpoint()
        t["components"] = time.time() - t0

        t0 = time.time()
        out = (docs.select(F.col("doc_id").alias("id"))
               .join(comp, F.col("id") == F.col("node"), "left")
               .select("id",
                       F.coalesce(F.col("component"), F.col("id"))
                       .alias("keeper_id"),
                       (F.coalesce(F.col("component"), F.col("id"))
                        != F.col("id")).alias("is_dup")))
        out.agg(F.bit_xor(F.xxhash64(F.struct(*out.columns)))).collect()
        t["final_join"] = time.time() - t0
        t["total"] = sum(t.values())
        return {k: round(v, 2) for k, v in t.items()}

    one()
    for _ in range(runs):
        print(json.dumps({"cores": cores, **one()}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
