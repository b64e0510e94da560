"""Stage decomposition for dedup_text_big (VERDICT r4 item 4): time
each stage family of text_near_dup_keepers on the 5x-replicated
corpus, localCheckpoint-materialized boundaries, taskset-confined.

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

    from data_quality_check_spark.operators import dedup
    from data_quality_check_spark.operators.dedup import (
        _gram_expr, _hashed_grams, _widen, connected_components_star,
        minhash_band_table)

    base = spark.read.parquet(f"/root/testdata/sf{sf:g}/documents.parquet")
    docs = (base.crossJoin(spark.range(rep).select(F.col("id").alias("__rep")))
            .select((F.col("doc_id") * 32 + F.col("__rep")).alias("doc_id"),
                    "text")
            .localCheckpoint())
    threshold, ngram = 0.5, 3

    def one() -> dict:
        t: dict[str, float] = {}
        t0 = time.time()
        banded = minhash_band_table(docs, "text", "doc_id", 16, 4, 5) \
            .localCheckpoint()
        t["band_table"] = time.time() - t0

        t0 = time.time()
        cand = (banded.alias("a").join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.__id") < F.col("b.__id")))
            .select(F.col("a.__id").alias("id_a"),
                    F.col("b.__id").alias("id_b"))
            .distinct().localCheckpoint())
        t["band_join_distinct"] = time.time() - t0

        t0 = time.time()
        tokd = docs.select(
            F.col("doc_id"),
            F.filter(F.split(F.lower(F.col("text")), " "),
                     lambda x: x != F.lit("")).alias("__toks"))
        grams = tokd.select(F.col("doc_id").alias("gid"),
                            _hashed_grams(
                                _gram_expr(F.col("__toks"), ngram))
                            .alias("grams"))
        cand_ids = (cand.select(F.col("id_a").alias("gid"))
                    .union(cand.select(F.col("id_b").alias("gid")))
                    .distinct())
        grams = grams.join(cand_ids, "gid", "left_semi").localCheckpoint()
        t["gram_build_semi"] = time.time() - t0

        t0 = time.time()
        pairs = (
            cand.join(grams.select(F.col("gid").alias("id_a"),
                                   F.col("grams").alias("ga")), "id_a")
            .join(grams.select(F.col("gid").alias("id_b"),
                               F.col("grams").alias("gb")), "id_b"))
        inter = F.size(F.array_intersect("ga", "gb")).cast("double")
        union = (F.size("ga") + F.size("gb")).cast("double") - inter
        verified = (pairs.withColumn("jaccard", inter / union)
                    .filter(F.col("jaccard") >= threshold)
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
