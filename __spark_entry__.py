"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``data_quality_check_spark/``; the query
registry (SURVEY.md §2 keys) is ``data_quality_check_spark.queries``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full quality-filter pipeline (rules + the
    fused Arrow UDF + dup-rank + keep verdict) over the deterministic
    synthetic images table at sf0.001, joined against the sf0.001
    fixture-scan smoke (rows > 0, stable schema).

    Also runs a one-microbatch Structured Streaming smoke: the same
    input through the foreachBatch bridge (streaming/ingest.py), with
    a stream==batch order-insensitive hash equality check — so driver
    rounds exercise the streaming surface, not just its imports."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_quality_check_spark.plans import pipeline
    from data_quality_check_spark.sources import images as IM
    from data_quality_check_spark.streaming.ingest import (
        start_quality_stream)

    df = IM.read_images(spark, 0.001)
    res = pipeline.results_select(pipeline.quality_frame(df))

    root = tempfile.mkdtemp(prefix="dqc-entry-stream-")
    try:
        df.write.mode("overwrite").parquet(f"{root}/in")
        q = start_quality_stream(spark, f"{root}/in", root, f"{root}/ckpt",
                                 max_files_per_trigger=64)
        # availableNow on a static local dir always terminates; the
        # bound is a guard so a wedged stream can never hang the
        # driver's smoke check
        if not q.awaitTermination(180):
            q.stop()
            raise RuntimeError("streaming smoke: micro-batch did not "
                               "finish within 180s")
        streamed = (spark.read.parquet(f"{root}/stream_results")
                    .drop("batch_id"))

        def _fingerprint(d: DataFrame) -> tuple:
            # xxhash64 rejects MAP columns (hash is order-sensitive);
            # canonicalize them to sorted entry arrays first
            cols = [F.array_sort(F.map_entries(f.name)).alias(f.name)
                    if f.dataType.typeName() == "map"
                    else F.col(f.name)
                    for f in sorted(d.schema.fields, key=lambda f: f.name)]
            return tuple(d.select(*cols).agg(
                F.count(F.lit(1)),
                F.bit_xor(F.xxhash64(F.struct(*[
                    f.name for f in sorted(d.schema.fields,
                                           key=lambda f: f.name)])))).first())

        if _fingerprint(streamed) != _fingerprint(res):
            raise RuntimeError(
                "streaming smoke: stream/batch verdict mismatch")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return res


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from data_quality_check_spark.queries import REGISTRY

    return {k: fn for k, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    from data_quality_check_spark.queries import REGISTRY
    from data_quality_check_spark.sources import images as IM

    # several oracles read the generated images parquet by path at
    # the driver's comparison scale — make sure it exists, along with
    # the numpy-oracle expected-values fixtures for the multimodal pin
    from data_quality_check_spark.operators.imgquality import (
        expected_imgquality)
    from data_quality_check_spark.operators.imgscore import (
        expected_imgrisk)
    from data_quality_check_spark.operators.audioquality import (
        expected_audiofp, expected_audioquality)
    from data_quality_check_spark.operators.videoquality import (
        expected_videofp, expected_videoquality)
    from data_quality_check_spark.operators.multimodal import (
        expected_fixtures, expected_near_dup_pairs)
    from data_quality_check_spark.oracle_fixtures import (
        ensure_hash_fixtures, ensure_label_fixtures)

    IM.ensure_images(0.01)
    expected_fixtures(0.01)
    expected_near_dup_pairs(0.01)
    ensure_label_fixtures(0.01)
    ensure_hash_fixtures(0.01)
    expected_imgquality(0.01)
    expected_imgrisk(0.01)
    expected_audioquality(0.01)
    expected_audiofp(0.01)
    expected_videoquality(0.01)
    expected_videofp(0.01)
    return {k: sql for k, (_fn, sql) in REGISTRY.items() if sql is not None}
