"""Streaming session windows + dropDuplicatesWithinWatermark
(streaming/windows.py): stream/batch parity and suppression."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_quality_check_spark.sources import images as IM
from data_quality_check_spark.streaming.windows import (
    dedup_within_watermark, session_activity)


@pytest.fixture()
def ts_shard_dir(spark):
    """Two parquet shards of (image_id, fmt, phash, ingest_ts) with a
    DETERMINISTIC event time derived from the row index: bursts of
    activity separated by > gap, split across shards mid-burst."""
    d = tempfile.mkdtemp(prefix="dqc-sess-")
    pdf = IM.generate_pandas(0.001)[["image_id", "fmt", "phash"]].copy()
    idx = range(len(pdf))
    # 100-row bursts every 20 minutes; 3 s between events in a burst
    pdf["ingest_ts"] = [
        pa.scalar(1_700_000_000 + (i // 100) * 1200 + (i % 100) * 3,
                  type=pa.int64()).as_py() for i in idx]
    pdf["ingest_ts"] = pdf["ingest_ts"].astype("datetime64[s]")
    for i, chunk in enumerate((pdf.iloc[:500], pdf.iloc[500:])):
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                       os.path.join(d, f"shard{i}.parquet"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _read_stream(spark, d):
    return (spark.readStream
            .schema("image_id string, fmt string, phash long, "
                    "ingest_ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(d))


def test_session_stream_matches_batch(spark, ts_shard_dir):
    """Complete-mode streaming sessions == the batch session_window
    aggregation over the same rows (parity by construction — same
    expression — but mid-burst shard splits exercise state merge)."""
    out = session_activity(_read_stream(spark, ts_shard_dir),
                           gap="1 minute")
    q = (out.writeStream.format("memory").queryName("sess")
         .outputMode("complete")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert q.exception() is None

    got = spark.sql("select * from sess").toPandas()
    batch = (spark.read.parquet(ts_shard_dir)
             .groupBy(F.session_window("ingest_ts", "1 minute")
                      .alias("sess"), "fmt")
             .agg(F.count("*").alias("n_events"),
                  F.min("ingest_ts").alias("first_ts"),
                  F.max("ingest_ts").alias("last_ts"))
             .select(F.col("sess.start").alias("sess_start"),
                     F.col("sess.end").alias("sess_end"),
                     "fmt", "n_events", "first_ts", "last_ts")
             ).toPandas()
    key = ["sess_start", "fmt"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b) and len(b) > 1
    for c in g.columns:
        assert (g[c] == b[c]).all(), c
    # bursts are 300 s long with 3 s steps: multi-event sessions exist
    assert (g.n_events > 1).any()


def test_dedup_within_watermark_suppresses(spark, ts_shard_dir):
    """Cross-shard phash duplicates inside the watermark horizon are
    suppressed to exactly one surviving row per phash."""
    out = dedup_within_watermark(_read_stream(spark, ts_shard_dir),
                                 keys=("phash",), watermark="2 hours")
    q = (out.writeStream.format("memory").queryName("dedup")
         .outputMode("append")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert q.exception() is None

    got = spark.sql("select phash, count(*) n from dedup group by 1"
                    ).toPandas()
    src = spark.read.parquet(ts_shard_dir)
    n_distinct = src.select("phash").distinct().count()
    assert (got.n == 1).all()
    assert len(got) == n_distinct
    assert n_distinct < src.count()  # fixture really has dups
