"""Cross-batch stateful dedup (applyInPandasWithState): a phash seen
in shard 1 must be flagged duplicate when it reappears in shard 2."""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_quality_check_spark.sources import images as IM
from data_quality_check_spark.streaming.stateful import streaming_dedup


@pytest.fixture()
def dirs():
    ind = tempfile.mkdtemp(prefix="dqc-ss-in-")
    outd = tempfile.mkdtemp(prefix="dqc-ss-out-")
    yield ind, outd
    shutil.rmtree(ind, ignore_errors=True)
    shutil.rmtree(outd, ignore_errors=True)


def test_cross_batch_dedup(spark, dirs):
    ind, outd = dirs
    pdf = IM.generate_pandas(0.001)
    # split so duplicate clusters straddle the two shards
    for i, chunk in enumerate((pdf.iloc[:500], pdf.iloc[500:])):
        tbl = pa.Table.from_pandas(chunk, schema=IM.ARROW_SCHEMA,
                                   preserve_index=False)
        path = os.path.join(ind, f"shard{i}.parquet")
        pq.write_table(tbl, path)
        # the file source orders files by mtime: make the arrival order
        # explicit instead of relying on the clock's resolution
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (spark.readStream.schema(IM.IMAGES_DDL)
              .option("maxFilesPerTrigger", 1).parquet(ind))
    q = (
        streaming_dedup(stream)
        .writeStream.format("parquet")
        .option("path", os.path.join(outd, "res"))
        .option("checkpointLocation", os.path.join(outd, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    assert q.exception() is None

    res = spark.read.parquet(os.path.join(outd, "res")).toPandas()
    assert len(res) == 1000
    # exactly one non-dup (the keeper) per distinct phash, across batches
    keepers = res[~res.is_dup].groupby("phash").size()
    assert (keepers == 1).all()
    assert res[~res.is_dup].phash.nunique() == pdf.phash.nunique()
    # duplicates flagged even when the first sighting was an earlier shard
    multi = pdf.groupby("phash").size()
    dup_phashes = set(multi[multi > 1].index)
    flagged = set(res[res.is_dup].phash)
    assert flagged == dup_phashes


def test_cross_batch_near_dup_candidates(spark, dirs):
    """Streaming MinHash: an exact-dup text arriving in a LATER
    micro-batch must be a candidate in every band, first_id pointing
    at the first-batch original; the streamed (doc, band, band_hash)
    rows equal the batch minhash_band_table's."""
    import pandas as pd

    from data_quality_check_spark.operators import dedup
    from data_quality_check_spark.streaming.stateful import (
        streaming_near_dup_candidates)

    ind, outd = dirs
    base = ("a photo of the old stone bridge over the quiet river at "
            "sunset with a small boat passing underneath")
    b1 = pd.DataFrame({"doc_id": pd.array([1, 2], dtype="int64"),
                       "text": [base, "totally different market text "
                                      "about coffee and winter"]})
    b2 = pd.DataFrame({"doc_id": pd.array([3, 4], dtype="int64"),
                       "text": [base,  # exact dup of doc 1, later batch
                                "another unrelated caption about a dog "
                                "on the beach in summer"]})
    for i, chunk in enumerate((b1, b2)):
        path = os.path.join(ind, f"docs{i}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                       path)
        # pinned arrival order, as in test_cross_batch_dedup
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(ind))
    q = (
        streaming_near_dup_candidates(stream)
        .writeStream.format("parquet")
        .option("path", os.path.join(outd, "res"))
        .option("checkpointLocation", os.path.join(outd, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    assert q.exception() is None

    res = spark.read.parquet(os.path.join(outd, "res")).toPandas()
    assert len(res) == 16  # 4 docs x 4 bands
    d3 = res[res.doc_id == 3]
    assert len(d3) == 4 and d3.is_candidate_dup.all()
    assert (d3.first_id == 1).all()
    assert not res[res.doc_id == 2].is_candidate_dup.any()
    assert not res[res.doc_id == 4].is_candidate_dup.any()
    # streaming band rows == the batch band table's rows on the same docs
    batch = spark.createDataFrame(pd.concat([b1, b2]))
    bt = dedup.minhash_band_table(batch, "text", "doc_id").collect()
    assert {(r["__id"], r["band"], r["bh"]) for r in bt} == \
           {(int(d), int(b), int(h)) for d, b, h in
            zip(res.doc_id, res.band, res.band_hash)}


def test_near_dup_candidates_custom_id_col(spark, dirs):
    """id_col names the INPUT id column; the output id column is
    always doc_id (the state function's output schema)."""
    from data_quality_check_spark.streaming.stateful import (
        streaming_near_dup_candidates)

    ind, outd = dirs
    base = ("a photo of the old stone bridge over the quiet river at "
            "sunset with a small boat passing underneath")
    batches = ({"id": [1, 2], "text": [base, "coffee market in winter"]},
               {"id": [3], "text": [base]})
    for i, b in enumerate(batches):
        path = os.path.join(ind, f"docs{i}.parquet")
        pq.write_table(pa.Table.from_pydict(
            b, schema=pa.schema([("id", pa.int64()), ("text", pa.string())])),
            path)
        # the file source orders files by mtime: make the arrival order
        # explicit instead of relying on the clock's resolution
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (spark.readStream.schema("id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(ind))
    q = (streaming_near_dup_candidates(stream, id_col="id")
         .writeStream.format("parquet")
         .option("path", os.path.join(outd, "res"))
         .option("checkpointLocation", os.path.join(outd, "ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    assert q.exception() is None

    res = spark.read.parquet(os.path.join(outd, "res")).toPandas()
    assert sorted(set(res.doc_id)) == [1, 2, 3]
    d3 = res[res.doc_id == 3]
    assert len(d3) == 4 and d3.is_candidate_dup.all()
    assert (d3.first_id == 1).all()


def test_streaming_dedup_with_ttl_matches_no_timeout(spark, tmp_path):
    """With a TTL far longer than the run, eviction never fires and
    output is identical to the NoTimeout operator."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_check_spark.sources import images as IM
    from data_quality_check_spark.streaming.stateful import streaming_dedup

    pdf = IM.generate_pandas(0.001)
    in_dir = str(tmp_path / "shards")
    os.makedirs(in_dir)
    for i, chunk in enumerate((pdf.iloc[:500], pdf.iloc[500:])):
        tbl = pa.Table.from_pandas(chunk, schema=IM.ARROW_SCHEMA,
                                   preserve_index=False)
        pq.write_table(tbl, os.path.join(in_dir, f"s{i}.parquet"))

    outs = {}
    # a processing-time timeout makes Spark run a no-data batch after
    # every batch, so an availableNow query would never terminate
    # (see streaming_dedup); without no-data batches it ends after
    # its data batches and the TTL (1 h) still never fires
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(no_data, None)
    spark.conf.set(no_data, "false")
    try:
        for tag, ttl in (("none", None), ("long", 3_600_000)):
            stream = (spark.readStream.schema(IM.IMAGES_DDL)
                      .option("maxFilesPerTrigger", 1).parquet(in_dir))
            out_dir = str(tmp_path / f"out_{tag}")
            q = (streaming_dedup(stream, ttl_ms=ttl).writeStream
                 .format("parquet").option("path", out_dir)
                 .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
                 .trigger(availableNow=True).start())
            assert q.awaitTermination(120)
            assert q.exception() is None
            outs[tag] = (spark.read.parquet(out_dir).toPandas()
                         .sort_values("image_id").reset_index(drop=True))
    finally:
        if prev is None:
            spark.conf.unset(no_data)
        else:
            spark.conf.set(no_data, prev)
    pd.testing.assert_frame_equal(outs["none"], outs["long"])
    assert outs["none"].is_dup.sum() > 0  # cross-batch dups exist


def test_dedup_fn_timeout_branch_evicts():
    """The hasTimedOut branch removes state and emits nothing (driven
    with a fake GroupState — Spark invokes it with no data)."""
    from data_quality_check_spark.streaming.stateful import _make_dedup_fn

    class FakeState:
        hasTimedOut = True
        removed = False

        def remove(self):
            self.removed = True

    st = FakeState()
    out = list(_make_dedup_fn(1000)((42,), iter(()), st))
    assert st.removed
    assert len(out) == 1 and len(out[0]) == 0
