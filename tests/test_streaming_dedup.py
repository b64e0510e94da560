"""Streaming incremental dedup (streaming/dedup_stream.py): the
stream's cumulative keepers/statuses equal sequential batch-mode
incremental_dedup, and a doc is deduped against keepers from EARLIER
micro-batches (cross-batch state via the catalog, not the stream)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from data_quality_check_spark.operators.dedup import incremental_dedup
from data_quality_check_spark.plans.catalog import LocalParquetCatalog
from data_quality_check_spark.streaming.dedup_stream import (
    start_incremental_dedup_stream)


@pytest.fixture()
def dirs():
    ind = tempfile.mkdtemp(prefix="dqc-sdedup-in-")
    outd = tempfile.mkdtemp(prefix="dqc-sdedup-out-")
    yield ind, outd
    shutil.rmtree(ind, ignore_errors=True)
    shutil.rmtree(outd, ignore_errors=True)


def _shards():
    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs[["doc_id", "text"]].sort_values("doc_id")
    third = len(docs) // 3
    return [docs.iloc[:third], docs.iloc[third:2 * third],
            docs.iloc[2 * third:]]


def write_shards(ind: str, shards) -> None:
    for i, chunk in enumerate(shards):
        p = os.path.join(ind, f"shard{i}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                       p)
        # the file source orders micro-batches by modification time;
        # back-to-back writes can TIE, letting the stream process
        # shards in a different order than the sequential reference
        # (observed once as a keeper-set flake under a loaded host) —
        # pin strictly increasing mtimes
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))


def sequential_reference(spark, shards) -> tuple[list[int], dict[int, str]]:
    """Sequential batch-mode incremental_dedup over the shards in
    order: (sorted keeper ids, {doc id: status})."""
    corpus = spark.createDataFrame([], "doc_id long, text string")
    want_status: dict[int, str] = {}
    for chunk in shards:
        batch = spark.createDataFrame(chunk)
        res = incremental_dedup(batch, corpus, "text", "doc_id")
        rows = res.collect()
        want_status.update({r.id: r.status for r in rows})
        new_ids = {r.id for r in rows if r.status == "new"}
        corpus = corpus.unionAll(
            batch.filter(F.col("doc_id").isin(list(new_ids)))
        ).localCheckpoint()
    return sorted(r.doc_id for r in corpus.collect()), want_status


def stream_state(cat) -> tuple[list[int], dict[int, str]]:
    """The stream's (sorted keeper ids, {doc id: status})."""
    keepers = sorted(r.doc_id for r in
                     cat.read_table("corpus_keepers").collect())
    status = {r.id: r.status for r in cat.read_table(
        "dedup_stream_status").select("id", "status").collect()}
    return keepers, status


def test_stream_equals_sequential_batches(spark, dirs):
    ind, outd = dirs
    shards = _shards()
    write_shards(ind, shards)

    cat = LocalParquetCatalog(spark, outd)
    q = start_incremental_dedup_stream(
        spark, ind, "doc_id long, text string", cat,
        checkpoint_dir=os.path.join(outd, "ckpt"),
        max_files_per_trigger=1).start()
    assert q.awaitTermination(180)
    assert q.exception() is None

    status = cat.read_table("dedup_stream_status")
    assert status.count() == sum(len(s) for s in shards)

    want_keepers, want_status = sequential_reference(spark, shards)
    got_keepers, got_status = stream_state(cat)
    assert got_keepers == want_keepers
    assert got_status == want_status
    # the fixture has exact dups: some doc must be deduped against a
    # keeper from an earlier batch or within-batch
    assert any(s != "new" for s in want_status.values())


def test_stream_restart_is_idempotent(spark, dirs):
    """availableNow + checkpoint: restarting after completion replays
    nothing (no duplicate keepers, no duplicate status rows)."""
    ind, outd = dirs
    for i, chunk in enumerate(_shards()[:2]):
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                       os.path.join(ind, f"shard{i}.parquet"))
    cat = LocalParquetCatalog(spark, outd)
    ckpt = os.path.join(outd, "ckpt")
    args = (spark, ind, "doc_id long, text string", cat)
    q = start_incremental_dedup_stream(
        *args, checkpoint_dir=ckpt, max_files_per_trigger=1).start()
    assert q.awaitTermination(180)
    assert q.exception() is None
    n_keep = cat.read_table("corpus_keepers").count()
    n_stat = cat.read_table("dedup_stream_status").count()

    q2 = start_incremental_dedup_stream(
        *args, checkpoint_dir=ckpt, max_files_per_trigger=1).start()
    assert q2.awaitTermination(60)
    assert q2.exception() is None
    assert cat.read_table("corpus_keepers").count() == n_keep
    assert cat.read_table("dedup_stream_status").count() == n_stat
