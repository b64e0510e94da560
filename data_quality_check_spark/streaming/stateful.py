"""Custom stateful streaming operator (SURVEY.md §2 O-32 stretch;
"applyInPandasWithState for custom stateful operators"):
cross-micro-batch duplicate detection.

The plain foreachBatch pipeline ranks duplicates only WITHIN a
micro-batch (documented limitation in tests/test_streaming.py); this
operator keys the stream by phash and keeps (first_image_id, count)
in state, so a viral image arriving across many shards is kept once
and flagged duplicate ever after — the streaming analog of the batch
dup-rank window.

State is per-phash: at 10^12 rows the state store shards by the
grouping key across executors exactly like a shuffle; RocksDB state
store + watermark-based TTL (GroupStateTimeout) bound its size in
production.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.dedup import minhash_band_table

DEDUP_OUTPUT_DDL = "image_id string, phash long, is_dup boolean, seen_before int"
DEDUP_STATE_DDL = "first_id string, n long"


def _make_dedup_fn(ttl_ms: int | None):
    def _dedup_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            # TTL fired with no new data: evict this key's state.  A
            # duplicate arriving later is treated as first-seen again
            # — the standard bounded-state trade-off, sized via ttl.
            state.remove()
            yield pd.DataFrame(columns=["image_id", "phash", "is_dup",
                                        "seen_before"])
            return
        (phash,) = key
        if state.exists:
            first_id, n = state.get
        else:
            first_id, n = None, 0
        rows = []
        for pdf in pdfs:
            for image_id in sorted(pdf["image_id"]):
                is_dup = first_id is not None
                if first_id is None:
                    first_id = image_id
                rows.append((image_id, phash, is_dup, n))
                n += 1
        state.update((first_id, n))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(rows, columns=["image_id", "phash", "is_dup",
                                          "seen_before"])

    return _dedup_fn


def streaming_dedup(stream: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """image stream -> (image_id, phash, is_dup, seen_before); first
    arrival of each phash wins across all micro-batches.  `ttl_ms`
    bounds state size: keys idle longer than the TTL are evicted
    (processing-time timeout), so state holds only the active-window
    working set instead of every phash ever seen.

    A processing-time timeout makes Spark run a no-data batch after
    every batch, so with `ttl_ms` an availableNow query never
    terminates (nor returns from processAllAvailable).  Run it under a
    processingTime trigger, or set
    spark.sql.streaming.noDataMicroBatches.enabled=false before start:
    timeouts then fire on the next data batch."""
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if ttl_ms is not None else GroupStateTimeout.NoTimeout)
    return (
        stream.select("image_id", "phash")
        .groupBy("phash")
        .applyInPandasWithState(
            _make_dedup_fn(ttl_ms),
            outputStructType=DEDUP_OUTPUT_DDL,
            stateStructType=DEDUP_STATE_DDL,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


NEAR_DUP_OUTPUT_DDL = ("doc_id long, band int, band_hash long, "
                       "is_candidate_dup boolean, first_id long")
NEAR_DUP_STATE_DDL = "first_id long, n long"


def _near_dup_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    (_band, _band_hash) = key
    if state.exists:
        first_id, n = state.get
    else:
        first_id, n = None, 0
    rows = []
    for pdf in pdfs:
        for doc_id in sorted(pdf["doc_id"]):
            is_dup = first_id is not None
            if first_id is None:
                first_id = int(doc_id)
            rows.append((int(doc_id), int(_band), int(_band_hash),
                         is_dup, first_id))
            n += 1
    state.update((first_id, n))
    yield pd.DataFrame(rows, columns=[
        "doc_id", "band", "band_hash", "is_candidate_dup", "first_id"])


def streaming_near_dup_candidates(stream: DataFrame,
                                  text_col: str = "text",
                                  id_col: str = "doc_id") -> DataFrame:
    """Streaming analog of the MinHash-LSH candidate stage: each
    micro-batch's (doc, band, band_hash) rows ARE the batch band table
    (operators/dedup.py::minhash_band_table), and per-(band, band_hash)
    state remembers the first-ever arrival — a document matching any
    band seen in ANY earlier micro-batch is flagged a near-dup
    candidate.

    Emits one row per (doc, band); the input id column is `id_col`
    (a long) and the output id column is always `doc_id`.
    Downstream either drops docs with any is_candidate_dup band
    (aggressive) or routes candidates to an exact-verification batch
    job (the text_near_dup_keepers flow).
    State is per-band-bucket: sharded by the grouping key like any
    shuffle; RocksDB + timeout TTL bound it in production."""
    banded = minhash_band_table(stream, text_col, id_col).select(
        F.col("__id").alias("doc_id"), "band", F.col("bh").alias("band_hash"))
    return (
        banded.groupBy("band", "band_hash")
        .applyInPandasWithState(
            _near_dup_fn,
            outputStructType=NEAR_DUP_OUTPUT_DDL,
            stateStructType=NEAR_DUP_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
