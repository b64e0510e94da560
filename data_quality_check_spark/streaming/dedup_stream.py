"""Streaming incremental dedup: the production crawl-ingest loop —
each arriving micro-batch of documents is deduped against the keeper
corpus accumulated by EARLIER micro-batches (and against itself); its
keepers go to the corpus table and every doc's verdict to a status
table.  The batch twin is operators/dedup.py::incremental_dedup; this
module only adds the micro-batch orchestration, so the stream's
cumulative output is BY CONSTRUCTION what sequential batch runs
produce (asserted in tests/test_streaming_dedup.py).

Scale notes: per trigger, cost = incremental_dedup's cost model —
the corpus contributes only id/text rows that COLLIDE with batch
bands (at the 100 TB tier the corpus side reads a persisted band
table, dedup.py docstring); the keeper write is the batch's 'new'
rows only.  State lives in the catalog tables, not the stream — a
checkpointed restart replays no completed batch (availableNow +
checkpointLocation).  A batch that crashed before Spark committed it
is replayed with the same batch_id; both tables are partitioned by
batch_id and each batch overwrites only its own partition
(streaming/ingest.py::micro_batch_sink), and batch N reads the corpus
as `batch_id < N`, so the replay sees the same corpus as its first
attempt and rewrites the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import micro_batch_sink


def start_incremental_dedup_stream(
        spark: SparkSession, in_path: str, schema_ddl: str, catalog,
        checkpoint_dir: str, text_col: str = "text",
        id_col: str = "doc_id", threshold: float = 0.5,
        corpus_table: str = "corpus_keepers",
        status_table: str = "dedup_stream_status",
        max_files_per_trigger: int = 2):
    """micro_batch_sink around incremental_dedup.  Returns the
    DataStreamWriter (caller starts + awaits it)."""
    from ..operators.dedup import incremental_dedup

    def outputs(batch_df: DataFrame, batch_id: int) -> dict:
        batch = batch_df.select(id_col, text_col)
        if catalog.table_exists(corpus_table):
            corpus = (catalog.read_table(corpus_table)
                      .filter(F.col("batch_id") < batch_id)
                      .select(id_col, text_col))
        else:
            corpus = spark.createDataFrame(
                [], f"{id_col} long, {text_col} string")
        res = incremental_dedup(batch, corpus, text_col, id_col,
                                threshold=threshold)
        # materialize ONCE: the verdict drives both writes, and a
        # lazy res would re-run the dedup per consumer
        res = res.localCheckpoint()
        keepers = (batch.join(
            res.filter(F.col("status") == "new").select(
                F.col("id").alias(id_col)), id_col, "left_semi"))
        return {corpus_table: keepers, status_table: res}

    return micro_batch_sink(spark, in_path, schema_ddl,
                            max_files_per_trigger, checkpoint_dir,
                            catalog, outputs)
