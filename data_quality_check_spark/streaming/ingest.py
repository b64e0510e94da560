"""Structured Streaming ingest (SURVEY.md §2 O-32, stretch): new
shards land as parquet files; every streaming sink in the package is
one micro_batch_sink whose outputs run the batch operators per
micro-batch via foreachBatch.

The reference's only latency claim is "within seconds"
(/root/reference/README.md:2); this path gives the engine a
continuous-ingest mode with exactly the same rule semantics as batch
(foreachBatch reuses plans/pipeline.quality_frame, so batch/stream
parity is by construction).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.images import IMAGES_DDL


def micro_batch_sink(spark: SparkSession, in_path: str, schema_ddl: str,
                     max_files_per_trigger: int, checkpoint_dir: str,
                     catalog,
                     outputs: Callable[[DataFrame, int],
                                       dict[str, DataFrame]]):
    """The one foreachBatch sink: an availableNow file stream over
    `in_path` whose every non-empty micro-batch is mapped by
    `outputs(batch_df, batch_id)` to {table: DataFrame}, and each
    table's rows are tagged with `batch_id` (long) and written as an
    overwrite of that batch's own partition.

    foreachBatch is at-least-once: a crash between the sink's writes
    and Spark's commit-log entry replays the batch with the same id
    and the same input files.  Overwriting the batch_id partition
    makes that replay rewrite the same rows instead of appending them
    twice, so replays are idempotent as long as `outputs` reads no
    state written by this or a later batch.  Returns the
    DataStreamWriter (caller starts + awaits it)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        for table, df in outputs(batch_df, batch_id).items():
            catalog.overwrite_partitions(
                table,
                df.withColumn("batch_id", F.lit(batch_id).cast("long")),
                ["batch_id"])

    stream = (spark.readStream.schema(schema_ddl)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(in_path))
    return (stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))


def start_quality_stream(spark: SparkSession, in_path: str, out_root: str,
                         checkpoint_dir: str,
                         max_files_per_trigger: int = 4):
    """Every micro-batch runs the full batch rule pipeline and writes
    its verdicts to `out_root/stream_results/batch_id=N/` — streaming
    reuses the exact batch operators (no second rule implementation
    to drift).  Returns the started query."""
    from ..plans.catalog import LocalParquetCatalog
    from ..plans.pipeline import quality_frame, results_select

    return micro_batch_sink(
        spark, in_path, IMAGES_DDL, max_files_per_trigger, checkpoint_dir,
        LocalParquetCatalog(spark, out_root),
        lambda batch_df, _: {
            "stream_results": results_select(quality_frame(batch_df))},
    ).start()
