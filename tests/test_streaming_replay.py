"""Replay idempotency of every micro-batch sink.

foreachBatch is at-least-once: a crash after a batch's table writes
but before Spark's commit-log entry makes the restarted query run that
batch again, with the same batch id and the same input files.  Each
sink below runs to completion over small shards; then its last
`commits/N` entry (and `.N.crc`) is deleted — the state such a crash
leaves — and the query is restarted on the same checkpoint.  Every
table the sink writes must come back row-identical (count + whole-row
hash), i.e. the replay rewrote its batch instead of appending it
again."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from data_quality_check_spark.plans.catalog import LocalParquetCatalog
from data_quality_check_spark.sources import images as IM
from data_quality_check_spark.streaming import dq as SDQ

N_IMAGES = 150  # rows per image shard; two shards per image sink


def _image_shards(pdf, in_dir):
    for i in range(2):
        chunk = pdf.iloc[i * N_IMAGES:(i + 1) * N_IMAGES]
        pq.write_table(pa.Table.from_pandas(chunk, schema=IM.ARROW_SCHEMA,
                                            preserve_index=False),
                       os.path.join(in_dir, f"s{i}.parquet"))


def _quality(spark, pdf, in_dir, root, ckpt):
    from data_quality_check_spark.streaming.ingest import (
        start_quality_stream)

    _image_shards(pdf, in_dir)
    return lambda: start_quality_stream(spark, in_dir, root, ckpt,
                                        max_files_per_trigger=1)


def _dq(spark, pdf, in_dir, root, ckpt):
    from data_quality_check_spark.api import Suite, checks as C

    _image_shards(pdf, in_dir)
    suite = Suite([C.not_null("image_id"), C.unique("image_id"),
                   C.mean_between("w", 16, 4096)])
    return lambda: SDQ.start_dq_stream(
        spark, in_dir, IM.IMAGES_DDL, suite,
        LocalParquetCatalog(spark, root), ckpt,
        max_files_per_trigger=1).start()


def _visual_quality(spark, pdf, in_dir, root, ckpt):
    _image_shards(pdf, in_dir)
    return lambda: SDQ.start_visual_quality_stream(
        spark, in_dir, IM.IMAGES_DDL, LocalParquetCatalog(spark, root),
        ckpt, max_files_per_trigger=1).start()


def _visual_risk(spark, pdf, in_dir, root, ckpt):
    _image_shards(pdf, in_dir)
    return lambda: SDQ.start_visual_risk_stream(
        spark, in_dir, IM.IMAGES_DDL, LocalParquetCatalog(spark, root),
        ckpt, max_files_per_trigger=1).start()


def _decontamination(spark, pdf, in_dir, root, ckpt):
    _image_shards(pdf, in_dir)
    sfx = pdf["image_id"].str[4:].astype(int)
    ev = spark.createDataFrame(pdf[(sfx % 10 == 0).to_numpy()][
        ["image_id", "phash"]], "image_id string, phash long")
    return lambda: SDQ.start_decontamination_stream(
        spark, in_dir, IM.IMAGES_DDL, ev, LocalParquetCatalog(spark, root),
        ckpt, max_files_per_trigger=1).start()


def _drift(spark, pdf, in_dir, root, ckpt):
    rng = np.random.default_rng(7)
    for i, mu in enumerate((50.0, 80.0)):
        pq.write_table(pa.Table.from_pandas(pd.DataFrame(
            {"event_id": np.arange(i * 500, (i + 1) * 500),
             "value": rng.normal(mu, 5.0, 500)}), preserve_index=False),
            os.path.join(in_dir, f"d{i}.parquet"))
    baseline = spark.createDataFrame(pd.DataFrame(
        {"event_id": np.arange(1000), "value": rng.normal(50.0, 5.0, 1000)}))
    return lambda: SDQ.start_drift_stream(
        spark, in_dir, "event_id long, value double", baseline, "value",
        LocalParquetCatalog(spark, root), ckpt,
        max_files_per_trigger=1).start()


def _semantic(spark, pdf, in_dir, root, ckpt):
    rng = np.random.default_rng(11)
    ddl = "vec_id bigint, embedding array<float>"
    vecs = [[float(x) for x in v] for v in rng.normal(size=(220, 8))]
    ev = spark.createDataFrame(list(enumerate(vecs[200:], 200)), ddl)
    for i in range(2):
        pq.write_table(pa.table({
            "vec_id": pa.array(range(i * 100, (i + 1) * 100), pa.int64()),
            "embedding": pa.array(vecs[i * 100:(i + 1) * 100],
                                  pa.list_(pa.float32()))}),
            os.path.join(in_dir, f"e{i}.parquet"))
    return lambda: SDQ.start_semantic_contamination_stream(
        spark, in_dir, ddl, ev, LocalParquetCatalog(spark, root), ckpt,
        threshold=0.5, max_files_per_trigger=1).start()


def _audio(spark, pdf, in_dir, root, ckpt):
    from data_quality_check_spark.sources import audio as AU

    apdf = AU.generate_pandas(0.001)
    for i, chunk in enumerate((apdf.iloc[:60], apdf.iloc[60:120])):
        pq.write_table(pa.Table.from_pandas(chunk, schema=AU.ARROW_SCHEMA,
                                            preserve_index=False),
                       os.path.join(in_dir, f"a{i}.parquet"))
    return lambda: SDQ.start_audio_quality_stream(
        spark, in_dir, AU.AUDIO_DDL, LocalParquetCatalog(spark, root),
        ckpt, max_files_per_trigger=1).start()


def _dedup(spark, pdf, in_dir, root, ckpt):
    from data_quality_check_spark.streaming.dedup_stream import (
        start_incremental_dedup_stream)
    from tests.test_streaming_dedup import _shards, write_shards

    write_shards(in_dir, _shards())
    return lambda: start_incremental_dedup_stream(
        spark, in_dir, "doc_id long, text string",
        LocalParquetCatalog(spark, root), ckpt,
        max_files_per_trigger=1).start()


SINKS = {
    "quality": _quality, "dq": _dq, "visual_quality": _visual_quality,
    "visual_risk": _visual_risk, "drift": _drift,
    "decontamination": _decontamination, "semantic": _semantic,
    "audio": _audio, "incremental_dedup": _dedup,
}


def _run(start) -> None:
    q = start()
    assert q.awaitTermination(180)
    assert q.exception() is None


def _snapshot(spark, root: str) -> dict[str, tuple]:
    """{table: (row count, sum of whole-row xxhash64)} for every table
    under the catalog root.  The hash sum (as a decimal, so it cannot
    overflow) counts duplicate rows, which an XOR would cancel."""
    snap = {}
    for name in sorted(os.listdir(root)):
        df = spark.read.parquet(os.path.join(root, name))
        # xxhash64 rejects MAP columns: hash sorted entry arrays
        cols = [F.array_sort(F.map_entries(f.name)).alias(f.name)
                if f.dataType.typeName() == "map" else F.col(f.name)
                for f in sorted(df.schema.fields, key=lambda f: f.name)]
        snap[name] = tuple(df.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(F.struct(*cols)).cast("decimal(38,0)")),
        ).first())
    return snap


@pytest.mark.parametrize("sink", list(SINKS))
def test_replayed_batch_is_idempotent(spark, images_pdf, tmp_path, sink):
    in_dir, root, ckpt = (str(tmp_path / d) for d in ("in", "cat", "ckpt"))
    os.makedirs(in_dir)
    start = SINKS[sink](spark, images_pdf, in_dir, root, ckpt)
    _run(start)
    before = _snapshot(spark, root)
    assert before and all(n > 0 for n, _ in before.values())

    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last >= 1
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))

    _run(start)
    # the restart re-ran batch `last` and committed it
    assert os.path.isfile(os.path.join(commits, str(last)))
    assert _snapshot(spark, root) == before

    if sink == "incremental_dedup":
        from tests.test_streaming_dedup import (_shards,
                                                sequential_reference,
                                                stream_state)

        assert stream_state(LocalParquetCatalog(spark, root)) == \
            sequential_reference(spark, _shards())
