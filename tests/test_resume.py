"""Checkpoint/resume fault-injection tests (SURVEY.md §5.5; O-33):
crash after k waves, rerun, ledger-driven skip, identical final
output, idempotent rerun."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_quality_check_spark.plans import checkpoint as CP
from data_quality_check_spark.plans.catalog import LocalParquetCatalog
from data_quality_check_spark.sources import images as IM


@pytest.fixture()
def catroot():
    d = tempfile.mkdtemp(prefix="dqc-cat-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_crash_resume_and_idempotence(spark, catroot, oracle_labels):
    cat = LocalParquetCatalog(spark, catroot)
    df = IM.read_images(spark, 0.001)

    with pytest.raises(RuntimeError, match="injected"):
        CP.run(spark, cat, df, run_key="rk", wave_size=32, fail_after_wave=1)

    committed = CP.done_buckets(cat, "rk")
    assert 0 < len(committed) < 64

    stats = CP.run(spark, cat, df, run_key="rk", wave_size=32)
    assert stats["skipped"] == len(committed)

    res = cat.read_table(CP.RESULTS_TABLE)
    assert res.count() == 1000
    assert res.select("image_id").distinct().count() == 1000

    # verdicts identical to the oracle even across the crash boundary
    keep = {r["image_id"]: r["keep"] for r in
            res.select("image_id", "keep").collect()}
    truth = dict(zip(oracle_labels.image_id, oracle_labels.keep))
    assert keep == truth

    # full rerun with same key is a no-op
    stats2 = CP.run(spark, cat, df, run_key="rk")
    assert stats2["buckets"] == 0 and stats2["skipped"] == 64

    # audit covers every non-empty bucket with correct totals
    aud = cat.read_table(CP.AUDIT_TABLE)
    total = aud.agg(F.sum("n_rows")).collect()[0][0]
    assert total == 1000


def test_rerun_overwrite_is_byte_identical(spark, catroot):
    """O-28 exceptAll: rerunning a bucket (fresh run key) replaces its
    partition with identical content."""
    cat = LocalParquetCatalog(spark, catroot)
    df = IM.read_images(spark, 0.001)
    cols = ["image_id", "bucket", "keep", "lang", "ppl"]
    CP.run(spark, cat, df, run_key="a")
    first_pdf = (cat.read_table(CP.RESULTS_TABLE).select(*cols)
                 .toPandas().sort_values("image_id").reset_index(drop=True))

    CP.run(spark, cat, df, run_key="b")  # same input, new run key
    second = cat.read_table(CP.RESULTS_TABLE).select(*cols)
    assert second.count() == len(first_pdf)
    # exceptAll against the materialized first run is empty both ways
    a = spark.createDataFrame(first_pdf)
    assert a.exceptAll(second).count() == 0
    assert second.exceptAll(a).count() == 0


def test_arbitrary_parquet_with_nulls_flows_through(spark, tmp_path):
    """ADVICE r1 end-to-end: a user-supplied images parquet with null
    phash / null dims / null bytes but decodable siblings must flow
    through the WHOLE checkpoint run (fused UDF included) and come
    out flagged, never abort an Arrow task."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_check_spark.kernels import codecs

    pix = np.full((8, 8, 3), 120, dtype=np.uint8)
    blob = codecs.encode(pix, "raw")
    ph = codecs.ahash64(pix)
    cap = "a photo of the beach with a dog"
    pdf = pd.DataFrame({
        "image_id": ["a_ok", "b_null_ph", "c_null_dims", "d_null_bytes"],
        "bytes": [blob, blob, blob, None],
        "w": pd.array([8, 8, None, 8], dtype="Int32"),
        "h": pd.array([8, 8, None, 8], dtype="Int32"),
        "fmt": ["raw"] * 4,
        "caption": [cap] * 4,
        "phash": pd.array([ph, None, ph, ph], dtype="Int64"),
    })
    path = str(tmp_path / "user_images.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, schema=IM.ARROW_SCHEMA,
                                        preserve_index=False), path)

    df = spark.read.schema(IM.IMAGES_DDL).parquet(path)
    out_root = str(tmp_path / "out")
    stats = CP.run(spark, LocalParquetCatalog(spark, out_root), df,
                   run_key="nulls-e2e")
    assert stats["buckets"] == 64

    res = (LocalParquetCatalog(spark, out_root).read_table("results")
           .select("image_id", "keep", "pixel_ok").toPandas()
           .set_index("image_id"))
    assert len(res) == 4
    assert bool(res.loc["a_ok", "pixel_ok"]) is True
    for bad in ("b_null_ph", "c_null_dims", "d_null_bytes"):
        assert bool(res.loc[bad, "pixel_ok"]) is False
        assert bool(res.loc[bad, "keep"]) is False


def test_concurrent_disjoint_bucket_runs_commit_cleanly(spark, catroot,
                                                        oracle_labels):
    """The multi-executor story (checkpoint.run(buckets=...)): K workers
    over disjoint bucket ranges commit CONCURRENTLY against one
    catalog — per-bucket dynamic partition overwrites plus unique-file
    driver-side audit/ledger appends must interleave without clobbering
    each other, and the union must equal a single full run."""
    import threading

    cat = LocalParquetCatalog(spark, catroot)
    df = IM.read_images(spark, 0.001)
    ranges = [list(range(i * 16, (i + 1) * 16)) for i in range(4)]
    errs: list[Exception] = []

    def work(buckets):
        try:
            CP.run(spark, cat, df, run_key="mp", buckets=buckets,
                   wave_size=8)
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    threads = [threading.Thread(target=work, args=(r,)) for r in ranges]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []

    assert CP.done_buckets(cat, "mp") == list(range(64))
    assert CP.pending_buckets(spark, cat, "mp") == []
    res = cat.read_table(CP.RESULTS_TABLE)
    assert res.count() == 1000
    keep = {r["image_id"]: r["keep"] for r in
            res.select("image_id", "keep").collect()}
    truth = dict(zip(oracle_labels.image_id, oracle_labels.keep))
    assert keep == truth
    # audit arrived per-wave from 4 concurrent writers: totals intact,
    # one row per non-empty bucket, map column readable
    aud = cat.read_table(CP.AUDIT_TABLE)
    assert aud.agg(F.sum("n_rows")).collect()[0][0] == 1000
    assert aud.select("bucket").distinct().count() == \
        res.select("bucket").distinct().count()
    assert aud.select(F.map_keys("rule_hits")).first()[0] != []


def test_run_stats_carry_observed_counts(spark, tmp_path):
    """Observation metrics ride the results write: run() reports the
    rows the write action actually processed, and the pre-ledger
    integrity gate has verified they equal what landed on disk."""
    df = IM.read_images(spark, 0.001)
    stats = CP.run(spark, LocalParquetCatalog(spark, str(tmp_path)), df,
                   run_key="obs")
    assert stats["rows_written"] == IM.sf_rows(0.001)
    assert 0 < stats["rows_kept"] < stats["rows_written"]

