"""Physical-plan regression tests: the scale-critical plan shapes
(pushdown, pruning, broadcast, shuffle counts) asserted so a rewrite
that silently degrades the plan fails CI, not the cluster."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prunes_and_pushes(spark):
    """Projection + filter must reach the parquet scan."""
    from data_quality_check_spark.sources import images as IM

    df = (IM.read_images(spark, 0.001)
          .filter(F.col("fmt") == "png")
          .select("image_id", "w"))
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(fmt), EqualTo(fmt,png)]" in plan
    # ReadSchema carries only the needed columns — bytes/caption must
    # not be read for a 2-column projection
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "bytes" not in rs and "caption" not in rs


def test_broadcast_join_small_dim(spark):
    from data_quality_check_spark.queries import REGISTRY

    plan = _plan(REGISTRY["join_broadcast"][0](
        spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_broadcasts_eval_dict(spark):
    """The eval gram dictionary must broadcast — the train side must
    not shuffle for the semi join."""
    from data_quality_check_spark.operators import corpus

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = corpus.decontaminate(d.filter("doc_id % 37 <> 0"),
                               d.filter("doc_id % 37 = 0"), n=4)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_repetition_signals_no_exchange(spark):
    from data_quality_check_spark.operators import corpus

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert "Exchange" not in _plan(corpus.repetition_signals(d))


def test_hash_sample_no_exchange(spark):
    from data_quality_check_spark.operators import corpus

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert "Exchange" not in _plan(corpus.hash_sample(d, "doc_id",
                                                      "40000000"))


def test_suite_single_aggregation_pass(spark):
    """All checks of a Suite compile to ONE scan + one aggregate
    tree, however many checks there are."""
    from data_quality_check_spark.api import Suite, checks as C
    from data_quality_check_spark.sources import images as IM

    df = IM.read_images(spark, 0.001)
    agg = df.agg(*Suite([
        C.not_null("image_id"), C.in_range("w", 1, 10000),
        C.mean_between("h", 1, 10000),
        C.completeness("caption", 0.5)]).aggregates())
    assert _plan(agg).count("FileScan") == 1


def test_pipeline_bytes_never_shuffles(spark, tmp_path):
    """The uncompressed payload column must be consumed below every
    Exchange (CLAUDE.md invariant: bytes never crosses a shuffle)."""
    from data_quality_check_spark.plans import pipeline as P
    from data_quality_check_spark.sources import images as IM

    df = IM.read_images(spark, 0.001)
    frame = P.quality_frame(df)
    plan = _plan(frame)
    # find every Exchange line and assert no 'bytes' attribute is in
    # its output schema (attribute names render as bytes#NNN)
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "bytes#" not in ln, ln


def test_catalog_time_travel(spark, tmp_path):
    """Snapshot time travel (plans/catalog.py::read_table_at): each
    append commits a manifest pinning the file set; reading AS OF an
    older snapshot reproduces exactly the rows that existed then.
    Overwritten snapshots fail loudly instead of returning partial
    data (the local catalog keeps no file history, unlike Iceberg)."""
    from data_quality_check_spark.plans.catalog import LocalParquetCatalog

    cat = LocalParquetCatalog(spark, str(tmp_path))
    for wave in range(3):
        cat.append_rows("audit", [{"wave": wave, "n": 10 + wave}])
    snaps = cat.snapshots("audit")
    assert len(snaps) == 3
    for i, sid in enumerate(snaps):
        got = sorted(r.wave for r in cat.read_table_at("audit", sid)
                     .collect())
        assert got == list(range(i + 1)), (i, sid)
    assert cat.snapshot_id("audit") == snaps[-1]

    with pytest.raises(ValueError, match="unknown snapshot"):
        cat.read_table_at("audit", "nope")

    # partitioned overwrite invalidates the pre-overwrite snapshot
    df = spark.createDataFrame([(0, "a"), (1, "b")], "bucket int, v string")
    cat.overwrite_partitions("results", df, ["bucket"])
    s1 = cat.snapshot_id("results")
    df2 = spark.createDataFrame([(0, "A")], "bucket int, v string")
    cat.overwrite_partitions("results", df2, ["bucket"])
    # bucket 1 untouched, bucket 0 replaced
    assert {(r.bucket, r.v) for r in cat.read_table("results").collect()} \
        == {(0, "A"), (1, "b")}
    with pytest.raises(ValueError, match="no longer readable"):
        cat.read_table_at("results", s1).collect()
    # the CURRENT snapshot of the partitioned table reads fine, with
    # the partition column intact
    s2 = cat.snapshot_id("results")
    assert {(r.bucket, r.v)
            for r in cat.read_table_at("results", s2).collect()} \
        == {(0, "A"), (1, "b")}


def test_catalog_listing_skips_hidden_and_staging(tmp_path):
    """A table's files are those Spark itself would list: no path
    component may start with `_` or `.`.  Another writer's in-flight
    `_temporary/` attempt files and `.spark-staging-*` dynamic-
    overwrite dirs must never be pinned by a manifest nor make a
    table 'exist'.  Files laid out by hand: no Spark write."""
    from data_quality_check_spark.plans.catalog import LocalParquetCatalog

    cat = LocalParquetCatalog(None, str(tmp_path))
    for rel in ["tbl/bucket=0/part-a.parquet",
                "tbl/bucket=0/.part-a.parquet.tmp.parquet",
                "tbl/.spark-staging-123/bucket=1/part-c.parquet",
                "tbl/_temporary/0/_temporary/attempt_1/part-b.parquet",
                "tbl/_manifests/part-m.parquet",
                "staged/_temporary/0/part-x.parquet"]:
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(b"")

    assert cat._data_files("tbl") == ["bucket=0/part-a.parquet"]
    assert cat.table_exists("tbl")
    assert not cat.table_exists("staged")
    assert cat._data_files("staged") == []
    assert not cat.table_exists("missing")


def test_ngram_jaccard_band_join_is_ids_only(spark):
    """Candidate generation for ngram_jaccard_pairs must be ids-only:
    gram arrays (the widest payload in the plan) may appear in the
    post-candidate fetch joins, but never in any operator that also
    carries the band bucket_hash — the pre-r3 form replicated grams
    band_hashes x through the band self-join."""
    from data_quality_check_spark.operators import dedup

    d = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
         .filter(F.col("doc_id") < 200))
    out = dedup.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.3)
    plan = _plan(out)
    band_lines = [ln for ln in plan.splitlines()
                  if "bucket_hash#" in ln
                  and ("Exchange" in ln or "Join" in ln)]
    assert band_lines, "band join disappeared from the plan"
    # the Generate that COMPUTES bucket_hash from grams is fine; what
    # must never happen is grams riding a shuffle or join keyed on it
    for ln in band_lines:
        assert "grams#" not in ln, ln


def test_round3_operator_plan_shapes(spark):
    """Structural plan guarantees of the round-3 operators: chunking
    is shuffle-free, the profiler folds into one two-exchange
    multi-aggregate, dup-spans never shuffles gram strings past the
    doc-frequency stage, and the Bloom bitset probe is ONE broadcast
    join (not n_hashes)."""
    from data_quality_check_spark.operators.corpus import (
        bloom_decontaminate, chunk_documents, doc_grams, dup_spans)
    from data_quality_check_spark.operators.dq import column_profile

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    assert "Exchange" not in _plan(chunk_documents(d))

    prof = _plan(column_profile(d, ["doc_id", "text", "lang"]))
    assert prof.count("Exchange") <= 2  # partial + final of ONE agg

    ds = _plan(dup_spans(d))
    # the interval-union window shuffles (id, pos) ints only: no
    # gram attribute may appear in any post-dfreq exchange row
    win_lines = [ln for ln in ds.splitlines() if "Window" in ln]
    assert win_lines and all("gram" not in ln for ln in win_lines)

    ev = d.filter((F.col("doc_id") % 37) == 0)
    tr = d.filter((F.col("doc_id") % 37) != 0)
    bl = _plan(bloom_decontaminate(tr, ev, n=4))
    # one broadcast build of the bitset word table; the probe side
    # joins it exactly once (plus the base left join)
    assert bl.count("BroadcastHashJoin") <= 2


def test_classifier_distill_plan_shape(spark):
    """Scoring plan must not re-run the teacher UDF (materialized
    once into a localCheckpoint) and must broadcast the weight/dim
    tables; no exchange may carry the caption text."""
    from data_quality_check_spark.queries import REGISTRY

    plan = _plan(REGISTRY["classifier_distill"][0](
        spark, "/root/testdata/sf0.001"))
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    ex_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert ex_lines and all("caption" not in ln for ln in ex_lines)


def test_scrub_luhn_plan_shape(spark):
    """Candidate extraction + digit explode stay in the scan stage;
    the aggregation exchange carries counts only (never caption)."""
    from data_quality_check_spark.queries import REGISTRY

    plan = _plan(REGISTRY["scrub_luhn"][0](
        spark, "/root/testdata/sf0.001"))
    assert "ArrowEvalPython" not in plan  # pure JVM expressions
    ex_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert ex_lines and all("caption" not in ln for ln in ex_lines)


def test_visual_decontaminate_train_never_shuffles(spark):
    """The corpus side of the decontamination gate must LEFT-join a
    BROADCAST hit map — no SortMergeJoin anywhere (the 10^12-row
    train table never shuffles; the only exchanges serve the
    distinct-hash collapse and the tiny hit aggregate)."""
    from data_quality_check_spark.queries import REGISTRY

    for key in ("dedup_visual_decontaminate", "dedup_visual_flips"):
        plan = _plan(REGISTRY[key][0](spark, "/root/testdata/sf0.001"))
        assert plan.count("SortMergeJoin") == 0, key
        assert plan.count("BroadcastHashJoin") >= 2, key  # index + hits


def test_dsir_plan_shape(spark):
    """DSIR: top-k selection must be TakeOrdered (never a global
    sort); the 4096-bucket weight table must broadcast; no exchange
    carries document text."""
    from data_quality_check_spark.queries import REGISTRY

    plan = _plan(REGISTRY["sample_dsir"][0](
        spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    ex_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert ex_lines and all("text" not in ln for ln in ex_lines)


def test_dihedral_collapse_plan_shape(spark):
    """Round-4 dihedral collapse plan (BENCH/PLANS.md): the (band,
    bv) candidate join must honor the shuffle_hash hint (no sorts on
    the 8x variant stream), the member re-expansion joins must
    broadcast the |distinct hash|-sized sides, nothing may fall back
    to a cartesian/all-pairs shape, and pixel bytes must never enter
    the plan."""
    from data_quality_check_spark.operators.dedup import dihedral_near_dups
    from data_quality_check_spark.sources import images as IM

    im = IM.read_images(spark, 0.001).select("image_id", "phash")
    plan = _plan(dihedral_near_dups(im, 2))
    assert plan.count("ShuffledHashJoin") == 1       # the band join
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("CartesianProduct") == 0
    assert plan.count("BroadcastHashJoin") >= 4      # attach + expand
    assert "bytes" not in plan


def test_split_contamination_train_never_shuffles(spark):
    """The train side must stream map-side against a broadcast eval:
    no SortMergeJoin anywhere, no Exchange before the broadcast
    join (the only Exchanges aggregate the tiny hit set)."""
    from data_quality_check_spark.operators.dq import split_contamination

    em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = split_contamination(em.filter("vec_id % 10 <> 0"),
                              em.filter("vec_id % 10 = 0"),
                              threshold=0.38)
    plan = _plan(out)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_mips_lsh_band_join_is_ids_only(spark):
    """The augmented-LSH candidate join must carry ids only — the
    64+1-dim vectors are fetched per-candidate afterwards, never
    through the band Exchange; the query side broadcasts."""
    from data_quality_check_spark.operators.similarity import mips_topk_lsh

    em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(mips_topk_lsh(em, em.filter("vec_id < 5"), k=5))
    assert "SortMergeJoin" not in plan


def test_curriculum_order_offsets_broadcast(spark):
    """The per-row side joins the tiny offset table via broadcast —
    a SortMergeJoin here would shuffle every row on (tier, shard)
    twice."""
    from data_quality_check_spark.operators.corpus import curriculum_order

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", (F.col("doc_id") % 5).alias("tier"))
    plan = _plan(curriculum_order(d, "tier", "doc_id"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
