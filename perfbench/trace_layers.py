"""Traced run: time each layer's public function on materialised
inputs, with spans recorded from the benchmark's side of each call.

Every span has a name, start, end and parent, plus the process-tree
CPU seconds and the Spark executor counters (shuffle write, GC time,
tasks, failed tasks) read around the call.  Spans stay in memory and
are written to ``perfbench/.out/trace-<workload>-seed<seed>.json`` when
the run ends, next to every layer metric and what it should move.

``LAYERS`` lists every per-layer metric with its unit, its direction
and the end-to-end metric and workload it should move; BENCHMARK.json
carries the same names, units and directions.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time

import procstat
from workload import force, labels_match, settle

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
OUT_DIR = os.path.join(BENCH_DIR, ".out")
REPS = 2  # calls per layer; the metric is their median
# fewer warm-up runs than the filter workload makes, so the traced run
# stays well inside 180 s; the alternating untraced/traced calls that
# follow continue the warm-up
WARMUP_RUNS = 3
KERNEL_ROWS = 8000

# name: (unit, better, the end-to-end metric and workload it should move)
LAYERS = {
    "sources.scan_s": ("s", "lower", "images_per_s on filter; paid once per wave (checkpoint.wave_s)"),
    "salt.detect_hot_s": ("s", "lower", "images_per_s on filter; paid once per run call (checkpoint.resume_s)"),
    "salt.hot_buckets": ("count", "lower", "none: fixed by the input"),
    "rules.project_s": ("s", "lower", "cpu_s_per_kimage on filter"),
    "udfs.text_stage_s": ("s", "lower", "images_per_s, cpu_s_per_kimage on filter; none on near_dedup"),
    "udfs.full_stage_s": ("s", "lower", "images_per_s, cpu_s_per_kimage on filter; none on near_dedup"),
    "udfs.boundary_core_s_per_kimage": ("s/kimage", "lower", "cpu_s_per_kimage on filter; none on near_dedup"),
    "kernels.langid_ms_per_kimage": ("ms/kimage", "lower", "cpu_s_per_kimage on filter"),
    "kernels.ppl_ms_per_kimage": ("ms/kimage", "lower", "cpu_s_per_kimage on filter"),
    "kernels.scrub_ms_per_kimage": ("ms/kimage", "lower", "cpu_s_per_kimage on filter"),
    "kernels.decode_ms_per_kimage": ("ms/kimage", "lower", "cpu_s_per_kimage on filter"),
    "pipeline.decide_s": ("s", "lower", "images_per_s on filter"),
    "pipeline.rows_kept": ("count", "higher", "none: must equal the oracle's keep count"),
    "catalog.write_s": ("s", "lower", "images_per_s on filter"),
    "catalog.audit_s": ("s", "lower", "images_per_s on filter; paid once per wave"),
    "catalog.commit_ms": ("ms", "lower", "images_per_s on filter; paid once per wave"),
    "checkpoint.pending_s": ("s", "lower", "checkpoint.resume_s; paid once per run call on a started ledger"),
    "checkpoint.wave_s": ("s", "lower", "checkpoint.resume_s; images_per_s on filter"),
    "checkpoint.resume_s": ("s", "lower", "none end to end: the multi-wave resume path"),
    "checkpoint.run_s": ("s", "lower", "images_per_s on filter (sum check and tracing overhead)"),
    "dedup.band_build_s": ("s", "lower", "images_per_s, cpu_s_per_kimage on near_dedup"),
    "dedup.index_rows": ("count", "lower", "cpu_s_per_kimage on near_dedup"),
    "dedup.pairs_s": ("s", "lower", "images_per_s, cpu_s_per_kimage on near_dedup"),
    "dedup.pairs": ("count", "lower", "none: fixed by the input"),
    "dedup.components_s": ("s", "lower", "images_per_s, cpu_s_per_kimage on near_dedup"),
    "dedup.components": ("count", "lower", "none: fixed by the input"),
    "dedup.keeper_join_s": ("s", "lower", "images_per_s on near_dedup"),
    "dedup.pairs_per_index_row": ("ratio", "higher", "cpu_s_per_kimage on near_dedup"),
    "spark.shuffle_write_mb": ("MB", "lower", "images_per_s on filter (salt exchange) and near_dedup"),
    "spark.gc_s": ("s", "lower", "peak_rss_mb on filter"),
    "spark.tasks": ("count", "lower", "images_per_s on filter"),
    "spark.failed_tasks": ("count", "lower", "failed on every workload"),
    "trace.layer_sum_s": ("s", "lower", "images_per_s on filter"),
    "trace.layer_sum_ratio": ("ratio", "lower", "none: filter-path layer sum over checkpoint.run_s"),
    "trace.overhead_ratio": ("ratio", "lower", "none: traced over untraced checkpoint.run"),
}


def spark_counters(spark) -> dict:
    """Executor totals from the status store (populated with the UI
    disabled), after the listener bus has caught up."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(10_000)
    execs = sc.statusStore().executorList(True)
    out = {"shuffle_write_b": 0, "gc_ms": 0, "tasks": 0, "failed_tasks": 0}
    for i in range(execs.size()):
        e = execs.apply(i)
        out["shuffle_write_b"] += e.totalShuffleWrite()
        out["gc_ms"] += e.totalGCTime()
        out["tasks"] += e.totalTasks()
        out["failed_tasks"] += e.failedTasks()
    return out


class Tracer:
    def __init__(self, spark, sid: int):
        self.spark, self.sid = spark, sid
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        k0 = spark_counters(self.spark)
        c0 = procstat.tree_cpu_s(self.sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["cpu_s"] = procstat.tree_cpu_s(self.sid) - c0
            k1 = spark_counters(self.spark)
            rec["counters"] = {k: k1[k] - k0[k] for k in k0}
            self._stack.pop()

    def timed(self, name: str, fn, reps: int = REPS):
        """Call fn reps times, each in its own span; returns the
        median wall, the median process-tree CPU and the last result."""
        walls, cpus, out = [], [], None
        with self.span(name):
            for _ in range(reps):
                # the materialised inputs are still referenced, so only
                # what earlier calls left unreferenced gets cleaned up
                settle(self.spark, unpersist=False)
                with self.span(name + ".call") as s:
                    t0 = time.perf_counter()
                    out = fn()
                    walls.append(time.perf_counter() - t0)
                cpus.append(s["cpu_s"])
        return statistics.median(walls), statistics.median(cpus), out

    def dump(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        layers = {k: {"value": metrics[k], "unit": u, "better": b, "moves": mv}
                  for k, (u, b, mv) in LAYERS.items()}
        with open(path, "w") as f:
            json.dump({"layers": layers, "spans": self.spans}, f, indent=1)


def _audit_frame(written, run_id: str, app_id: str):
    """The audit aggregate ``plans.checkpoint.run`` builds over the
    written results of a wave."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.constants import RULE_ORDER

    return (
        written.select("bucket", "image_id", "keep", "drop_reasons")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_rows"),
             F.sum(F.col("keep").cast("long")).alias("n_keep"),
             *[F.sum(F.array_contains("drop_reasons", r).cast("long"))
               .alias(f"hits_{r}") for r in RULE_ORDER],
             F.expr("bit_xor(xxhash64(image_id))").cast("string")
             .alias("input_fingerprint"))
        .select(F.lit(run_id).alias("run_id"), "bucket", "n_rows", "n_keep",
                F.map_from_arrays(
                    F.array(*[F.lit(r) for r in RULE_ORDER]),
                    F.array(*[F.col(f"hits_{r}") for r in RULE_ORDER]),
                ).alias("rule_hits"),
                "input_fingerprint",
                F.lit(app_id).alias("app_id"),
                F.lit(0).alias("attempt"),
                F.lit("0.1.0").alias("code_version"),
                F.lit(0).cast("long").alias("started_at_ms"),
                F.current_timestamp().alias("finished_at"),
                F.lit(0).alias("wall_ms")))


def _kernel_ms_per_kimage(fn, rows: int) -> float:
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return 1000.0 * statistics.median(walls) / (rows / 1000.0)


def _decode_all(pdf) -> None:
    from data_quality_check_spark.kernels import codecs

    for b, fmt, w, h in zip(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"]):
        try:
            pix = codecs.decode(b, fmt, int(w), int(h))
        except Exception:  # corrupt rows are part of the input mix
            continue
        codecs.ahash64(pix)
        codecs.decode_ref(b, fmt, pix.shape[1], pix.shape[0])


def run(spark, images, ref, args, sid: int) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F

    from data_quality_check_spark.constants import N_BUCKETS
    from data_quality_check_spark.functions import rules as R
    from data_quality_check_spark.kernels.langid import classify
    from data_quality_check_spark.kernels.ppl import perplexity
    from data_quality_check_spark.kernels.scrub import scrub_series
    from data_quality_check_spark.operators import dedup as D
    from data_quality_check_spark.operators import salt as S
    from data_quality_check_spark.plans import checkpoint as CP
    from data_quality_check_spark.plans import pipeline as P
    from data_quality_check_spark.plans.catalog import LocalParquetCatalog

    work = args.work
    rows = len(ref["labels"])
    kimages = rows / 1000.0
    n_cat = [0]

    def fresh_catalog():
        n_cat[0] += 1
        return LocalParquetCatalog(spark, os.path.join(work, f"tcat-{n_cat[0]}"))

    def drop(cat):
        shutil.rmtree(cat.root, ignore_errors=True)

    def full_run(span=None):
        cat = fresh_catalog()
        with span or contextlib.nullcontext():
            t0 = time.perf_counter()
            CP.run(spark, cat, images, run_key="t")
            wall = time.perf_counter() - t0
        ok = labels_match(cat, ref["labels"])
        drop(cat)
        settle(spark)
        return wall, ok

    checks = []
    for _ in range(WARMUP_RUNS):
        full_run()

    tr = Tracer(spark, sid)
    m: dict = {}
    k_start = spark_counters(spark)
    with tr.span("trace"):
        # untraced and traced calls alternate, so both sides of the
        # overhead ratio sit at the same point of the JIT warm-up
        untraced, runs, run_counters = [], [], []
        for _ in range(REPS):
            wall, ok = full_run()
            untraced.append(wall)
            checks.append(ok)
            wall, ok = full_run(tr.span("checkpoint.run"))
            runs.append(wall)
            run_counters.append(tr.spans[-1]["counters"])
            checks.append(ok)
        m["checkpoint.run_s"] = statistics.median(runs)

        m["sources.scan_s"], _, _ = tr.timed("sources.scan", lambda: force(images))
        m["salt.detect_hot_s"], _, hot = tr.timed(
            "salt.detect_hot", lambda: S.detect_hot_buckets(images))
        m["salt.hot_buckets"] = len(hot)

        cap = R.caption_norm(F.col("caption"))
        toks = R.tokens(cap)
        rules_df = images.select(
            "image_id",
            R.null_fields_bad({c: F.col(c) for c in
                               ("image_id", "caption", "bytes", "w", "h",
                                "phash")}).alias("null_fields"),
            R.too_short_bad(cap).alias("too_short"),
            R.too_long_bad(cap).alias("too_long"),
            R.repetition_bad(toks).alias("repetition"),
            R.stopword_bad(toks).alias("stopword"),
            R.symbol_bad(cap).alias("symbol"))
        m["rules.project_s"], rules_cpu, _ = tr.timed(
            "rules.project", lambda: force(rules_df))
        m["udfs.text_stage_s"], _, _ = tr.timed(
            "udfs.text_stage",
            lambda: force(P.enrich(images, with_decode=False)))
        m["udfs.full_stage_s"], full_cpu, _ = tr.timed(
            "udfs.full_stage", lambda: force(P.enrich(images)))

        batch = pd.read_parquet(ref["images"]).head(KERNEL_ROWS)
        kr = len(batch)
        filled = batch["caption"].fillna("")
        with tr.span("kernels"):
            m["kernels.langid_ms_per_kimage"] = _kernel_ms_per_kimage(
                lambda: classify(filled), kr)
            m["kernels.ppl_ms_per_kimage"] = _kernel_ms_per_kimage(
                lambda: perplexity(filled), kr)
            m["kernels.scrub_ms_per_kimage"] = _kernel_ms_per_kimage(
                lambda: scrub_series(batch["caption"]), kr)
            m["kernels.decode_ms_per_kimage"] = _kernel_ms_per_kimage(
                lambda: _decode_all(batch), kr)
        kernel_s_per_kimage = sum(
            m[f"kernels.{k}_ms_per_kimage"]
            for k in ("langid", "ppl", "scrub", "decode")) / 1000.0
        # UDF-stage core-seconds: the full stage minus the scan+rules
        # projection it contains, less the single-threaded kernel time
        m["udfs.boundary_core_s_per_kimage"] = (
            (full_cpu - rules_cpu) / kimages - kernel_s_per_kimage)

        with tr.span("pipeline.materialise"):
            enriched = P.enrich(images).localCheckpoint(eager=True)
        m["pipeline.decide_s"], _, _ = tr.timed(
            "pipeline.decide", lambda: force(P.decide(enriched)))
        m["pipeline.rows_kept"] = P.decide(enriched).filter("keep").count()
        checks.append(m["pipeline.rows_kept"] == int(ref["labels"]["keep"].sum()))

        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        with tr.span("catalog.materialise"):
            salted = S.salted_repartition(
                P.quality_frame(images), nparts, hot).localCheckpoint(eager=True)
        to_write = salted.select(*P.RESULT_COLUMNS).sortWithinPartitions("image_id")
        cats = []

        def write():
            cat = fresh_catalog()
            cat.overwrite_partitions(CP.RESULTS_TABLE, to_write, ["bucket"])
            cats.append(cat)

        m["catalog.write_s"], _, _ = tr.timed("catalog.write", write)
        cat = cats[-1]
        audit = _audit_frame(cat.read_table(CP.RESULTS_TABLE), "t",
                             spark.sparkContext.applicationId)
        m["catalog.audit_s"], _, audit_rows = tr.timed(
            "catalog.audit", lambda: _audit_frame(
                cat.read_table(CP.RESULTS_TABLE), "t",
                spark.sparkContext.applicationId).collect())
        checks.append(sum(r["n_rows"] for r in audit_rows) == rows)
        ledger = [{"run_key": "t", "bucket": b, "status": "done",
                   "output_fingerprint": None, "committed_at": 0}
                  for b in range(N_BUCKETS)]

        def commit():
            cat.append_small(CP.AUDIT_TABLE, audit_rows, audit.schema, spark)
            cat.append_rows(CP.LEDGER_TABLE, ledger)

        commit_s, _, _ = tr.timed("catalog.commit", commit)
        m["catalog.commit_ms"] = 1000.0 * commit_s
        for c in cats:
            drop(c)

        half = fresh_catalog()
        half.append_rows(CP.LEDGER_TABLE, ledger[:N_BUCKETS // 2])
        m["checkpoint.pending_s"], _, pend = tr.timed(
            "checkpoint.pending",
            lambda: CP.pending_buckets(spark, half, "t"))
        checks.append(pend == list(range(N_BUCKETS // 2, N_BUCKETS)))
        wave_cat = fresh_catalog()
        waves = iter(range(0, N_BUCKETS, 8))

        def one_wave():
            b = next(waves)
            return CP.run(spark, wave_cat, images, run_key="t",
                          buckets=range(b, b + 8))

        m["checkpoint.wave_s"], _, _ = tr.timed("checkpoint.wave", one_wave)
        # resume the rest of the same catalog in waves of 16, as a rerun
        # after a crash would: every bucket must end up committed once
        with tr.span("checkpoint.resume"):
            t0 = time.perf_counter()
            resumed = CP.run(spark, wave_cat, images, run_key="t", wave_size=16)
            m["checkpoint.resume_s"] = time.perf_counter() - t0
        done = (wave_cat.read_table(CP.LEDGER_TABLE).select("bucket")
                .toPandas()["bucket"].tolist())
        checks.append(sorted(done) == list(range(N_BUCKETS))
                      and resumed["buckets"] == N_BUCKETS - 8 * REPS
                      and labels_match(wave_cat, ref["labels"]))
        drop(half)
        drop(wave_cat)

        # dedup layers, in the order image_near_dup_keepers runs them
        nn = (images.select(F.col("image_id").alias("__iid"),
                            F.col("phash").alias("__ph"))
              .filter(F.col("__ph").isNotNull()))
        with tr.span("dedup.materialise"):
            reps = (nn.groupBy("__ph").agg(F.min("__iid").alias("rep"))
                    .localCheckpoint(eager=True))
        m["dedup.band_build_s"], _, (index_rows, _h) = tr.timed(
            "dedup.band_build", lambda: force(D.phash_band_table(
                reps, 3, "rep", "__ph", two_level=True)))
        m["dedup.index_rows"] = index_rows
        m["dedup.pairs_s"], _, _ = tr.timed(
            "dedup.pairs", lambda: force(D.phash_near_dups(
                reps, 3, "rep", "__ph", collapse_exact=False, two_level=True)))
        with tr.span("dedup.materialise"):
            pairs = D.phash_near_dups(
                reps, 3, "rep", "__ph", collapse_exact=False,
                two_level=True).localCheckpoint(eager=True)
        m["dedup.pairs"] = pairs.count()
        m["dedup.pairs_per_index_row"] = m["dedup.pairs"] / max(index_rows, 1)
        m["dedup.components_s"], _, _ = tr.timed(
            "dedup.components", lambda: force(
                D.connected_components_star(pairs.select("id_a", "id_b"))))
        with tr.span("dedup.materialise"):
            comp = D.connected_components_star(
                pairs.select("id_a", "id_b")).localCheckpoint(eager=True)
        m["dedup.components"] = comp.select("component").distinct().count()

        def keeper_join():
            # the tail of image_near_dup_keepers on materialised inputs
            grp = (reps.join(comp, reps.rep == comp.node, "left")
                   .select("__ph", F.coalesce(F.col("component"), F.col("rep"))
                           .alias("__keeper")))
            kept = nn.join(grp, "__ph").select(
                F.col("__iid").alias("id"), F.col("__keeper").alias("keeper_id"),
                (F.col("__keeper") != F.col("__iid")).alias("is_dup"))
            nulls = (images.filter(F.col("phash").isNull())
                     .select(F.col("image_id").alias("id"),
                             F.col("image_id").alias("keeper_id"),
                             F.lit(False).alias("is_dup")))
            return force(kept.unionByName(nulls))

        m["dedup.keeper_join_s"], _, keepers = tr.timed(
            "dedup.keeper_join", keeper_join)
        checks.append(keepers == force(spark.createDataFrame(
            ref["neardup"], "id string, keeper_id string, is_dup boolean")))
    k_end = spark_counters(spark)

    run_shuffle = statistics.median(c["shuffle_write_b"] for c in run_counters)
    m["spark.shuffle_write_mb"] = run_shuffle / 2**20
    m["spark.gc_s"] = statistics.median(c["gc_ms"] for c in run_counters) / 1000.0
    m["spark.tasks"] = statistics.median(c["tasks"] for c in run_counters)
    m["spark.failed_tasks"] = k_end["failed_tasks"] - k_start["failed_tasks"]
    m["trace.layer_sum_s"] = (
        m["salt.detect_hot_s"] + m["udfs.full_stage_s"] + m["pipeline.decide_s"]
        + m["catalog.write_s"] + m["catalog.audit_s"]
        + m["catalog.commit_ms"] / 1000.0)
    m["trace.layer_sum_ratio"] = m["trace.layer_sum_s"] / m["checkpoint.run_s"]
    m["trace.overhead_ratio"] = m["checkpoint.run_s"] / statistics.median(untraced)

    tr.dump(os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json"), m)
    failed = checks.count(False)
    return {
        "correct": failed == 0,
        "attempted": len(checks),
        "failed": failed,
        "metrics": {k: {"value": float(m[k]), "unit": LAYERS[k][0]}
                    for k in LAYERS},
    }
