"""One benchmark workload in one process: set up, warm up, time the
warm state, check every timed output against the reference, print the
result.  ``run.py`` starts this as the leader of a new session and
cleans the session up afterwards; run it through ``run.py``.

Workloads (one closed-loop driver each, input from
``sources.images.generate_pandas(sf, seed)``):

- ``filter``: ``plans.checkpoint.run`` in one wave over all 64
  buckets, the production path: scan, rules, the fused Arrow UDF,
  dup-rank, salted write, audit and ledger commit.
- ``near_dedup``: ``operators.dedup.image_near_dup_keepers`` over
  (image_id, phash) of the ``filter`` input, forced by a whole-row
  hash aggregate: JVM shuffle, join and components only, with no
  Python UDF and no writes.

End-to-end metrics, over the timed iterations:

- ``images_per_s``: median of input images per wall second.
- ``cpu_s_per_kimage``: median CPU seconds per 1000 images, user and
  system, summed over the whole session (driver Python, JVM, PySpark
  daemon and workers).
- ``peak_rss_mb``: median of each iteration's peak summed RSS of the
  session, in MiB.
- ``setup_s``: process start to the first timed iteration (imports,
  JVM and session start, input registration, warm-up), less any wait
  for input generation.

An iteration that raises or whose output differs from the reference
counts in ``failed``, and the process then exits non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402  (perfbench/ is this script's directory)
import procstat  # noqa: E402

ROWS = {"filter": 8000, "near_dedup": 8000}
# untimed iterations before the timed ones: the first pays Python
# worker start, model builds, codegen and JIT (11-19 s against a warm
# 2.5-5 s on a 4-core host).  Both paths keep speeding up for several
# iterations more (filter for longer), but every run of the benchmark
# pays its warm-up, and the runs of all workloads share a fixed time
# budget, so the warm-up stops once the steep part of the knee is over.
WARMUP_ITERS = {"filter": 5, "near_dedup": 4}
MIN_TIMED_ITERS = 3
# no timed iteration starts this long after the process started, so a
# slowed program still ends inside the 180 s limit of a run
WALL_LIMIT_S = 120.0
HIGH_STEAL_PCT = 2.0


def spark_session(work: str):
    from data_quality_check_spark import session

    local_dir = os.path.join(work, "spark-local")
    # get_spark creates its default local dir under /dev/shm before the
    # override below applies; the benchmark writes only in its checkout
    session._local_dir = lambda: local_dir
    k = min(4, len(os.sched_getaffinity(0)))
    spark = session.get_spark(
        master=f"local[{k}]",
        shuffle_partitions=max(2 * k, 16),
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the heap is committed and touched at start-up, so the
            # JVM's share of peak_rss_mb does not depend on when GC
            # happened to grow the heap during the run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData -XX:+AlwaysPreTouch "
                f"-Xms{os.environ['SPARK_DRIVER_MEM']}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def force(df):
    """Evaluate every output column: a whole-row hash aggregate, since
    .count() lets Catalyst prune the projections it does not need.
    Map columns cannot be hashed, so they enter as their entry arrays."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [F.map_entries(f.name) if isinstance(f.dataType, MapType)
            else F.col(f.name) for f in df.schema.fields]
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(F.xxhash64(F.struct(*cols))).alias("h")).collect()[0]
    return int(row["n"]), row["h"]


def settle(spark, unpersist: bool = True) -> None:
    """Untimed, between iterations: drop the blocks the previous
    iteration cached (the dedup operators localCheckpoint their
    intermediates and never release them) and collect garbage on both
    sides of the gateway.  Without this the cached blocks pile up and
    each iteration runs against a fuller heap than the one before it."""
    import gc

    if unpersist:
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def labels_match(cat, labels) -> bool:
    """Results table equals the oracle: one row per input image, the
    same keep verdict and byte-identical scrubbed caption.  The files
    are read with pyarrow, not Spark, so the check is independent of
    the engine under test and adds no Spark jobs between iterations."""
    import pyarrow.dataset as ds

    got = ds.dataset(os.path.join(cat.root, "results"), format="parquet",
                     partitioning="hive").to_table(
        columns=["image_id", "keep", "caption_scrubbed"]).to_pandas()
    if len(got) != len(labels) or got["image_id"].duplicated().any():
        return False
    m = labels.merge(got, on="image_id", how="left", suffixes=("", "_got"),
                     indicator=True)
    if (m["_merge"] != "both").any():
        return False
    keep_ok = (m["keep"] == m["keep_got"]).all()
    a, b = m["caption_scrubbed"], m["caption_scrubbed_got"]
    cap_ok = ((a == b) | (a.isna() & b.isna())).all()
    return bool(keep_ok and cap_ok)


class Filter:
    def __init__(self, spark, images, ref, work):
        self.spark, self.images, self.labels, self.work = (
            spark, images, ref["labels"], work)

    def prepare(self, i):
        from data_quality_check_spark.plans.catalog import LocalParquetCatalog

        return LocalParquetCatalog(self.spark,
                                   os.path.join(self.work, f"cat-{i}"))

    def run(self, cat, i):
        from data_quality_check_spark.plans import checkpoint as CP

        return CP.run(self.spark, cat, self.images, run_key=f"it{i}")

    def check(self, cat, out, i):
        return (out["rows_written"] == len(self.labels)
                and labels_match(cat, self.labels))

    def cleanup(self, cat):
        shutil.rmtree(cat.root, ignore_errors=True)


class NearDedup:
    def __init__(self, spark, images, ref, work):
        self.spark = spark
        self.pairs_in = images.select("image_id", "phash")
        self.ref = ref["neardup"]
        self.expected = None

    def prepare(self, i):
        return None

    def run(self, _state, i):
        from data_quality_check_spark.operators.dedup import (
            image_near_dup_keepers,
        )

        return force(image_near_dup_keepers(self.pairs_in))

    def check(self, _state, out, i):
        if self.expected is None:
            # the numpy reference, hashed by the same Spark aggregate
            self.expected = force(self.spark.createDataFrame(
                self.ref, "id string, keeper_id string, is_dup boolean"))
        return out == self.expected

    def cleanup(self, _state):
        pass


WORKLOADS = {"filter": Filter, "near_dedup": NearDedup}
# reference answers each workload checks against (see inputs.py)
NEEDS = {"filter": ("labels",), "near_dedup": ("neardup",)}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def start_inputs(rows: int, seed: int, parts):
    """Cache hit: nothing to do.  Miss: generate in a separate process,
    in parallel with JVM start-up, and wait for it before warm-up."""
    if not inputs.missing(rows, seed, parts):
        return None
    return subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "inputs.py"),
         "--rows", str(rows), "--seed", str(seed), "--parts", *parts])


def load_reference(rows: int, seed: int, parts) -> dict:
    import pandas as pd

    ref = {p: pd.read_parquet(inputs.part_path(rows, seed, p)) for p in parts}
    ref["images"] = inputs.part_path(rows, seed, "images")
    return ref


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True,
                    help="epoch time at which the process was started")
    ap.add_argument("--work", required=True)
    ap.add_argument("--rows", type=int)
    a = ap.parse_args()

    sid = os.getsid(0)
    rows = a.rows or ROWS[a.workload]
    parts = inputs.PARTS if a.trace else NEEDS[a.workload]
    gen = start_inputs(rows, a.seed, parts)

    spark = spark_session(a.work)
    gen_wait_s = 0.0
    if gen is not None:
        tw = time.time()
        if gen.wait() != 0:
            print("perfbench: input generation failed", file=sys.stderr)
            return 1
        gen_wait_s = time.time() - tw
    ref = load_reference(rows, a.seed, parts)
    from data_quality_check_spark.sources.images import IMAGES_DDL

    images = spark.read.schema(IMAGES_DDL).parquet(ref["images"])

    if a.trace:
        import trace_layers

        result = trace_layers.run(spark, images, ref, a, sid)
        spark.stop()
        print(json.dumps(result))
        return 0 if result["correct"] else 1

    wl = WORKLOADS[a.workload](spark, images, ref, a.work)
    warm_walls = []
    for i in range(WARMUP_ITERS[a.workload]):
        st = wl.prepare(-1 - i)
        t0 = time.perf_counter()
        wl.run(st, -1 - i)
        warm_walls.append(time.perf_counter() - t0)
        wl.cleanup(st)
        settle(spark)

    setup_s = time.time() - a.t0 - gen_wait_s
    walls, cpus, oks, peaks, nprocs = [], [], [], [], []
    steal = total = 0
    with procstat.RssSampler(sid) as rss:
        i = 0
        while (i < MIN_TIMED_ITERS or sum(walls) < a.seconds) \
                and time.time() - a.t0 < WALL_LIMIT_S:
            st = wl.prepare(i)
            s0, h0 = procstat.host_cpu_ticks()
            c0 = procstat.tree_cpu_s(sid)
            rss.active.set()
            t0 = time.perf_counter()
            try:
                out = wl.run(st, i)
            except Exception as e:  # counted in `failed`, run continues
                print(f"perfbench: iteration {i} raised {e!r}", file=sys.stderr)
                out = None
            t1 = time.perf_counter()
            rss.sample()
            rss.active.clear()
            peaks.append(rss.take_peak())
            nprocs.append(len(procstat.session_pids(sid, live_only=True)))
            c1 = procstat.tree_cpu_s(sid)
            s1, h1 = procstat.host_cpu_ticks()
            steal, total = steal + s1 - s0, total + h1 - h0
            ok = out is not None and wl.check(st, out, i)
            wl.cleanup(st)
            settle(spark)
            walls.append(t1 - t0)
            cpus.append(c1 - c0)
            oks.append(bool(ok))
            i += 1
    spark.stop()

    kimages = rows / 1000.0
    good = [j for j, ok in enumerate(oks) if ok] or list(range(len(oks)))
    ips = [rows / walls[j] for j in good]
    cpk = [cpus[j] / kimages for j in good]
    steal_pct = 100.0 * steal / total if total else 0.0
    detail = {
        "workload": a.workload, "seed": a.seed, "rows": rows,
        "iterations": len(walls),
        "warmup_wall_s": [round(w, 4) for w in warm_walls],
        "wall_s": [round(w, 4) for w in walls],
        "wall_s_q1_median_q3": [round(v, 4) for v in quartiles(walls)],
        "images_per_s_q1_median_q3": [round(v, 2) for v in quartiles(ips)],
        "cpu_s_per_kimage_q1_median_q3": [round(v, 4) for v in quartiles(cpk)],
        "peak_rss_mb": [round(p / 2**20, 1) for p in peaks],
        "processes": nprocs,
        "gen_wait_s": round(gen_wait_s, 3), "cache_hit": gen is None,
        "steal_pct": round(steal_pct, 2),
        "high_steal": steal_pct > HIGH_STEAL_PCT,
    }
    print("perfbench detail: " + json.dumps(detail))
    failed = oks.count(False)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(oks),
        "failed": failed,
        "metrics": {
            "images_per_s": {"value": statistics.median(ips),
                             "unit": "images/s"},
            "cpu_s_per_kimage": {"value": statistics.median(cpk),
                                 "unit": "s/kimage"},
            "peak_rss_mb": {"value": statistics.median(peaks) / 2**20,
                            "unit": "MB"},
            "setup_s": {"value": setup_s, "unit": "s"},
        },
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
