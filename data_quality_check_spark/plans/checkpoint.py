"""Per-bucket checkpoint / resume protocol (SURVEY.md §2 O-21, O-33;
BASELINE.json:14 "resumes from per-partition checkpoints", "every
partition writes lineage + rule-hit metrics to an ... audit table").

Commit protocol per wave of buckets:
  1. results partitions written via idempotent dynamic-partition
     overwrite (crash => partial files are replaced on rerun),
  2. audit rows appended (lineage + rule-hit metrics per bucket),
  3. ledger rows appended LAST — the ledger row is the commit point.
Resume = anti-join of all buckets against ledger 'done' rows; a crash
between (1) and (3) simply reruns the wave, overwriting the same
partitions.  Wave size bounds the work lost to a failure.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..constants import N_BUCKETS, RULE_ORDER
from ..operators.salt import bucket_expr, detect_hot_buckets, salted_repartition
from .catalog import Catalog
from .pipeline import RESULT_COLUMNS, quality_frame

RESULTS_TABLE = "results"
AUDIT_TABLE = "audit"
LEDGER_TABLE = "checkpoint_ledger"

_AUDIT_NON_MAP = [
    "run_id", "bucket", "n_rows", "n_keep", "input_fingerprint",
    "app_id", "attempt", "code_version", "wall_ms",
]


def done_buckets(catalog: Catalog, run_key: str) -> list[int]:
    if not catalog.table_exists(LEDGER_TABLE):
        return []
    rows = (
        catalog.read_table(LEDGER_TABLE)
        .filter((F.col("run_key") == run_key) & (F.col("status") == "done"))
        .select("bucket").distinct().collect()
    )
    return sorted(r["bucket"] for r in rows)


def pending_buckets(spark: SparkSession, catalog: Catalog, run_key: str,
                    n_buckets: int = N_BUCKETS) -> list[int]:
    """O-21 resume anti-join, expressed as a DataFrame op so the same
    plan scales to catalogs where the ledger is a big table."""
    if not catalog.table_exists(LEDGER_TABLE):
        return list(range(n_buckets))  # fresh run: no Spark job needed
    all_b = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    done = (
        catalog.read_table(LEDGER_TABLE)
        .filter((F.col("run_key") == run_key) & (F.col("status") == "done"))
        .select("bucket")
    )
    pend = all_b.join(done, "bucket", "left_anti")
    return sorted(r["bucket"] for r in pend.collect())


def run(spark: SparkSession, catalog: Catalog, images: DataFrame,
        run_key: str, n_buckets: int = N_BUCKETS, wave_size: int | None = None,
        shuffle_partitions: int | None = None,
        fail_after_wave: int | None = None,
        buckets: list[int] | None = None) -> dict:
    """Process all pending buckets in waves; returns run stats.

    fail_after_wave: test hook — raise after committing that many
    waves (tests/test_resume.py fault injection).

    buckets: restrict this invocation to a subset of bucket ids (it
    still skips already-committed ones) — the multi-executor story:
    K processes over disjoint ranges against ONE catalog, each wave
    commit independent (results = per-bucket dynamic partition
    overwrite, audit/ledger = unique-file driver-side appends, so
    concurrent commits never share a staging dir).
    """
    t0 = time.time()
    pending = pending_buckets(spark, catalog, run_key, n_buckets)
    if buckets is not None:
        allowed = {int(b) for b in buckets}
        pending = [b for b in pending if b in allowed]
    if not pending:
        return {"run_key": run_key, "waves": 0, "buckets": 0,
                "skipped": n_buckets, "wall_s": 0.0}

    hot = detect_hot_buckets(images)
    nparts = shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions"))

    wave_size = wave_size or len(pending)
    waves = [pending[i:i + wave_size] for i in range(0, len(pending), wave_size)]
    app_id = spark.sparkContext.applicationId
    run_id = f"{run_key}-{int(t0)}"
    total_rows = total_keep = 0

    for wi, wave in enumerate(waves):
        wt0 = time.time()
        # Bucket pruning on the INPUT, not the verdict frame: a
        # filter on the derived `bucket` column does NOT push below
        # the ArrowEvalPython boundary (captured plan: Filter directly
        # above the UDF node), so filtering the verdict made every
        # wave decode the FULL corpus — measured as 4 waves costing
        # 4x one wave's UDF time, and the 4-process disjoint-range
        # mode SLOWER than 1 process.  Re-deriving the bucket
        # (salt.bucket_expr, the expression with_bucket projects) on the
        # raw scan columns lands the predicate in the scan; the
        # dup-rank window partitions by phash and phash determines
        # bucket, so per-wave frames are row-identical to the old
        # post-verdict filter.
        if len(wave) < n_buckets:
            src = images.filter(bucket_expr("phash", n_buckets)
                                .isin([int(b) for b in wave]))
        else:
            src = images
        wave_df = quality_frame(src, n_buckets=n_buckets)
        wave_df = salted_repartition(wave_df, nparts,
                                     [b for b in hot if b in set(wave)])

        # 1. results (idempotent dynamic partition overwrite) — the
        #    ONE action that executes the UDF pipeline; nothing is
        #    persisted (at 10^12 rows a cache would just spill).
        #    Observation metrics ride the write action for free (no
        #    extra scan, works at any scale) and record what the JOB
        #    computed, to cross-check against what landed on DISK.
        obs = Observation(f"wave-{wi}")
        to_write = (
            wave_df.select(*RESULT_COLUMNS)
            .sortWithinPartitions("image_id")
            .observe(obs,
                     F.count(F.lit(1)).alias("n_rows"),
                     F.sum(F.col("keep").cast("long")).alias("n_keep"))
        )
        catalog.overwrite_partitions(RESULTS_TABLE, to_write, ["bucket"])
        observed = obs.get  # blocks until the write action finishes

        # 2. audit from the *written* results partitions (columnar
        #    read of 4 small columns; never recomputes the UDFs):
        #    counts + per-rule hits from drop_reasons + an
        #    order-insensitive bit_xor(xxhash64) input fingerprint
        written = catalog.read_table(RESULTS_TABLE).filter(
            F.col("bucket").isin([int(b) for b in wave]))
        wall_ms = int((time.time() - wt0) * 1000)
        audit = (
            written.select("bucket", "image_id", "keep", "drop_reasons")
            .groupBy("bucket")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("keep").cast("long")).alias("n_keep"),
                *[F.sum(F.array_contains("drop_reasons", r).cast("long"))
                  .alias(f"hits_{r}") for r in RULE_ORDER],
                F.expr("bit_xor(xxhash64(image_id))").cast("string")
                .alias("input_fingerprint"),
            )
            .select(
                F.lit(run_id).alias("run_id"),
                "bucket", "n_rows", "n_keep",
                F.map_from_arrays(
                    F.array(*[F.lit(r) for r in RULE_ORDER]),
                    F.array(*[F.col(f"hits_{r}") for r in RULE_ORDER]),
                ).alias("rule_hits"),
                "input_fingerprint",
                F.lit(app_id).alias("app_id"),
                F.lit(0).alias("attempt"),
                F.lit("0.1.0").alias("code_version"),
                F.lit(int(wt0 * 1000)).cast("long").alias("started_at_ms"),
                F.current_timestamp().alias("finished_at"),
                F.lit(wall_ms).alias("wall_ms"),
            )
        )
        # materialize the audit aggregation ONCE (<= wave_size rows);
        # the appended table and the ledger fingerprints are both built
        # from this single collect — `audit` is lazy, so appending the
        # DataFrame and then collecting it again would scan the written
        # results partitions twice
        audit_rows = audit.collect()
        # integrity gate BEFORE the ledger commit point: the audit is
        # computed from the files on disk — if it disagrees with what
        # the write action observed, something between executor and
        # storage dropped or duplicated rows; committing the ledger
        # would silently bless it
        disk_rows = sum(r["n_rows"] for r in audit_rows)
        disk_keep = sum(r["n_keep"] for r in audit_rows)
        if (disk_rows, disk_keep) != (observed["n_rows"],
                                      observed["n_keep"] or 0):
            raise RuntimeError(
                f"wave {wi}: results on disk ({disk_rows} rows / "
                f"{disk_keep} keep) != write-action observation "
                f"({observed['n_rows']} / {observed['n_keep']}); "
                "refusing to commit ledger")
        total_rows += disk_rows
        total_keep += disk_keep
        # driver-side small append (rows are already collected): no
        # Spark job for <= wave_size rows, and concurrency-safe —
        # Spark's append-mode committer shares _temporary/0 across
        # applications, so concurrent multi-process wave commits
        # would clobber each other's staging files
        catalog.append_small(AUDIT_TABLE, audit_rows, audit.schema, spark)

        # 3. ledger LAST = commit point (driver-side append: tiny
        #    metadata, no Spark job).  Carries the per-bucket output
        #    fingerprint (bit_xor of written image_ids) so a resume
        #    can audit integrity without re-reading results.
        fp_rows = {r["bucket"]: r["input_fingerprint"] for r in audit_rows}
        now_us = int(time.time() * 1_000_000)
        catalog.append_rows(LEDGER_TABLE, [
            {"run_key": run_key, "bucket": int(b), "status": "done",
             "output_fingerprint": fp_rows.get(int(b)),
             "committed_at": now_us}
            for b in wave
        ])

        if fail_after_wave is not None and wi + 1 >= fail_after_wave:
            raise RuntimeError(f"injected failure after wave {wi + 1}")

    return {
        "run_key": run_key,
        "waves": len(waves),
        "buckets": len(pending),
        "skipped": n_buckets - len(pending),
        "hot_buckets": hot,
        "rows_written": total_rows,
        "rows_kept": total_keep,
        "wall_s": time.time() - t0,
    }
