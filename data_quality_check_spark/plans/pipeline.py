"""End-to-end quality-filter pipeline assembly (SURVEY.md §3 E1).

Stage order is chosen around Spark's execution model:

1. scan (columnar, schema-validated)        — O-1
2. null guard flags + bucket assign          — O-6, O-29   [codegen]
3. heuristic rule flags (Column exprs)       — O-7..O-9    [codegen]
4. the one fused Arrow UDF                   — O-10..O-13  [single
   ArrowEvalPython pass over kernels/verdict.py; `bytes` is consumed
   here and dropped immediately after, so the payload never crosses a
   shuffle]
5. dup-rank window on phash                  — O-23        [shuffle 1,
   payload-free rows]
6. keep decision (Column exprs)              — O-14        [codegen]
7. salted repartition by (bucket, salt)      — O-30        [shuffle 2]
   + results write partitioned by bucket     — O-4
   + two-phase bucket metrics                — O-15 (reuses the
   (bucket, salt) partitioning — no extra shuffle for the partial)

Steady state = exactly 2 heavy shuffles, both free of the image
payload.  See BENCH/PLANS.md for the captured physical plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import (
    MAX_PPL,
    MIN_PSNR_DB,
    N_BUCKETS,
    RULE_DUP,
    RULE_LANG,
    RULE_NULL,
    RULE_PIXEL,
    RULE_PPL,
    RULE_REPETITION,
    RULE_STOPWORD,
    RULE_SYMBOL,
    RULE_TOO_LONG,
    RULE_TOO_SHORT,
    RULE_TOXIC,
    LANG_UND,
)
from ..functions import rules as R
from ..functions.udfs import pipeline_udf, text_verdict
from ..operators.dedup import with_dup_rank
from ..operators.keep import flag_col, with_keep
from ..operators.salt import with_bucket

RESULT_COLUMNS = [
    "image_id", "bucket", "lang", "lang_conf", "ppl",
    "keep", "drop_reasons", "rule_flags", "caption_scrubbed",
    "scrub_hits", "pixel_ok", "psnr_db",
]


def enrich(images: DataFrame, n_buckets: int = N_BUCKETS,
           with_decode: bool = True) -> DataFrame:
    """Stages 2-4: flags + UDF outputs; no shuffle introduced.

    Returns a payload-free frame (bytes dropped after the decode UDF).
    """
    cap = R.caption_norm(F.col("caption"))
    toks = R.tokens(cap)

    df = with_bucket(images, n_buckets=n_buckets)
    df = df.withColumn(
        flag_col(RULE_NULL),
        R.null_fields_bad({c: F.col(c) for c in
                           ("image_id", "caption", "bytes", "w", "h", "phash")}),
    )

    # one fused ArrowEvalPython stage: text models + decode in a single
    # Python worker per task
    verdict = (pipeline_udf(F.col("caption"), "bytes", "fmt", "w", "h", "phash")
               if with_decode else text_verdict(F.col("caption")))

    df = df.select(
        "image_id", "bucket", "phash", "fmt", "w", "h",
        F.col(flag_col(RULE_NULL)),
        R.too_short_bad(cap).alias(flag_col(RULE_TOO_SHORT)),
        R.too_long_bad(cap).alias(flag_col(RULE_TOO_LONG)),
        R.repetition_bad(toks).alias(flag_col(RULE_REPETITION)),
        R.stopword_bad(toks).alias(flag_col(RULE_STOPWORD)),
        R.symbol_bad(cap).alias(flag_col(RULE_SYMBOL)),
        verdict.alias("txt"),
    )

    flat = [
        F.col("txt.lang").alias("lang"),
        F.col("txt.lang_conf").alias("lang_conf"),
        F.col("txt.ppl").alias("ppl"),
        F.col("txt.caption_scrubbed").alias("caption_scrubbed"),
        F.col("txt.scrub_hits").alias("scrub_hits"),
        (F.col("txt.lang") == LANG_UND).alias(flag_col(RULE_LANG)),
        (F.col("txt.ppl") > MAX_PPL).alias(flag_col(RULE_PPL)),
        F.col("txt.toxic").alias(flag_col(RULE_TOXIC)),
    ]
    if with_decode:
        flat += [
            F.col("txt.pixel_ok").alias("pixel_ok"),
            F.col("txt.psnr_db").alias("psnr_db"),
            # pixel invariant = dims+phash AND decoder-fidelity PSNR
            # over threshold (inf for lossless formats; finite for
            # lossy rawq — BASELINE.json:15).  NaN psnr only occurs
            # with pixel_ok=false, and Spark's NaN>=x quirk (true) is
            # masked by the conjunction.
            (~(F.col("txt.pixel_ok")
               & (F.col("txt.psnr_db") >= MIN_PSNR_DB))
             ).alias(flag_col(RULE_PIXEL)),
        ]
    keep_cols = [c for c in df.columns if c != "txt"]
    return df.select(*keep_cols, *flat)


def decide(enriched: DataFrame) -> DataFrame:
    """Stages 5-6: dup rank (shuffle on phash) + keep decision.

    Tolerates a text-only frame (enrich(with_decode=False)): the
    pixel columns default to pass-through values so the keep verdict
    is still computable."""
    if flag_col(RULE_PIXEL) not in enriched.columns:
        enriched = (
            enriched.withColumn(flag_col(RULE_PIXEL), F.lit(False))
            .withColumn("pixel_ok", F.lit(True))
            .withColumn("psnr_db", F.lit(None).cast("double"))
        )
    ranked = with_dup_rank(enriched)
    ranked = ranked.withColumn(flag_col(RULE_DUP), F.col("dup_rank") > 1)
    return with_keep(ranked)


def quality_frame(images: DataFrame, n_buckets: int = N_BUCKETS) -> DataFrame:
    """Full per-row verdict frame (no writes, no salting).

    The scan is coalesced (no shuffle) to ~2 tasks per core before
    the Python stage: each ArrowEvalPython task carries a fixed
    worker-handshake cost (~0.25s measured on Spark 4.1), so hundreds
    of small splits would spend more time in plumbing than in
    kernels.  Coalesce only merges; small inputs keep their splits.
    """
    try:
        target = images.sparkSession.sparkContext.defaultParallelism * 2
        if images.rdd.getNumPartitions() > target:
            images = images.coalesce(target)
    except Exception:
        pass  # non-scan inputs (e.g. streaming micro-batches)
    return decide(enrich(images, n_buckets=n_buckets))


def results_select(df: DataFrame) -> DataFrame:
    return df.select(*RESULT_COLUMNS)
