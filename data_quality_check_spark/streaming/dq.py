"""Streaming data-quality monitoring: run a declarative check Suite
(api.Suite) on every micro-batch and write per-batch reports to a
catalog table — continuous DQ over an arriving table with exactly the
batch semantics (the Suite compiles to one aggregation pass per
micro-batch, so per-trigger cost is one scan of the new files only).

Every sink here is a streaming/ingest.py::micro_batch_sink: each
micro-batch overwrites its own batch_id partition of its table, so a
replayed batch rewrites its rows instead of duplicating them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .ingest import micro_batch_sink

# explicit schemas for the driver-side report rows: Spark infers no
# type for a column that is None in every row (e.g. the value of a
# count-based check)
_DQ_REPORT_DDL = ("`check` string, kind string, `column` string, "
                  "violations long, total long, value double, pass boolean")
_DRIFT_REPORT_DDL = "n_rows long, psi double, drift boolean"


def start_dq_stream(spark: SparkSession, in_path: str, schema_ddl: str,
                    suite, catalog, checkpoint_dir: str,
                    table: str = "dq_stream_reports",
                    max_files_per_trigger: int = 4):
    """Per micro-batch, one Suite aggregation -> one report row set
    tagged with the batch id.  Failed batches are still logged
    (monitoring, not gating); a gating variant would raise inside
    outputs() to stop the query."""

    def outputs(batch_df: DataFrame, _batch_id: int) -> dict:
        rows = suite.run(batch_df).to_rows()
        return {table: spark.createDataFrame(rows, _DQ_REPORT_DDL)}

    return micro_batch_sink(spark, in_path, schema_ddl,
                            max_files_per_trigger, checkpoint_dir,
                            catalog, outputs)


def start_visual_quality_stream(spark: SparkSession, in_path: str,
                                schema_ddl: str, catalog,
                                checkpoint_dir: str,
                                table: str = "visual_quality_reports",
                                max_files_per_trigger: int = 4):
    """Continuous pixel-level quality monitoring over arriving image
    shards: per micro-batch, the SAME with_image_quality operator +
    quality_report aggregation as the batch contract key
    (queries.py::q_agg_image_quality) — one fused Arrow UDF pass plus
    a one-row reduce per trigger — written to the catalog tagged with
    the batch id.  Streaming/batch parity is by construction, not by a
    re-implementation: both paths call the identical operator, so a
    corpus split into micro-batches reports exactly the per-batch
    partials of the batch report (counts are additive; keep_rate is
    per-batch by design).  Monitoring, not gating — a gating variant
    would raise in outputs() on keep_rate below a floor."""
    from ..operators.imgquality import quality_report, with_image_quality

    return micro_batch_sink(
        spark, in_path, schema_ddl, max_files_per_trigger, checkpoint_dir,
        catalog, lambda batch_df, _: {
            table: quality_report(with_image_quality(batch_df))})


def start_visual_risk_stream(spark: SparkSession, in_path: str,
                             schema_ddl: str, catalog,
                             checkpoint_dir: str,
                             table: str = "visual_risk_reports",
                             max_files_per_trigger: int = 4):
    """Continuous visual RISK monitoring (watermark / NSFW /
    aesthetic gates) over arriving image shards — the risk twin of
    start_visual_quality_stream, sharing operators/imgscore.py's
    with_image_risk + risk_report verbatim with the batch contract
    key (queries.py::q_agg_image_risk), so streaming/batch parity is
    by construction."""
    from ..operators.imgscore import risk_report, with_image_risk

    return micro_batch_sink(
        spark, in_path, schema_ddl, max_files_per_trigger, checkpoint_dir,
        catalog, lambda batch_df, _: {
            table: risk_report(with_image_risk(batch_df))})


def start_drift_stream(spark: SparkSession, in_path: str,
                       schema_ddl: str, baseline, col: str,
                       catalog, checkpoint_dir: str,
                       table: str = "drift_reports", bins: int = 10,
                       eps: float = 1e-6, psi_threshold: float = 0.2,
                       max_files_per_trigger: int = 4):
    """Streaming distribution-drift monitor: per micro-batch, the PSI
    of `col` against a STATIC baseline distribution (the production
    'model input drift' monitor — the batch twin is
    operators/dq.py::distribution_drift_psi).

    The baseline is summarized ONCE, driver-side, into `bins`+2
    numbers (equal-width bin fractions over the baseline's [min,
    max]); each micro-batch is binned with the SAME frozen edges and
    compared — one aggregation pass per trigger, state = none (the
    baseline summary is closed over, a few hundred bytes).  Batches
    are logged, not gated; a gating variant raises in outputs()."""
    import math

    from pyspark.sql import functions as F

    mm = baseline.agg(F.min(col).alias("mn"),
                      F.max(col).alias("mx")).collect()[0]
    mn, mx = float(mm["mn"]), float(mm["mx"])

    def _bin_expr():
        if mx == mn:
            return F.lit(0)
        return F.least(F.lit(bins - 1),
                       F.floor((F.col(col) - F.lit(mn))
                               / F.lit(mx - mn) * bins).cast("int"))

    def _fractions(df: DataFrame) -> tuple[list[float], int]:
        rows = (df.filter(F.col(col).isNotNull())
                .select(_bin_expr().alias("b"))
                .groupBy("b").count().collect())
        # out-of-baseline-range batch values clamp into the edge bins
        counts = [0] * bins
        for r in rows:
            counts[min(max(int(r["b"]), 0), bins - 1)] += r["count"]
        total = sum(counts)
        return ([c / total if total else 0.0 for c in counts], total)

    base_frac, _ = _fractions(baseline)

    def outputs(batch_df: DataFrame, _batch_id: int) -> dict:
        cur_frac, n = _fractions(batch_df)
        if n == 0:
            return {}
        psi = sum((pb - pc) * math.log((pb + eps) / (pc + eps))
                  for pb, pc in zip(base_frac, cur_frac))
        return {table: spark.createDataFrame(
            [(n, round(psi, 6), psi > psi_threshold)], _DRIFT_REPORT_DDL)}

    return micro_batch_sink(spark, in_path, schema_ddl,
                            max_files_per_trigger, checkpoint_dir,
                            catalog, outputs)


def start_decontamination_stream(spark: SparkSession, in_path: str,
                                 schema_ddl: str, eval_df: DataFrame,
                                 catalog, checkpoint_dir: str,
                                 table: str = "decontamination_verdicts",
                                 max_hamming: int = 3,
                                 max_files_per_trigger: int = 4,
                                 dihedral: bool = False):
    """Streaming visual decontamination gate: every arriving image
    shard is probed against the STATIC held-out eval split's phash
    band index (operators/dedup.py::visual_decontaminate — broadcast
    index, guaranteed pigeonhole recall), and per-image verdicts
    (contaminated / eval_match / min_hamming) are written to the
    catalog per micro-batch.  The ingest-time twin of the batch
    dedup_visual_decontaminate contract key, sharing the operator
    verbatim, so stream == batch is by construction: the union of
    micro-batch verdicts equals one batch run over the union.  State
    = none (the eval index is closed over and re-broadcast per
    trigger; eval splits are small by definition).  With
    dihedral=True the gate also catches FLIPPED / ROTATED eval
    copies (operators/dedup.py::visual_decontaminate_dihedral — the
    eval index grows 8x in bit-permutation variants, the stream side
    is untouched)."""
    from ..operators.dedup import (visual_decontaminate,
                                   visual_decontaminate_dihedral)

    gate = (visual_decontaminate_dihedral if dihedral
            else visual_decontaminate)
    return micro_batch_sink(
        spark, in_path, schema_ddl, max_files_per_trigger, checkpoint_dir,
        catalog, lambda batch_df, _: {
            table: gate(batch_df, eval_df, max_hamming)})


def start_semantic_contamination_stream(spark: SparkSession,
                                        in_path: str, schema_ddl: str,
                                        eval_df: DataFrame, catalog,
                                        checkpoint_dir: str,
                                        table: str = "semantic_contamination",
                                        threshold: float = 0.95,
                                        max_files_per_trigger: int = 4):
    """Streaming SEMANTIC contamination gate: every arriving embedding
    shard is scored against the static held-out eval split
    (operators/dq.py::split_contamination with the roles transposed —
    here the STREAM side is 'train' and the broadcast eval is fixed),
    writing per-eval-row contamination verdicts per micro-batch.
    The ingest-time twin of the batch dq_split_contamination key,
    sharing the operator verbatim; catches the paraphrased /
    re-encoded eval copies the n-gram and phash gates structurally
    miss.  State = none (the eval set is closed over and re-broadcast
    per trigger; audits over accumulated history re-run the batch
    operator over the union)."""
    from ..operators.dq import split_contamination

    return micro_batch_sink(
        spark, in_path, schema_ddl, max_files_per_trigger, checkpoint_dir,
        catalog, lambda batch_df, _: {
            table: split_contamination(batch_df, eval_df, threshold)})


def start_audio_quality_stream(spark: SparkSession, in_path: str,
                               schema_ddl: str, catalog,
                               checkpoint_dir: str,
                               table: str = "audio_quality_reports",
                               max_files_per_trigger: int = 4):
    """Continuous waveform-level quality monitoring over arriving
    audio shards — the audio twin of start_visual_quality_stream:
    per micro-batch, the SAME with_audio_quality operator +
    quality_report aggregation as the batch contract key
    (queries.py::q_agg_audio_quality), written to the catalog tagged
    with the batch id.  Stream/batch parity is by construction (both
    paths call the identical operator; counts are additive)."""
    from ..operators.audioquality import quality_report, with_audio_quality

    return micro_batch_sink(
        spark, in_path, schema_ddl, max_files_per_trigger, checkpoint_dir,
        catalog, lambda batch_df, _: {
            table: quality_report(with_audio_quality(batch_df))})
