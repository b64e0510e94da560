"""The one rule-table engine behind the four decoded-payload quality
operators (imgquality, imgscore, audioquality, videoquality).  Each
operator is a stats schema, a rule table and a kernel binding; this
module holds everything else, once:

* `stats_batch` — decode + statistics for one Arrow batch, shared by
  each operator's fused pandas UDF and its fixture oracle (so parity
  is by construction, not by tolerance);
* `with_rules` / `rule_report` — the per-rule booleans, the keep
  verdict and the one-row corpus report as JVM column expressions
  over the FULL-precision stats (the payload died at the map stage,
  so both stay shuffle-free up to the report's partial aggregate);
* `expected_rules` + `fixture` — the numpy twin of `with_rules` and
  the generate-once parquet cache the DuckDB oracle SELECTs from;
* `fingerprint_udf` / `expected_fingerprints` — the 64-bit content
  fingerprint index of the audio and video modalities.

A rule row is (rule name, stat column, threshold, keep-iff): "ge"
keeps stat >= thr, "le" keeps stat <= thr.  A rule passes only for a
DECODED row with a non-NaN, non-NULL stat (a failing rule reads
False, never NULL), and the keep verdict is decoded AND every gate AND
every rule.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, DoubleType, LongType, StructType

from .multimodal import _round6

Rule = tuple[str, str, float, str]


def _decoded(decode: Callable, row: tuple):
    """decode(*row), or None for a NULL payload (row[0]) or a blob the
    decoder rejects: a malformed blob becomes an undecoded row, never
    a failed task."""
    if row[0] is None:
        return None
    try:
        return decode(*row)
    except Exception:
        return None


def stats_batch(schema: StructType, decode: Callable, stats: Callable,
                *cols: pd.Series) -> pd.DataFrame:
    """One Arrow batch -> one `schema` row per input row: `decoded`,
    then stats(decode(*row)) per field.  An undecoded row keeps NaN
    doubles and 0 integers, and so does a stat the kernel returns as
    None.  `stats` runs outside the decode guard: a kernel fault
    fails the task instead of passing as a malformed blob."""
    n = len(cols[0])
    out = {f.name: np.full(n, np.nan) if isinstance(f.dataType, DoubleType)
           else np.zeros(n, dtype=bool if isinstance(f.dataType, BooleanType)
                         else np.int32)
           for f in schema.fields}
    names = [f.name for f in schema.fields if f.name != "decoded"]
    for i, row in enumerate(zip(*(c.to_numpy() for c in cols))):
        payload = _decoded(decode, row)
        if payload is None:
            continue
        st = stats(payload)
        out["decoded"][i] = True
        for k in names:
            if st[k] is not None:
                out[k][i] = st[k]
    return pd.DataFrame(out)


def with_rules(df: DataFrame, rules: list[Rule], keep_col: str,
               gates: dict[str, Column] | None = None) -> DataFrame:
    """Attach the gate columns (decode-free expressions, e.g. the
    image geometry rules), one boolean per rule row and `keep_col` =
    decoded AND every gate AND every rule."""
    gates = gates or {}
    for name, col in gates.items():
        df = df.withColumn(name, col)
    for name, stat, thr, mode in rules:
        cmp = (F.col(stat) >= F.lit(thr)) if mode == "ge" \
            else (F.col(stat) <= F.lit(thr))
        # NaN sorts above every number in Spark (NaN >= thr is true),
        # and a NaN the UDF returns crosses Arrow as NULL: guard both
        df = df.withColumn(name, F.coalesce(
            F.col("decoded") & ~F.isnan(stat) & cmp, F.lit(False)))
    keep = F.col("decoded")
    for name in [*gates, *(r[0] for r in rules)]:
        keep = keep & F.col(name)
    return df.withColumn(keep_col, keep)


def rule_report(df: DataFrame, rule_cols: list[str], keep_col: str,
                count_name: str) -> DataFrame:
    """One-row corpus report: row count, decode successes, per-rule
    failure counts (`bad_<rule minus _ok>`), keep count and keep rate.
    One map-side partial-aggregate pass — the UDF already reduced
    each payload to scalars, so the exchange carries bytes per
    partition, not payload."""
    aggs = [F.count("*").alias(count_name),
            F.sum(F.col("decoded").cast("long")).alias("n_decoded")]
    for c in rule_cols:
        aggs.append(F.sum((~F.col(c)).cast("long")).alias(f"bad_{c[:-3]}"))
    aggs.append(F.sum(F.col(keep_col).cast("long")).alias("n_keep"))
    aggs.append(F.round(F.avg(F.col(keep_col).cast("double")), 6)
                 .alias("keep_rate"))
    return df.agg(*aggs)


def rounded(c: str) -> Column:
    """A stat column as the fixtures store it: round(6), NaN -> NULL
    (undecoded rows and undefined stats), so Spark and DuckDB hash the
    same bytes."""
    col = F.col(c)
    return F.round(F.when(F.isnan(col), None).otherwise(col), 6).alias(c)


def expected_rules(ids: pd.Series, schema: StructType, st: pd.DataFrame,
                   rules: list[Rule], keep_col: str,
                   gates: dict[str, np.ndarray] | None = None,
                   ) -> pd.DataFrame:
    """numpy twin of `with_rules` over a `stats_batch` frame: the id
    column, the stats with doubles `rounded` (round-half-up 6, None
    where undecoded or NaN), the gates, the rule booleans and the keep
    verdict.  Rules read the FULL-precision stats, as Spark does."""
    dec = st["decoded"].to_numpy()
    out = pd.DataFrame({ids.name: ids})
    for f in schema.fields:
        vals = st[f.name].to_numpy()
        out[f.name] = vals if not isinstance(f.dataType, DoubleType) else [
            None if not d or np.isnan(v) else _round6(v)
            for d, v in zip(dec, vals)]
    keep = dec.copy()
    for name, ok in (gates or {}).items():
        out[name] = ok
        keep = keep & ok
    for name, stat, thr, mode in rules:
        vals = st[stat].to_numpy()
        finite = dec & ~np.isnan(vals)
        ok = np.zeros(len(out), dtype=bool)
        ok[finite] = (vals[finite] >= thr) if mode == "ge" \
            else (vals[finite] <= thr)
        out[name] = ok
        keep = keep & ok
    out[keep_col] = keep
    return out


def fixture(path: str, build: Callable[[], pd.DataFrame | pa.Table]) -> str:
    """Generate-once parquet cache: `build()` runs only when `path` is
    absent, and its table lands by write-then-rename, so a crashed
    build never leaves a partial fixture behind."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tbl = build()
    if isinstance(tbl, pd.DataFrame):
        tbl = pa.Table.from_pandas(tbl, preserve_index=False)
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return path


def _fingerprints(decode: Callable, fp: Callable, blobs) -> list:
    out = []
    for b in blobs:
        payload = _decoded(decode, (b,))
        out.append(None if payload is None else fp(payload))
    return out


def fingerprint_udf(decode: Callable, fp: Callable):
    """bytes -> fp(decode(bytes)) as a 64-bit long; NULL for a NULL or
    undecodable blob.  The return type is a TYPE OBJECT, never the
    "long" DDL string: a string is parsed through the active
    SparkContext, and the Python worker re-imports the operator module
    with none."""
    def fingerprint(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for blob in it:
            yield pd.Series(_fingerprints(decode, fp, blob.to_numpy()),
                            dtype="object").astype("Int64")

    return pandas_udf(fingerprint, LongType())


def expected_fingerprints(ids: pd.Series, blobs: pd.Series, fp_col: str,
                          decode: Callable, fp: Callable) -> pa.Table:
    """numpy twin of `fingerprint_udf` + the not-NULL filter: (id,
    fingerprint) for every decodable blob."""
    rows = [{ids.name: i, fp_col: v} for i, v in
            zip(ids, _fingerprints(decode, fp, blobs)) if v is not None]
    return pa.Table.from_pylist(rows, schema=pa.schema(
        [(ids.name, pa.string()), (fp_col, pa.int64())]))
