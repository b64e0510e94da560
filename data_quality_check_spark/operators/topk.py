"""Two-phase top-k per group (the scale upgrade documented in
SCALE.md for win_topk-style queries).

The plain window plan (`row_number() OVER (PARTITION BY g ORDER BY
v)`) shuffles EVERY row to its group's reducer and sorts whole
groups; at a 10^9-row group that is the scale killer.  The two-phase
plan cuts shuffle volume to at most `partitions x k` rows per group:

  stage 1 (map-side, no shuffle): each input partition keeps its own
      top-k rows per group — a vectorized pandas sort+head over the
      partition via mapInPandas;
  stage 2: the surviving <= P*k rows per group go through the normal
      window, which is now tiny.

Results are IDENTICAL to the one-shot window (same deterministic
tiebreak), verified by a SQL oracle over the plain window formulation.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rank_topk(df: DataFrame, partition_col: str, k: int,
              *order) -> DataFrame:
    """The one per-partition top-k window: `rk` = row_number() over
    `partition_col` ordered by the caller's `order` columns (its own
    tiebreak included), rows with rk <= k."""
    w = Window.partitionBy(partition_col).orderBy(*order)
    return df.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k)


def topk_per_group(df: DataFrame, group_col: str, order_col: str,
                   k: int, ascending: bool = False,
                   tiebreak_col: str | None = None) -> DataFrame:
    """Top-k rows per group by `order_col` (desc by default), ties
    broken by `tiebreak_col` ascending (required for determinism —
    defaults to `order_col` if the caller guarantees uniqueness).
    Returns the input columns plus `rk` (1-based rank)."""
    tb = tiebreak_col or order_col
    cols = df.columns
    schema = df.schema

    def local_head(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list[pd.DataFrame] = []
        for pdf in batches:
            acc.append(pdf)
        if not acc:
            return
        allp = pd.concat(acc, ignore_index=True) if len(acc) > 1 else acc[0]
        # na_position='last' in pandas == explicit *_nulls_last below:
        # a null-keyed row must never win locally and lose globally
        allp = allp.sort_values(
            [group_col, order_col, tb],
            ascending=[True, ascending, True], kind="mergesort",
            na_position="last")
        # dropna=False: the stage-2 window (and the SQL oracle's plain
        # row_number() plan) treats a NULL group key as its own
        # partition — pandas' default dropna=True would silently drop
        # those rows here and break the exactness contract
        yield allp.groupby(group_col, sort=False, dropna=False).head(k)

    pruned = df.mapInPandas(local_head, schema)
    order = (F.col(order_col).asc_nulls_last() if ascending
             else F.col(order_col).desc_nulls_last())
    return (rank_topk(pruned, group_col, k, order,
                      F.col(tb).asc_nulls_last())
            .select(*cols, "rk"))
