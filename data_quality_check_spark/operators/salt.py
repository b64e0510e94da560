"""Explicit partitioning + skew handling (SURVEY.md §2 O-29..O-31;
BASELINE.json:14 "partitioning / shuffle / skew handled explicitly",
"salted repartition on phash buckets to defuse skew from
duplicate-heavy shards").

Duplicate-heavy shards concentrate one phash (viral image clusters)
into one bucket; AQE's skew-join splitting does not help aggregation
or UDF stages, so hot buckets are salted by hand: a deterministic
salt from xxhash64(image_id) spreads a hot bucket over SALT_FACTOR
partitions, UDF work runs per (bucket, salt), and aggregations run
two-phase (partial per salt, final per bucket) so results are
provably identical to the unsalted plan (property test
tests/test_properties.py::test_salting_invariant).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import HOT_BUCKET_ALPHA, N_BUCKETS, SALT_FACTOR


def bucket_expr(phash_col: str = "phash",
                n_buckets: int = N_BUCKETS) -> Column:
    """O-29: stable checkpoint/audit unit, bucket = pmod(phash, B).
    Null phash maps to bucket 0 (pmod(null) would otherwise yield a
    null bucket that falls outside every checkpoint wave => silent row
    loss); such rows are also flagged by the null_fields rule.  The
    one definition: the checkpoint wave filter re-derives it on the
    raw scan, and a drifted copy would drop or duplicate rows."""
    return (F.pmod(F.coalesce(F.col(phash_col), F.lit(0)), F.lit(n_buckets))
            .cast("int"))


def with_bucket(df: DataFrame, phash_col: str = "phash",
                n_buckets: int = N_BUCKETS) -> DataFrame:
    """Adds `bucket` (bucket_expr) to df."""
    return df.withColumn("bucket", bucket_expr(phash_col, n_buckets))


def detect_hot_buckets(df: DataFrame, alpha: float = HOT_BUCKET_ALPHA) -> list[int]:
    """Buckets with count > alpha * mean.  Reads only the phash column
    (column pruning keeps `bytes` out of this scan)."""
    scan = df.select("phash")
    try:
        # cheap column-pruned scan, but hundreds of tiny splits would
        # pay per-task overhead — coalesce to the core count
        target = df.sparkSession.sparkContext.defaultParallelism * 2
        if scan.rdd.getNumPartitions() > target:
            scan = scan.coalesce(target)
    except Exception:
        pass
    counts = with_bucket(scan).groupBy("bucket").count().collect()
    if not counts:
        return []
    mean = sum(r["count"] for r in counts) / len(counts)
    return sorted(r["bucket"] for r in counts if r["count"] > alpha * mean)


def with_salt(df: DataFrame, hot_buckets: list[int],
              salt_factor: int = SALT_FACTOR) -> DataFrame:
    """Deterministic salt: non-zero only for hot buckets, so cold
    buckets keep exactly one shuffle partition group."""
    if not hot_buckets:
        return df.withColumn("salt", F.lit(0))
    hot = F.array(*[F.lit(b) for b in hot_buckets])
    return df.withColumn(
        "salt",
        F.when(
            F.array_contains(hot, F.col("bucket")),
            F.pmod(F.xxhash64("image_id"), F.lit(salt_factor)).cast("int"),
        ).otherwise(F.lit(0)),
    )


def salted_repartition(df: DataFrame, num_partitions: int,
                       hot_buckets: list[int],
                       salt_factor: int = SALT_FACTOR) -> DataFrame:
    """O-30: the pipeline's one heavy shuffle — co-locates each
    (bucket, salt) group; hot buckets fan out over salt_factor
    partitions instead of melting one task."""
    return with_salt(df, hot_buckets, salt_factor).repartition(
        num_partitions, "bucket", "salt")


def two_phase_agg(df: DataFrame, group_col: str, aggs: dict[str, str]) -> DataFrame:
    """Salting-safe aggregation: partial per (group, salt), final per
    group.  `aggs` maps output alias -> 'fn(col)' with fn in
    {count, sum}.  Identical results to df.groupBy(group_col).agg(...)
    for any salt assignment (algebraic aggregates)."""
    partial_exprs, final_exprs = [], []
    for alias, spec in aggs.items():
        fn, col = spec.rstrip(")").split("(")
        p = f"__p_{alias}"
        if fn == "count":
            partial_exprs.append(F.count(F.lit(1) if col == "*" else col).alias(p))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(p))
        else:
            raise ValueError(f"two_phase_agg: unsupported fn {fn}")
        final_exprs.append(F.sum(p).alias(alias))
    return (
        df.groupBy(group_col, "salt").agg(*partial_exprs)
        .groupBy(group_col).agg(*final_exprs)
    )


def salted_join(big: DataFrame, small: DataFrame, on: str,
                salt_factor: int = SALT_FACTOR,
                how: str = "inner",
                salt_col: str | None = None) -> DataFrame:
    """Skew-safe equi-join: the join-side twin of two_phase_agg.

    A shuffled equi-join sends every row of a hot key to ONE reducer;
    when one key holds 1% of 10^12 rows that task runs alone for
    hours (AQE's skew split helps sort-merge joins but cannot split a
    key ACROSS tasks when the other side must be present in full).
    Salting fixes it structurally: the big side gets a per-row salt
    in [0, salt_factor) (from `salt_col` when given: deterministic), the small side is replicated
    once per salt value (explode of a literal range — salt_factor
    small-side copies, NOT a cartesian), and the join key becomes
    (key, salt), spreading each hot key over salt_factor tasks.

    Result is provably identical to big.join(small, on, how): every
    (big-row, small-row) key match still meets exactly once — at the
    big row's own salt — property-tested against the unsalted plan
    and value-checked vs DuckDB's plain join (`skew_salted_join`).

    `how` supports inner / left (semantics preserved because the big
    side is never replicated); right/full would need the small side
    deduplicated after the join — not offered, use the plain join."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left only")
    # the salt must vary WITHIN a key (hashing the join key itself
    # would give a hot key one salt value = still one reducer): use a
    # caller-named row-level column when reproducible task placement
    # matters, else a per-row id.  The OUTPUT is identical for any
    # salt assignment, so correctness never depends on this choice.
    salt_src = (F.xxhash64(F.col(salt_col)) if salt_col
                else F.monotonically_increasing_id())
    salted_big = big.withColumn(
        "__jsalt", F.pmod(salt_src, F.lit(salt_factor)).cast("int"))
    exploded_small = small.withColumn(
        "__jsalt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1))))
    return (salted_big.join(exploded_small, [on, "__jsalt"], how)
            .drop("__jsalt"))
