"""Rule-hit metrics and report aggregations (SURVEY.md §2 O-15).

All built-in aggregates (partial aggregation / map-side combine stays
enabled — grouped-agg pandas UDFs would disable it)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import RULE_ORDER
from .keep import flag_col


def bucket_metrics(df: DataFrame) -> DataFrame:
    """O-15: per-bucket row/keep counts + per-rule hit sums, emitted
    as a map<rule,count> for the audit table.  HashAggregate with
    partial aggregation; combine with operators.salt.two_phase_agg
    when the frame is salted."""
    rule_sums = [
        F.sum(F.col(flag_col(r)).cast("long")).alias(f"hits_{r}")
        for r in RULE_ORDER
    ]
    agg = df.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        *rule_sums,
    )
    rule_map = F.map_from_arrays(
        F.array(*[F.lit(r) for r in RULE_ORDER]),
        F.array(*[F.col(f"hits_{r}") for r in RULE_ORDER]),
    )
    return agg.select(
        "bucket", "n_rows", "n_keep", rule_map.alias("rule_hits"))


def funnel(df: DataFrame, steps: list[str], user_col: str = "user_id",
           ts_col: str = "ts", type_col: str = "event_type") -> DataFrame:
    """Ordered-funnel conversion (the classic product-analytics
    sequential pattern): for each user, step i counts only if its
    FIRST occurrence is strictly after the user's step i-1 time;
    returns one row per step with the reaching-user count and
    conversion fractions vs the first and the previous step.

    Scale: each step is one groupBy(user) min-aggregate plus one
    user-keyed join against the previous step's (user, ts) — all
    stages co-partition on the user key, so AQE reuses the
    partitioning; per-step state is one timestamp per surviving
    user.  `steps` is a plan-time literal list (fixed plan, no
    data-driven iteration); the final ranking window runs over
    len(steps) rows."""
    from pyspark.sql import Window

    if not steps:
        raise ValueError("funnel needs at least one step")
    cur = None
    step_rows = []
    for i, s in enumerate(steps):
        ev = (df.filter(F.col(type_col) == s)
              .select(F.col(user_col).alias("u"),
                      F.col(ts_col).alias("__t")))
        if cur is None:
            cur = ev.groupBy("u").agg(F.min("__t").alias("t"))
        else:
            cur = (ev.join(cur.select("u", F.col("t").alias("__prev")),
                           "u")
                   .filter(F.col("__t") > F.col("__prev"))
                   .groupBy("u").agg(F.min("__t").alias("t")))
        step_rows.append(cur.agg(
            F.lit(i).alias("step"), F.lit(s).alias("event_type"),
            F.count("*").alias("n_users")))
    out = step_rows[0]
    for sr in step_rows[1:]:
        out = out.unionAll(sr)
    w = Window.orderBy("step").rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    first = F.first("n_users").over(w)
    prev = F.coalesce(F.lag("n_users", 1).over(Window.orderBy("step")),
                      F.col("n_users"))
    return out.select(
        "step", "event_type", "n_users",
        F.round(F.col("n_users") / first, 6).alias("frac_of_first"),
        F.round(F.col("n_users") / prev, 6).alias("frac_of_prev"))


def retention_cohorts(df: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts",
                      bucket_days: int = 7) -> DataFrame:
    """Cohort retention (the product-analytics complement of
    `funnel`): users are cohorted by their first-activity bucket
    (bucket_days-wide, anchored at the table's global min timestamp)
    and counted in every later bucket they return in.  Returns one
    row per (cohort, offset) with the returning-user count and the
    retention fraction vs the cohort's size at offset 0.

    Scale: one groupBy(user) for first-seen, one broadcast one-row
    global-min attach, one distinct over (user, bucket) and one
    (cohort, offset) count — every shuffle is keyed on user or on the
    small (cohort, offset) pair; no payload columns enter the plan."""
    t0 = df.agg(F.min(ts_col).alias("__t0"))
    act = (df.select(F.col(user_col).alias("u"), F.col(ts_col).alias("__t"))
           .crossJoin(F.broadcast(t0))
           .select("u", (F.floor(
               F.expr(f"timestampdiff(SECOND, __t0, __t)")
               / F.lit(86400 * bucket_days))).cast("int").alias("bucket"))
           .distinct())
    first = act.groupBy("u").agg(F.min("bucket").alias("cohort"))
    ret = (act.join(first, "u")
           .groupBy("cohort", (F.col("bucket") - F.col("cohort"))
                    .alias("offset"))
           .agg(F.count("*").alias("n_users")))
    base = (ret.filter(F.col("offset") == 0)
            .select("cohort", F.col("n_users").alias("__c0")))
    return (ret.join(base, "cohort")
            .select("cohort", "offset", "n_users",
                    F.round(F.col("n_users") / F.col("__c0"), 6)
                    .alias("retained_frac")))


def rule_ablation(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Leave-one-out rule ablation: for every filter rule, what the
    keep rate would be WITHOUT it — the report a curation team reads
    before tightening or dropping a threshold.  Per rule: rows it
    fires on (n_hits), rows kept if it were removed (n_keep_without,
    >= n_keep_all by construction; the difference is the rows this
    rule alone blocks), and the keep-rate lift from removing it.

    Single-pass: every per-rule sum is a conditional aggregate over
    the same one scan (2 + 2R cells for R rules), reduced map-side to
    ONE row; the per-rule rows are then unpivoted from that row with
    a literal explode — zero extra scans, zero joins, scale cost =
    the scan itself."""
    names = list(rules)
    flags = df.select(*[c.alias(f"__{n}") for n, c in rules.items()])
    keep_all = F.lit(True)
    for n in names:
        keep_all = keep_all & F.col(f"__{n}")
    aggs = [F.count(F.lit(1)).alias("n_rows"),
            F.sum(keep_all.cast("long")).alias("n_keep_all")]
    for n in names:
        others = F.lit(True)
        for m in names:
            if m != n:
                others = others & F.col(f"__{m}")
        aggs.append(F.sum((~F.col(f"__{n}")).cast("long"))
                    .alias(f"__hits_{n}"))
        aggs.append(F.sum(others.cast("long")).alias(f"__kw_{n}"))
    one = flags.agg(*aggs)
    per_rule = F.array(*[
        F.struct(F.lit(n).alias("rule"),
                 F.col(f"__hits_{n}").alias("n_hits"),
                 F.col(f"__kw_{n}").alias("n_keep_without"))
        for n in names])
    ex = one.select("n_rows", "n_keep_all",
                    F.explode(per_rule).alias("r"))
    return ex.select(
        F.col("r.rule").alias("rule"), "n_rows", "n_keep_all",
        F.col("r.n_hits").alias("n_hits"),
        F.col("r.n_keep_without").alias("n_keep_without"),
        F.round((F.col("r.n_keep_without") - F.col("n_keep_all"))
                .cast("double") / F.col("n_rows"), 6).alias("keep_lift"))


def calibration_report(df: DataFrame, score_col: str, label_col: str,
                       bins: int = 10) -> DataFrame:
    """Reliability diagram for a quality classifier: bucket the score
    into `bins` equal-width bins and compare mean predicted score to
    the observed positive rate per bin — the calibration audit run
    before a fastText-style quality score is used as a keep
    probability or a sampling weight (an over-confident scorer
    silently starves the mixture).  The expected-calibration-error
    is sum over bins of n/N * abs_gap.

    Scores quantize to integer micro-units before the per-bin sum
    (exact BIGINT — aggregation-order- and engine-invariant);
    everything else is counts.  Single partial-aggregating groupBy
    on a <= `bins`-key space: scale cost = the scan."""
    s = F.col(score_col).cast("double")
    b = F.least(F.greatest(F.floor(s * bins), F.lit(0)),
                F.lit(bins - 1)).cast("int")
    mean_pred = F.col("__sppm") / F.col("n") / 1e6
    frac_pos = F.col("__pos") / F.col("n")
    return (df.select(b.alias("bin"),
                      F.floor(s * 1e6).cast("long").alias("__ppm"),
                      F.col(label_col).cast("long").alias("__y"))
            .groupBy("bin")
            .agg(F.count("*").alias("n"),
                 F.sum("__ppm").alias("__sppm"),
                 F.sum("__y").alias("__pos"))
            .select("bin", "n",
                    F.round(mean_pred, 6).alias("mean_pred"),
                    F.round(frac_pos, 6).alias("frac_pos"),
                    F.round(F.abs(mean_pred - frac_pos), 6)
                    .alias("abs_gap")))
