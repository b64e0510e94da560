"""Duplicate detection (SURVEY.md §2 O-23 + training-pipeline dedup
family).  First-wins semantics everywhere: the smallest image_id /
doc_id in a duplicate group is the keeper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import rules as R

_I64_MIN = "-9223372036854775807 - 1"  # min long; the bare literal
# does not parse as int64 in either engine (unary minus binds after
# the out-of-range positive literal)


def with_dup_rank(df: DataFrame, key: str = "phash",
                  order: str = "image_id") -> DataFrame:
    """O-23: row_number over phash; rank > 1 == duplicate.  One
    shuffle on `key`; rows must already be pruned of heavy payload
    columns before this point (pipeline drops `bytes` first)."""
    w = Window.partitionBy(key).orderBy(order)
    return df.withColumn("dup_rank", F.row_number().over(w))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup via hash-groupBy on xxhash64(text): scalable
    (shuffle on a 64-bit key, no text comparison) first-wins keeper
    per content hash."""
    return (
        df.withColumn("content_hash", F.xxhash64(F.col(text_col)))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("group_size"))
    )


def _shingles_of(lowered_col: str, k: int = 5):
    """k-shingles over a pre-lowered column REFERENCE: the lambda body
    touches only a row attribute, so each shingle is O(k).  An inline
    `lower(text)` in the lambda would be re-evaluated once per
    shingle, an O(len^2) rescan (measured ~10x slower)."""
    n = F.greatest(F.length(lowered_col) - F.lit(k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.substring(F.col(lowered_col), i, k))


def _widen(df: DataFrame) -> DataFrame:
    """Repartition an under-partitioned input up to the cluster's
    default parallelism: a small single-file scan arrives as ONE task,
    which would serialize the (interpreted, HOF-heavy) signature
    computation on one core.  No-op on well-partitioned inputs, so at
    production scale this never adds a shuffle.  A streaming frame is
    returned as is: it has no partitions to count."""
    if df.isStreaming:
        return df
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
    except Exception:
        pass
    return df


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_hashes: int = 16, shingle_k: int = 5) -> DataFrame:
    """One-permutation-hashing MinHash over char-shingles, all
    JVM-side.  Each shingle is hashed ONCE (xxhash64); the hash's low
    bits assign it to one of `num_hashes` bins and sig[i] is the
    minimum hash landing in bin i — a single aggregate pass instead of
    num_hashes re-hash passes over the shingle array (the r1 plan did
    16 separate transform+array_min materializations per row).  Empty
    bins are densified deterministically with xxhash64(global_min, i).
    Returns (id, sig array<bigint>)."""
    sentinel = F.lit((1 << 63) - 1).cast("bigint")
    idxs = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    # three explicit projections, each consumed by the next: lower()
    # is evaluated once per ROW (not once per shingle), the shingle
    # hashes once per row (not once per bin), and densification reads
    # the 16-wide raw sig (not the shingle array)
    low = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("__lt"))
    th = F.transform(_shingles_of("__lt", shingle_k), lambda s: F.xxhash64(s))
    hashed = low.select(F.col(id_col), th.alias("__th"))
    raw = F.aggregate(
        F.col("__th"),
        F.array_repeat(sentinel, num_hashes),
        lambda acc, h: F.zip_with(
            acc, idxs,
            lambda a, i: F.when(F.pmod(h, F.lit(num_hashes)) == i,
                                F.least(a, h)).otherwise(a)),
    )
    base = hashed.select(F.col(id_col), raw.alias("__raw"))
    # global min for densification = min over the non-empty bins (the
    # bins partition all shingle hashes), an O(num_hashes) expression
    gmin = F.array_min(F.filter(F.col("__raw"), lambda x: x != sentinel))
    sig = F.zip_with(
        F.col("__raw"), idxs,
        lambda x, i: F.when(x == sentinel,
                            F.xxhash64(gmin, i)).otherwise(x))
    return base.select(F.col(id_col), sig.alias("sig"))


def minhash_band_table(df: DataFrame, text_col: str, id_col: str,
                       num_hashes: int = 16, bands: int = 4,
                       shingle_k: int = 5) -> DataFrame:
    """The LSH *index* as a DataFrame: (__id, band, bh) — one row per
    (doc, band), bh = hash of that band's signature slice.  The only
    place MinHash bands are made: the candidate pairs, the cluster
    groupBy, the incremental probe and the streaming candidates all
    read it.
    This is the thing a production deployment PERSISTS (a few dozen
    bytes per doc) so tomorrow's crawl batch joins against it instead
    of re-signaturing 10^12 existing docs (see incremental_dedup)."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(_widen(df), text_col, id_col,
                              num_hashes, shingle_k)
    return sigs.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col("sig")[b * rows_per_band + r]
                             for r in range(rows_per_band)]).alias("bh"),
            )
            for b in range(bands)
        ])).alias("bb"),
    ).select("__id", "bb.band", "bb.bh")


def minhash_lsh_dups(df: DataFrame, text_col: str, id_col: str,
                     num_hashes: int = 16, bands: int = 4,
                     shingle_k: int = 5) -> DataFrame:
    """LSH banding: group the band table by (band, band_hash); groups
    with >1 member are near-dup candidate clusters.  Returns one
    scalar row per candidate cluster: (band, band_hash, keeper_id, n)
    — first-wins keeper.  Scale path: the only shuffle is the groupBy
    on the 64-bit band hash, and the aggregation state is two
    fixed-width values (min + count), so a viral duplicate cluster
    costs O(1) reducer memory (the r1 collect_set(members) was
    unbounded)."""
    return (
        minhash_band_table(df, text_col, id_col, num_hashes, bands,
                           shingle_k)
        .groupBy("band", F.col("bh").alias("band_hash"))
        .agg(F.min("__id").alias("keeper_id"),
             F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per-token xxhash64,
    majority vote per bit.  Near-dups share a hash up to a few bits.

    Expressed as explode + 64 branch-free bit-count aggregates so the
    whole computation runs in whole-stage codegen: the r1 version was
    a per-token 64-wide zip_with inside aggregate() — interpreted HOF
    evaluation at ~0.5 ms/doc, which extrapolates to 5x the cost of
    the model-UDF stage at 10^12 docs.  This form measures 3.7x
    faster and is branch-free per bit (ones_i = sum((h>>i)&1); bit
    set iff 2*ones_i > n_tokens, identical to the +/-1 vote sum).
    The groupBy shuffle is one partial-aggregated row of 65 longs per
    doc — the same shuffle-volume class as the dup-rank window.
    Aggregates and fold are SQL text (same tree as the Column DSL, but
    ~450 driver py4j round trips per build instead of ~9.7k)."""
    # explode_outer keeps a zero-token doc as one null token, and
    # xxhash64 of a null is the seed 42, so the doc's simhash is 42
    tokd = (_widen(df)
            .select(F.col(id_col),
                    F.explode_outer(_word_tokens(text_col)).alias("__t"))
            .select(F.col(id_col), F.xxhash64("__t").alias("__h")))
    aggs = [F.expr(f"sum(shiftright(__h, {i}) & 1) AS o{i}")
            for i in range(64)]
    g = tokd.groupBy(id_col).agg(F.count("__h").alias("n"), *aggs)
    # fold 64 majority bits -> one bigint; bit 63 via _I64_MIN to stay
    # inside signed int64
    bits = [f"CASE WHEN coalesce(o{i}, 0) * 2 > n "
            f"THEN CAST({_I64_MIN if i == 63 else 1 << i} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END" for i in range(64)]
    sim = " | ".join(["CAST(0 AS BIGINT)", *bits])
    return g.select(F.col(id_col), F.expr(f"{sim} AS simhash"))


def _word_tokens(text):
    """The one word tokenizer of the text operators: whitespace
    tokens of the lowercased text (a column or column name), empty
    tokens dropped."""
    return R.tokens(F.lower(text))


def _gram_table(df: DataFrame, text, id_col: str, n: int,
                hashed: bool = False) -> DataFrame:
    """(gid, grams): each doc's distinct word n-grams, "_"-joined (a
    doc shorter than n tokens has one gram of all its tokens).  The
    tokens get their OWN projection first: an inline split(lower()) in
    the n-gram lambda would re-evaluate per element (O(len^2)).

    ``hashed`` xxhash64es each gram: 8-byte compares instead of 15-30
    char string compares in array_intersect, ~3x narrower shuffle/join
    payloads (verify stage 6.9 -> 2.5 s at 8 cores on the 5x text
    corpus, same 56,400 pairs).  Jaccard is unchanged unless two
    DISTINCT grams of one doc pair collide in 64 bits (~|grams|^2 *
    2^-64 per pair; MinHash already rests on hashed shingles).
    Bucket-hashing and prefix-ordering callers need the STRINGS."""
    tokd = df.select(F.col(id_col), _word_tokens(text).alias("__toks"))
    toks = F.col("__toks")
    grams = F.array_distinct(F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws("_", *[F.element_at(toks, i + j + 1)
                                         for j in range(n)]),
        ),
    ).otherwise(F.array(F.concat_ws("_", toks))))
    if hashed:
        grams = F.transform(grams, lambda g: F.xxhash64(g))
    return tokd.select(F.col(id_col).alias("gid"), grams.alias("grams"))


def _pair_grams(cand: DataFrame, grams: DataFrame, a: str,
                b: str) -> DataFrame:
    """`cand` plus ga/gb, the grams of its id columns `a` and `b` from a
    (gid, grams) table.  Grams are the widest payload of every verify
    plan: ONE semi-join prunes them to candidate ids BEFORE the two
    fetch joins, so non-candidate docs (most of them at scale) never
    shuffle their grams.  `cand` is read three times; when it ends in
    an Exchange (distinct), ReusedExchange computes it once."""
    ids = (cand.select(F.col(a).alias("gid"))
           .union(cand.select(F.col(b).alias("gid")))
           .distinct())
    g = grams.join(ids, "gid", "left_semi")
    return (cand.join(g.select(F.col("gid").alias(a),
                               F.col("grams").alias("ga")), a)
            .join(g.select(F.col("gid").alias(b),
                           F.col("grams").alias("gb")), b))


def _jaccard(a: str = "ga", b: str = "gb"):
    """Jaccard of two DISTINCT-element array columns: |union| = |a| +
    |b| - |inter| with O(1) sizes (stored length), no array_union
    pass.  Never precompute the sizes in a Project above the gram
    build: CollapseProject inlines the gram expression into each
    referencing column and re-runs it per column (measured 4x)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / ((F.size(a) + F.size(b)).cast("double") - inter)


def jaccard_pairs_exact(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.8) -> DataFrame:
    """Exact all-pairs token-n-gram Jaccard — the verification twin of
    ngram_jaccard_pairs (which LSH-prefilters candidates and can miss
    borderline pairs).  Quadratic by construction: ONLY for bounded
    subsets (contract checks, recall measurement), never the 100 TB
    path."""
    base = _gram_table(df, text_col, id_col, n)
    pairs = (
        base.alias("a")
        .join(base.alias("b"), F.col("a.gid") < F.col("b.gid"))
        .select(F.col("a.gid").alias("id_a"), F.col("b.gid").alias("id_b"),
                F.col("a.grams").alias("ga"), F.col("b.grams").alias("gb"))
    )
    return (
        pairs.withColumn("jaccard", F.round(_jaccard(), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.8,
                        band_hashes: int = 8) -> DataFrame:
    """n-gram Jaccard near-dup pairs with an LSH pre-filter: candidate
    pairs come from shared min-hash buckets (cheap, distributed), then
    exact Jaccard over token n-gram sets is computed only within
    candidates — never all-pairs."""
    base = _gram_table(_widen(df), text_col, id_col, n)
    # Candidates are generated IDS-ONLY: gram arrays must never ride
    # the band explode / self-join (the pre-r3 form replicated them
    # band_hashes x before dropDuplicates — at 100x data that
    # multiplies shuffle volume by the band count).  band_hashes
    # independent min-hashes over the gram set, so per-pair candidate
    # probability is 1-(1-J)^band_hashes; grams are fetched after the
    # fact (_pair_grams).
    bucketed = base.select(
        F.col("gid").alias("__id"),
        F.explode(F.array(*[
            F.array_min(F.transform("grams", lambda g, i=i: F.xxhash64(g, F.lit(i))))
            for i in range(band_hashes)
        ])).alias("bucket_hash"),
    )
    cand = (
        bucketed.alias("a")
        .join(bucketed.alias("b"),
              (F.col("a.bucket_hash") == F.col("b.bucket_hash"))
              & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    return (
        _pair_grams(cand, base, "id_a", "id_b")
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _local_components(edges: DataFrame) -> DataFrame:
    """Single-task union-find over a SMALL edge frame (u, v): the
    local-finish phase of multi-level connected components.  The
    distributed rounds (min-contraction / large-small-star) shrink
    the graph geometrically; once the survivor edge set fits one
    task, finishing it in a single executor-side pass replaces the
    remaining O(log n) fixed-latency rounds with ONE job.  This is
    the standard coarsen-then-solve-locally shape of parallel CC —
    NOT a driver collect: the edges stay in the cluster, the
    union-find runs inside a mapInPandas task, and only (node,
    component) rows come out.  Union-by-min keeps the invariant
    component == min member id (the smaller root always becomes the
    parent), matching the distributed rounds' contract exactly.

    Returns (node, component) covering every node incident to an
    edge (self-loops included).  Id-type-generic: the output schema
    mirrors the edge column type (long doc ids, string image ids —
    Python's str ordering is codepoint-wise like Spark's UTF8
    comparison, so union-by-min agrees with F.min either way)."""
    import pandas as pd

    def _uf(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        nodes: set = set()
        for b in batches:
            for u, v in zip(b["u"].tolist(), b["v"].tolist()):
                nodes.add(u)
                nodes.add(v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    if ru < rv:
                        parent[rv] = ru
                    else:
                        parent[ru] = rv
        if nodes:
            ns = sorted(nodes)
            yield pd.DataFrame({"node": ns,
                                "component": [find(x) for x in ns]})

    dt = dict(edges.select("u", "v").dtypes)["u"]
    return (edges.select("u", "v").coalesce(1)
            .mapInPandas(_uf, f"node {dt}, component {dt}"))


# Edge count below which the survivor graph is handed to the
# single-task local finish: 4M (u, v) int64 pairs ~ 64 MB in one
# Arrow batch stream — comfortably one task, far above what the
# distributed coarsening leaves standing at any sane shard size.
_LOCAL_CC_EDGES = 4_000_000


def _contract_min(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One hash-to-min contraction round over VERIFIED edges: map
    every node to the minimum of its closed neighborhood and rewrite
    each edge between those labels.  Component-preserving by
    construction — l(u) is u itself or one of u's neighbors, so u and
    l(u) are always in the same component, and the component's global
    min maps to itself (it is the min of its own neighborhood), so
    min-over-contracted-labels == min-over-original-nodes.

    Why it pays: a dense near-clique cluster (e.g. low-entropy
    gradient phashes where thousands of images sit within a few
    hamming bits of each other) has most nodes directly adjacent to
    the component min, so ONE contraction collapses it to a handful
    of labels — where the star loop would grind through several
    fixed-latency rounds (a handful of shuffles + a fingerprint
    collect each) to do the same.  Sparse path-ish graphs lose
    nothing: the round costs the same shuffle class as one star
    round and at worst halves nothing.

    Returns (contracted_edges, mapping) with mapping = (node, lbl).
    """
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # lazy checkpoints: the star loop's round-1 fingerprint is the
    # job that materializes ce (and, through it, mapping) — zero
    # extra jobs for the pre-round instead of two
    mapping = (sym.groupBy("u").agg(F.min("v").alias("__mv"))
               .select(F.col("u").alias("node"),
                       F.least("u", "__mv").alias("lbl"))
               .localCheckpoint(eager=False))
    ce = (edges
          .join(mapping.select(F.col("node").alias("u"),
                               F.col("lbl").alias("__lu")), "u")
          .join(mapping.select(F.col("node").alias("v"),
                               F.col("lbl").alias("__lv")), "v")
          .select(F.col("__lu").alias("u"), F.col("__lv").alias("v"))
          .filter(F.col("u") != F.col("v"))
          .distinct()
          .localCheckpoint(eager=False))
    return ce, mapping


def connected_components_star(pairs: DataFrame, src: str = "id_a",
                              dst: str = "id_b",
                              max_iter: int = 50,
                              local_threshold: int = _LOCAL_CC_EDGES,
                              ) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS — the package's
    one connected-components algorithm, the step that turns pairwise
    similarity output into "keep one canonical doc per group".
    Returns (node, component) with component = min node id reachable
    from `node`, for every node of a pair (self-loops included).

    Alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm) converge in O(log n) rounds regardless of graph
    DIAMETER, after one min-contraction pre-round (_contract_min);
    a graph that has not converged in `max_iter` rounds raises
    instead of returning partial labels.

      large-star: every node links its strictly-larger neighbors to
          the minimum of its closed neighborhood;
      small-star: every node links its not-larger neighbors (and
          itself) to that minimum.

    Both steps are one groupBy(min) + one join over the current edge
    multiset — the same shuffle class per round as min-label
    propagation, but exponentially fewer rounds on path-ish graphs.
    Each round is lazily localCheckpoint()ed to cut the lineage.
    Convergence = the edge set reaches a fixed point (stars only),
    checked with an order-insensitive xxhash64 fingerprint — no
    edge-set comparison join.

    Multi-level finish: the fingerprint already carries the live
    edge COUNT, so whenever the survivor graph (after the
    min-contraction pre-round, or after any star round) fits one
    task, a single union-find job replaces the remaining rounds —
    see _local_components.  At web scale the star rounds do the
    shrinking and the local phase only ever sees the O(components)
    tail; at sandbox scale it removes the fixed-latency rounds that
    dominated N->4N (image_keepers eff 0.28 in round 3)."""
    # checkpoint the PAIR LIST once — `pairs` is typically an
    # expensive similarity join, and nodes + edges both consume it
    # (two eager checkpoints here used to run that upstream plan
    # twice); everything downstream derives from the cached rows
    p = (pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .localCheckpoint())
    # nodes BEFORE dropping self-loops: a node appearing only as
    # (x, x) is its own singleton component, not absent.  No
    # checkpoint: computed once, at the final join, from cached p.
    nodes = (p.select(F.col("u").alias("node"))
             .union(p.select(F.col("v").alias("node"))).distinct())
    edges = p.filter(F.col("u") != F.col("v"))
    # Early local finish: p is already materialized, so this count is
    # one cached-scan job.  When the RAW pair list fits one task,
    # neither the contraction round (groupBy + double join + distinct
    # = 3 shuffles) nor the star loop (a fingerprint collect per
    # round) buys anything — hand the edges straight to the
    # single-task union-find.  At web scale the count exceeds the
    # threshold and the distributed rounds run as before; at sandbox
    # scale this removes the fixed multi-job latency that capped
    # image_keepers N->4N at ~0.43.
    if edges.count() <= local_threshold:
        comp = _local_components(edges)
        return (nodes.join(comp, "node", "left")
                .select("node", F.coalesce("component", "node")
                        .alias("component")))
    edges, mapping = _contract_min(edges)

    def _fingerprint(ed: DataFrame):
        a, b = F.least("u", "v"), F.greatest("u", "v")
        # bit_xor: order-insensitive and overflow-free under ANSI
        # mode (a hash SUM overflows long); edges are distinct so
        # xor cancellation of duplicates cannot occur
        row = ed.select(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64(a, b)).alias("h")).collect()[0]
        return (row["n"], row["h"])

    def _sym(ed: DataFrame) -> DataFrame:
        return ed.union(ed.select(F.col("v").alias("u"),
                                  F.col("u").alias("v")))

    local = False
    # the pre-loop fingerprint doubles as the materializer of the
    # (lazy) contraction checkpoints — same job either way
    prev = _fingerprint(edges)
    for _ in range(max_iter):
        if prev[0] <= local_threshold:
            comp = _local_components(edges)
            local = True
            break
        # ---- large-star ------------------------------------------------
        # m(u) = min of u's closed neighborhood; link each strictly
        # larger neighbor v to m
        s = _sym(edges)
        mins = (s.groupBy("u").agg(F.min("v").alias("__mv"))
                .select("u", F.least("__mv", "u").alias("m")))
        # no .distinct() here: parallel edges are harmless to the
        # min-aggregations below and the small-star output is
        # distinct-ed anyway — dropping it saves one full edge-set
        # shuffle PER ROUND (measured ~10-30% per round at sf0.1)
        ls = (s.join(mins, "u")
              .filter(F.col("v") > F.col("u"))
              .select(F.col("v").alias("u"), F.col("m").alias("v"))
              .filter(F.col("u") != F.col("v")))
        # ---- small-star ------------------------------------------------
        # orient large->small; for each large endpoint u with smaller
        # neighbors N, m = min(N); link every v in N and u itself to m
        o = (ls.select(F.greatest("u", "v").alias("u"),
                       F.least("u", "v").alias("v")))
        mins2 = o.groupBy("u").agg(F.min("v").alias("m"))
        ss = (o.join(mins2, "u")
              .select(F.col("v").alias("u"), F.col("m").alias("v"))
              .union(mins2.select("u", F.col("m").alias("v")))
              .filter(F.col("u") != F.col("v"))
              .distinct()
              # lazy: the fingerprint collect right below is the job
              # that materializes this round — one job per round, not
              # two (the eager-checkpoint + collect pattern doubled
              # the fixed round latency that dominates small tails)
              .localCheckpoint(eager=False))
        edges = ss
        fp = _fingerprint(edges)
        if fp == prev:
            break
        prev = fp
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in "
            f"{max_iter} rounds")
    if not local:
        # fixed point: edges are (node -> component-min) stars
        comp = edges.select(F.col("u").alias("node"),
                            F.col("v").alias("component"))
    # compose: original node -> its contraction label -> the label's
    # component (the label IS the component when its whole component
    # collapsed to one node and left no edges)
    comp = (mapping.join(comp.withColumnRenamed("node", "lbl"),
                         "lbl", "left")
            .select("node",
                    F.coalesce("component", "lbl").alias("component")))
    return (nodes.join(comp, "node", "left")
            .select("node", F.coalesce("component", "node")
                    .alias("component")))


def minhash_candidate_pairs(df: DataFrame, text_col: str, id_col: str,
                            num_hashes: int = 16, bands: int = 4,
                            shingle_k: int = 5) -> DataFrame:
    """Distinct candidate PAIRS from shared MinHash LSH bands
    (id_a < id_b).  Only ids travel through the band self-join —
    never text, shingles or grams (the r1 Jaccard path replicated
    gram arrays ~8x through the band explosion)."""
    banded = minhash_band_table(df, text_col, id_col, num_hashes,
                                bands, shingle_k)
    return (
        banded.alias("a").join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def text_near_dup_keepers(df: DataFrame, text_col: str, id_col: str,
                          threshold: float = 0.5, num_hashes: int = 16,
                          bands: int = 4, shingle_k: int = 5,
                          ngram: int = 3) -> DataFrame:
    """The canonical text-dedup pipeline, end to end:

      MinHash-LSH candidates  ->  exact n-gram Jaccard verification
      (only on candidates, grams fetched by id join — no gram carry
      through the band join)  ->  connected components  ->
      first-wins keeper per duplicate group.

    Returns one row per input id: (id, keeper_id, is_dup); singletons
    keep themselves.  Every stage shuffles only ids/hashes or
    verified pairs."""
    # widen ONCE for all three consumers (sigs, grams, final join):
    # the signature path widened internally, but the gram build and
    # the final join still inherited the input's partitioning — a
    # narrow scan (or an in-plan crossJoin replication, 2-4 tasks)
    # then serializes their HOF work on a couple of cores no matter
    # how many are available.  _widen is a no-op on well-partitioned
    # inputs, so at corpus scale this adds nothing.
    df = _widen(df)
    cand = minhash_candidate_pairs(df, text_col, id_col,
                                   num_hashes, bands, shingle_k)
    # hashed grams: the verify stage is memory-traffic-bound (the
    # fetch join materializes both arrays per pair row)
    grams = _gram_table(df, text_col, id_col, ngram, hashed=True)
    verified = (_pair_grams(cand, grams, "id_a", "id_b")
                .withColumn("jaccard", _jaccard())
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b"))
    comp = connected_components_star(verified)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, F.col("id") == F.col("node"), "left")
        .select(
            "id",
            F.coalesce(F.col("component"), F.col("id")).alias("keeper_id"),
            (F.coalesce(F.col("component"), F.col("id")) != F.col("id"))
            .alias("is_dup"),
        )
    )


def phash_band_table(df: DataFrame, max_hamming: int = 3,
                     id_col: str = "image_id",
                     phash_col: str = "phash",
                     two_level: bool = False,
                     hybrid: bool = False) -> DataFrame:
    """(id, phash) -> exploded pigeonhole band table
    (__id, __ph, band, bv): (max_hamming+1) disjoint bit-slices of the
    64-bit hash.  Two hashes within `max_hamming` agree exactly on at
    least one slice (Norouzi et al.), so an equi-join on (band, bv)
    has guaranteed recall.  In production this table IS the persisted
    visual dedup index (the phash twin of minhash_band_table).

    ``two_level=True`` applies the pigeonhole RECURSIVELY (the
    multi-index-hashing refinement): for each slice, the remaining
    64-width bits are themselves partitioned into (max_hamming+1)
    interleaved sub-slices (bit position mod nb), and a row is
    emitted per (slice, sub-slice) with both values packed into one
    key.  Recall is still exact: a pair within max_hamming agrees
    exactly on some slice b, and ALL its <= max_hamming differing
    bits then lie in the remaining bits, so by the same pigeonhole
    it agrees exactly on some sub-slice of band b — both rows emit
    the identical (b*nb+s, bv<<22|sv) key.  Candidates are a strict
    SUBSET of the one-level table's (they must co-match a sub-slice
    too), which is what defuses degenerate-slice hot buckets: flat /
    gradient content collapses onto all-zero / all-one slice values
    (measured at sf0.01 on the dihedral probe: 4 buckets carried 69%
    of 7.36M candidate rows), while the sub-key spreads each such
    bucket by the surviving entropy of the OTHER bits — same probe
    measured 7.36M -> 0.56M candidates, max bucket 1.62M -> 3.4k
    pairs, at 3x index rows (scalar (id, hash, int, long) rows).
    Cost: nb x rows and a wider key; use it on probes whose slice
    values are degenerate-heavy (orientation-expanded dihedral
    indexes; corpora with solid fills / borders / logos).

    ``hybrid=True`` pays the sub-slice cost ONLY where it earns its
    keep: a slice whose value is popcount-degenerate (<=1 bit from
    all-zero or all-one — the flat/gradient/border mass that owns the
    measured hot buckets) emits its nb sub-slice rows; every other
    slice emits the plain one-level row.  The branch predicate is a
    function of the slice VALUE alone, so any two hashes that agree
    exactly on a slice take the SAME branch for it and still meet on
    an identical key — the pigeonhole recall proof is unchanged
    branch-by-branch (one-level: the (b, v) key; degenerate: the
    two-level sub-slice argument verbatim).  One-level band ids live
    in [0, nb) and sub-slice ids in [nb, nb + nb^2), so the two
    families can never cross-join.  The ~40-term sub-key assembly
    sits under the conditional, so content with healthy slice
    entropy skips it entirely (codegen short-circuits the If).
    The key array is one SQL string (same tree as the Column DSL, but
    ~130 driver py4j round trips per build instead of ~8k)."""
    nb = max_hamming + 1
    w = 64 // nb
    src = (df.select(F.col(id_col).alias("__id"),
                     F.col(phash_col).alias("__ph"))
           .filter(F.col("__ph").isNotNull()))

    def sub_keys(b: int, lo: int, hi: int, bv: str, band_off: int) -> str:
        out = []
        for s in range(nb):
            pos = [p for p in range(64)
                   if not (lo <= p < hi) and p % nb == s]
            sv = " | ".join(
                ["CAST(0 AS BIGINT)"]
                + [f"shiftleft(shiftrightunsigned(__ph, {p}) & 1, {j})"
                   for j, p in enumerate(pos)])
            # bv < 2^32 (nb >= 2) and sv < 2^22, so bv<<22 | sv is a
            # collision-free packed key well inside int64
            out.append(f"struct({band_off + b * nb + s} AS band, "
                       f"shiftleft({bv}, 22) | ({sv}) AS bv)")
        return f"array({', '.join(out)})"

    parts = []
    for b in range(nb):
        width = w if b < nb - 1 else 64 - w * (nb - 1)
        mask = (1 << width) - 1
        # shiftrightunsigned: bit 63 must not smear sign bits into
        # the high slice
        bv = f"(shiftrightunsigned(__ph, {b * w}) & {mask})"
        lo, hi = b * w, b * w + width
        one = f"array(struct({b} AS band, {bv} AS bv))"
        if two_level:
            parts.append(sub_keys(b, lo, hi, bv, 0))
        elif hybrid:
            pc = f"bit_count({bv})"
            parts.append(f"CASE WHEN ({pc} <= 1 OR {pc} >= {width - 1}) "
                         f"THEN {sub_keys(b, lo, hi, bv, nb)} "
                         f"ELSE {one} END")
        else:
            parts.append(one)
    arr = parts[0] if len(parts) == 1 else f"concat({', '.join(parts)})"
    return (src.select("__id", "__ph", F.explode(F.expr(arr)).alias("s"))
            .select("__id", "__ph", "s.band", "s.bv"))


def phash_near_dups(df: DataFrame, max_hamming: int = 3,
                    id_col: str = "image_id",
                    phash_col: str = "phash",
                    collapse_exact: bool = True,
                    two_level: bool = False,
                    hybrid: bool = False) -> DataFrame:
    """EXACT perceptual-hash near-duplicate pairs via multi-index
    pigeonhole banding (Norouzi et al., "Fast Search in Hamming Space
    with Multi-Index Hashing"): a 64-bit hash pair differing in at
    most `max_hamming` bits must agree EXACTLY on at least one of
    (max_hamming+1) disjoint bit-slices, so banding on those slices
    has guaranteed 100% recall — unlike MinHash / hyperplane LSH
    there is no probabilistic miss.  Candidates from the band
    self-join are re-scored with the exact bit_count(xor) filter, so
    the output EQUALS the all-pairs answer while the join shuffles
    only (band, slice-value, id, phash) — never pixel bytes — and the
    scan prunes to two columns.

    With ``collapse_exact`` (default), identical hashes are collapsed
    to one representative BEFORE the band self-join and member ids are
    expanded back afterwards: an exact-dup cluster of k copies sends
    1 row through the (quadratic-risk) band join instead of k, and
    its k(k-1)/2 hamming-0 output pairs come from a cheap equi-join
    on phash instead of k^2 band-join matches.  Output is provably
    identical (an equal pair shares every band; a near pair's members
    inherit their representatives' slice agreement); measured 6.7 s
    -> 4.1 s at sf0.1 on the duplicate-heavy synthetic corpus (and
    the k^2 risk in the band join is gone structurally).  Pass
    False when the input is already hash-distinct (the keepers
    pipeline) to skip the no-op collapse shuffle.

    At cluster scale the band self-join hash-partitions on
    (band, slice value); a pathologically hot slice value (e.g. the
    all-zero band of flat images) still concentrates one reducer —
    the collapse bounds it at |distinct phash| sharing the slice.
    """
    if collapse_exact:
        members = (df.select(F.col(id_col).alias("__mid"),
                             F.col(phash_col).alias("__mph"))
                   .filter(F.col("__mph").isNotNull()))
        reps = members.groupBy("__mph").agg(F.min("__mid").alias("__rid"))
        rep_pairs = phash_near_dups(
            reps, max_hamming, "__rid", "__mph", collapse_exact=False,
            two_level=two_level, hybrid=hybrid)
        # carry the PHASH of each side through the rep pairs so the
        # member expansion is an equi-join on phash, then restore the
        # id_a < id_b orientation (member ids of the two hash groups
        # can interleave even though rep ids were ordered)
        rp = (rep_pairs
              .join(reps.select(F.col("__rid").alias("id_a"),
                                F.col("__mph").alias("__pa")), "id_a")
              .join(reps.select(F.col("__rid").alias("id_b"),
                                F.col("__mph").alias("__pb")), "id_b")
              .select("__pa", "__pb", "hamming"))
        cross = (rp
                 .join(members.select(F.col("__mph").alias("__pa"),
                                      F.col("__mid").alias("__ia")), "__pa")
                 .join(members.select(F.col("__mph").alias("__pb"),
                                      F.col("__mid").alias("__ib")), "__pb")
                 .select(F.least("__ia", "__ib").alias("id_a"),
                         F.greatest("__ia", "__ib").alias("id_b"),
                         "hamming"))
        within = (members.alias("a").join(
            members.alias("b"),
            (F.col("a.__mph") == F.col("b.__mph"))
            & (F.col("a.__mid") < F.col("b.__mid")))
            .select(F.col("a.__mid").alias("id_a"),
                    F.col("b.__mid").alias("id_b"),
                    F.lit(0).alias("hamming")))
        return cross.unionByName(within)
    # two_level (recursive pigeonhole, see phash_band_table): worth
    # its 4x index rows whenever slice values are degenerate-heavy —
    # measured at sf0.1 on the 82k-distinct-hash graph: 114.8M
    # candidate rows (top bucket 7.1k index rows ~ 25M joined) with
    # one-level banding vs 8.4M flat-bucketed (top bucket 320) with
    # two-level, same 354,329 verified pairs either way
    banded = phash_band_table(df, max_hamming, id_col, phash_col,
                              two_level=two_level, hybrid=hybrid)
    # shuffle-hash, never broadcast: at corpus scale the banded side
    # cannot broadcast anyway, and locally a broadcast plan lets AQE
    # coalesce a post-aggregate probe side down to 1 partition — the
    # hamming re-score then runs single-task (measured 23 s -> 3.8 s
    # at sf0.1 on the distinct-hash graph).  The shuffle partitions
    # by (band, bv), which is also where AQE skew-split can kick in
    # on a hot slice value.
    a = banded.alias("a").hint("shuffle_hash")
    b_ = banded.alias("b")
    cand = (a.join(b_, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bv") == F.col("b.bv"))
                   & (F.col("a.__id") < F.col("b.__id")))
            .select(F.col("a.__id").alias("id_a"),
                    F.col("b.__id").alias("id_b"),
                    F.bit_count(F.col("a.__ph").bitwiseXOR(F.col("b.__ph")))
                    .alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            # a close pair agrees on several slices -> k duplicates
            .dropDuplicates(["id_a", "id_b"]))
    return cand


def image_near_dup_keepers(df: DataFrame, max_hamming: int = 3,
                           id_col: str = "image_id",
                           phash_col: str = "phash",
                           local_threshold: int = _LOCAL_CC_EDGES,
                           ) -> DataFrame:
    """The canonical IMAGE-dedup pipeline, the visual twin of
    text_near_dup_keepers:

      phash pigeonhole-band near-dup pairs (guaranteed recall,
      exact re-score)  ->  connected components (large/small-star,
      O(log n) rounds)  ->  first-wins keeper per duplicate group.

    Returns one row per input image: (id, keeper_id, is_dup);
    singletons and null-phash rows keep themselves.  Every stage
    shuffles only ids/hashes — pixel bytes never enter the plan.

    Scale design: identical phashes are collapsed FIRST (one min-id
    representative per distinct hash), so an exact-dup cluster of k
    copies contributes 1 node to the hamming graph instead of k
    (and 0 pairs instead of k^2/2) — on real corpora
    |distinct phash| << |rows|, and this is what keeps the band
    self-join linear-ish.  The group->keeper map is then joined back
    by phash.  Output is provably identical to running components on
    raw image pairs: the representative is the min id of its hash
    group, so min-over-representatives == min-over-images per
    component.  Measured at sf0.1 (100k images): the collapse cuts
    the hamming graph 2.8M -> 354k edges and the pair stage 9.2 s ->
    2.5 s; the star stage's min-contraction pre-round (see
    _contract_min) then collapses the dense gradient component
    (354k -> 91k edges in one round) and halves the components stage
    (11.6 s -> 6.2 s same-session) by replacing several fixed-latency
    star rounds — the remaining wall is per-round shuffle latency
    that a real cluster amortizes over real data volume per round."""
    nn = (df.select(F.col(id_col).alias("__iid"),
                    F.col(phash_col).alias("__ph"))
          .filter(F.col("__ph").isNotNull()))
    reps = nn.groupBy("__ph").agg(F.min("__iid").alias("rep"))
    # two_level: the distinct-hash graph is exactly where degenerate
    # slice values hurt (see phash_band_table) — measured at sf0.1:
    # 114.8M one-level candidates (hot bucket ~25M joined rows) vs
    # 8.4M flat two-level, identical 354,329 verified pairs.  NOT
    # hybrid: A/B on the 8x big variant at 8 cores read two_level
    # 15.5-21 s vs hybrid 34-41 s for the pair stage — at
    # max_hamming=3 (nb=4) the healthy one-level buckets still emit
    # 36M candidates vs two-level's 8.4M, and that re-score volume
    # costs more than the sub-key assembly saves.  Hybrid wins only
    # where the index build dominates (the 8x-expanded dihedral
    # probe, nb=3 — see _dihedral_directed_codes).
    pairs = phash_near_dups(reps, max_hamming, "rep", "__ph",
                            collapse_exact=False, two_level=True)
    # local_threshold passes through to the multi-level components
    # finish; lower it to keep the star rounds distributed (the
    # regime a real cluster run spends its rounds in)
    comp = connected_components_star(pairs.select("id_a", "id_b"),
                                     local_threshold=local_threshold)
    grp = (reps.join(comp, reps.rep == comp.node, "left")
           .select("__ph",
                   F.coalesce(F.col("component"), F.col("rep"))
                   .alias("__keeper")))
    kept = nn.join(grp, "__ph").select(
        F.col("__iid").alias("id"),
        F.col("__keeper").alias("keeper_id"),
        (F.col("__keeper") != F.col("__iid")).alias("is_dup"))
    nulls = (df.filter(F.col(phash_col).isNull())
             .select(F.col(id_col).alias("id"),
                     F.col(id_col).alias("keeper_id"),
                     F.lit(False).alias("is_dup")))
    return kept.unionByName(nulls)


def exact_dedup_binary(df: DataFrame, bytes_col: str = "bytes",
                       id_col: str = "image_id") -> DataFrame:
    """Exact binary dedup — the standard FIRST pass of web-scale image
    dedup (byte-identical re-uploads dominate raw crawls): group by a
    content digest, keep the min id.  The digest is computed in the
    scan stage projection, so only the 64-char hex string crosses the
    shuffle — the payload bytes never do (the repo invariant: `bytes`
    is stored uncompressed and must never enter an Exchange).  The
    digest is sha256 over the HEX encoding of the payload: hex(bytes)
    is deterministic and identically defined in Spark and DuckDB,
    which makes the whole operator value-exact against the SQL oracle
    (DuckDB's sha256 only accepts VARCHAR); collision resistance is
    unchanged.  Returns (digest, n, keeper_id) for groups of >= 2."""
    dg = F.sha2(F.hex(F.col(bytes_col)), 256)
    return (df.select(dg.alias("digest"), F.col(id_col))
            .groupBy("digest")
            .agg(F.count("*").alias("n"), F.min(id_col).alias("keeper_id"))
            .filter(F.col("n") >= 2))


def crossmodal_near_dups(df: DataFrame, max_hamming: int = 3,
                         jaccard_threshold: float = 0.5,
                         id_col: str = "image_id",
                         phash_col: str = "phash",
                         caption_col: str = "caption",
                         ngram: int = 3) -> DataFrame:
    """Cross-modal image near-dup scoring: the visual candidate set
    (guaranteed-recall phash pigeonhole banding, exact hamming
    re-score) enriched with the caption word-n-gram Jaccard of each
    pair, labeled `visual+text` when captions agree too — the signal
    that separates true re-uploads (same picture, same caption) from
    visually-near-but-editorially-distinct pairs (same picture,
    rewritten caption), which web-scale curation treats differently
    (drop vs keep-both-captions).

    Scale shape: text is only ever compared on pairs the VISUAL index
    proposes — never all-pairs caption comparison — and only the
    captions of candidate ids reach a shuffle (_pair_grams).  Pixel
    bytes never enter the plan at all."""
    cand = phash_near_dups(df.select(id_col, phash_col), max_hamming,
                           id_col, phash_col)
    # hashed grams: jaccard VALUES are unchanged absent 64-bit
    # same-pair collisions, so the rounded output column still
    # matches the string-gram SQL oracle exactly
    grams = _gram_table(df, F.coalesce(F.col(caption_col), F.lit("")),
                        id_col, ngram, hashed=True)
    return (
        _pair_grams(cand, grams, "id_a", "id_b")
        .withColumn("jaccard", F.round(_jaccard(), 6))
        .select(
            "id_a", "id_b",
            F.col("hamming").cast("int").alias("hamming"),
            "jaccard",
            F.when(F.col("jaccard") >= jaccard_threshold,
                   F.lit("visual+text"))
            .otherwise(F.lit("visual_only")).alias("match_type")))


def incremental_dedup(batch: DataFrame, corpus: DataFrame,
                      text_col: str, id_col: str,
                      threshold: float = 0.5, num_hashes: int = 16,
                      bands: int = 4, shingle_k: int = 5,
                      ngram: int = 3) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the production
    mode of web-scale dedup: the 100 TB corpus is already deduped and
    indexed, and each day's crawl increment must be checked against it
    (and against itself) without ever re-processing the corpus.

    Per batch doc: (id, status, match_id) where status is
      'dup_of_corpus'  — some corpus doc has n-gram Jaccard >= t
                         (match_id = the smallest such corpus id),
      'dup_in_batch'   — else some EARLIER batch doc (smaller id)
                         matches (first-wins keeper semantics),
      'new'            — else (match_id null).  Corpus matches take
    priority: the corpus copy is canonical by definition.

    Scale shape: the corpus contributes ONLY its band table
    (minhash_band_table — persisted in production, a few dozen bytes
    per doc) and the texts of the few ids that collide with a batch
    band; the batch band table probes it with an equi-join on
    (band, bh).  Candidates are verified with exact n-gram Jaccard,
    gram arrays semi-join-pruned to candidate ids on both sides.
    Cost per increment ~ |batch| x collision rate, independent of
    |corpus| except through the (pre-built) index join."""
    bb = minhash_band_table(batch, text_col, id_col, num_hashes,
                            bands, shingle_k)
    cb = minhash_band_table(corpus, text_col, id_col, num_hashes,
                            bands, shingle_k)

    def _band_hits(other: DataFrame, earlier_only: bool) -> DataFrame:
        cond = ((F.col("a.band") == F.col("b.band"))
                & (F.col("a.bh") == F.col("b.bh")))
        if earlier_only:
            cond = cond & (F.col("a.__id") > F.col("b.__id"))
        return (bb.alias("a").join(other.alias("b"), cond)
                .select(F.col("a.__id").alias("bid"),
                        F.col("b.__id").alias("cid")).distinct())

    # two gram tables (batch, other), so not _pair_grams: each side is
    # semi-join-pruned to its own candidate ids before its fetch
    def _verified_min(cand: DataFrame, other_grams: DataFrame,
                      batch_grams: DataFrame) -> DataFrame:
        bg = batch_grams.join(cand.select(F.col("bid").alias("gid"))
                              .distinct(), "gid", "left_semi")
        og = other_grams.join(cand.select(F.col("cid").alias("gid"))
                              .distinct(), "gid", "left_semi")
        pairs = (cand
                 .join(bg.select(F.col("gid").alias("bid"),
                                 F.col("grams").alias("ga")), "bid")
                 .join(og.select(F.col("gid").alias("cid"),
                                 F.col("grams").alias("gb")), "cid"))
        return (pairs.filter(_jaccard() >= threshold)
                .groupBy("bid").agg(F.min("cid").alias("mid")))

    bgrams = _gram_table(_widen(batch), text_col, id_col, ngram, hashed=True)
    cgrams = _gram_table(_widen(corpus), text_col, id_col, ngram,
                         hashed=True)
    cm = _verified_min(_band_hits(cb, earlier_only=False), cgrams, bgrams)
    bm = _verified_min(_band_hits(bb, earlier_only=True), bgrams, bgrams)
    return _incremental_status(batch, id_col, cm, bm)


def _incremental_status(batch: DataFrame, id_col: str, cm: DataFrame,
                        bm: DataFrame) -> DataFrame:
    """(id, status, match_id) per batch row from the two (bid, mid)
    minimum-match maps of an incremental dedup: corpus matches `cm`
    take priority over earlier-batch matches `bm`."""
    return (batch.select(F.col(id_col).alias("id"))
            .join(cm.select(F.col("bid").alias("id"),
                            F.col("mid").alias("__cm")), "id", "left")
            .join(bm.select(F.col("bid").alias("id"),
                            F.col("mid").alias("__bm")), "id", "left")
            .select(
                "id",
                F.when(F.col("__cm").isNotNull(), F.lit("dup_of_corpus"))
                .when(F.col("__bm").isNotNull(), F.lit("dup_in_batch"))
                .otherwise(F.lit("new")).alias("status"),
                F.coalesce("__cm", "__bm").alias("match_id")))


def incremental_image_dedup(batch: DataFrame, corpus: DataFrame,
                            max_hamming: int = 3,
                            id_col: str = "image_id",
                            phash_col: str = "phash") -> DataFrame:
    """Visual twin of incremental_dedup: dedup a NEW image batch
    against an EXISTING corpus through the corpus' PERSISTED phash
    band index (phash_band_table), never re-processing corpus pixels.

    Per batch image: (id, status, match_id) with the same semantics
    as the text operator — 'dup_of_corpus' (some corpus image within
    `max_hamming`; match_id = smallest such corpus id, corpus copies
    are canonical), else 'dup_in_batch' (some EARLIER batch id
    matches, first-wins), else 'new'.  Images whose phash is NULL
    (undecodable rows) are 'new' by definition.

    Unlike the MinHash text index, the pigeonhole band index has
    GUARANTEED recall at the hamming radius, so this incremental
    answer provably equals the brute-force batch x corpus scan —
    the DuckDB oracle checks exactly that.  Scale shape: the corpus
    contributes only its band table ((max_hamming+1) rows of
    (id, phash, band, bv) per image — the hashes ride along, so
    verification needs NO second corpus fetch); cost per increment ~
    |batch| x slice collision rate, independent of |corpus| except
    through the index equi-join."""
    bb = phash_band_table(batch, max_hamming, id_col, phash_col)
    cb = phash_band_table(corpus, max_hamming, id_col, phash_col)

    def _min_match(left: DataFrame, right: DataFrame,
                   earlier_only: bool) -> DataFrame:
        cond = ((F.col("a.band") == F.col("b.band"))
                & (F.col("a.bv") == F.col("b.bv")))
        if earlier_only:
            cond = cond & (F.col("b.__id") < F.col("a.__id"))
        return (left.alias("a").hint("shuffle_hash")
                .join(right.alias("b"), cond)
                .filter(F.bit_count(
                    F.col("a.__ph").bitwiseXOR(F.col("b.__ph")))
                    <= max_hamming)
                .groupBy(F.col("a.__id").alias("bid"))
                .agg(F.min("b.__id").alias("mid")))

    cm = _min_match(bb, cb, earlier_only=False)
    bm = _min_match(bb, bb, earlier_only=True)
    return _incremental_status(batch, id_col, cm, bm)


def containment_pairs(df: DataFrame, text_col: str, id_col: str,
                      n: int = 3, threshold: float = 0.8) -> DataFrame:
    """Directed Jaccard-CONTAINMENT near-dup pairs: |A∩B| / |A| >=
    threshold over token n-gram sets.  Containment is what catches a
    document EMBEDDED in a larger one (quoted article, boilerplate
    wrapper, excerpt) — symmetric Jaccard dilutes those pairs below
    any usable threshold, and MinHash bands (tuned for symmetric J)
    structurally miss them.

    Candidate generation is the PPJoin-family prefix filter (Xiao et
    al. 2008; Chaudhuri et al. 2006 — public algorithms): order each
    doc's grams by GLOBAL document frequency (rarest first, gram
    string as tiebreak) and keep only the first
    p = |A| - ceil(t*|A|) + 1 grams.  EXACT recall guarantee by
    pigeonhole: containment >= t forces |A∩B| >= ceil(t|A|), so at
    least one of A's p rarest grams must appear in B — a miss would
    cap the intersection at ceil(t|A|) - 1.  Prefix grams probe the
    full inverted index (gram -> docs); because prefixes are the
    RAREST grams, per-gram fan-out is its df, which is exactly what
    the prefix ordering minimizes.

    Scale shape (10^12 rows): the gram table is MATERIALIZED once
    (localCheckpoint — the inverted-index build pass every
    PPJoin-family system performs; without the lineage cut the
    optimizer inlines the gram expression into each of its 4+
    consumers and rebuilds it per reference, the CLAUDE.md
    CollapseProject trap); candidates are generated IDS-ONLY (prefix
    table carries (gram, id, sz) scalars, never arrays) with the
    PPJoin LENGTH filter — containment >= t forces
    |B| >= ceil(t|A|), so shorter dst docs are pruned inside the
    probe join before the pair distinct; gram arrays are fetched
    post-candidates by semi-join-pruned id joins against the
    materialized table; verification cost is exactly candidate-pairs
    x array_intersect.  The df groupBy and the row_number window
    both shuffle (gram,count)/(id,gram,df) scalar rows.  A hot gram
    shared by k docs costs its prefix holders k probe rows each —
    bounded by prefix ordering, and a df cap would break the recall
    guarantee, so none is applied."""
    base = _gram_table(_widen(df), text_col, id_col, n).localCheckpoint()
    ex = base.select("gid", F.size("grams").alias("sz"),
                     F.explode("grams").alias("gram"))
    # grams are distinct per doc (_gram_table) => count(*) == doc freq
    dfreq = ex.groupBy("gram").agg(F.count("*").alias("__df"))
    w = Window.partitionBy("gid").orderBy("__df", "gram")
    ranked = (ex.join(dfreq, "gram")
              .withColumn("__pos", F.row_number().over(w)))
    prefix = ranked.filter(
        F.col("__pos") <= F.col("sz")
        - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
    cand = (prefix.select(F.col("gid").alias("src_id"),
                          F.col("sz").alias("__ssz"), "gram")
            .join(ex.select(F.col("gid").alias("dst_id"),
                            F.col("sz").alias("__dsz"), "gram"), "gram")
            .filter((F.col("src_id") != F.col("dst_id"))
                    & (F.col("__dsz")
                       >= F.ceil(F.lit(threshold) * F.col("__ssz"))))
            .select("src_id", "dst_id")
            .distinct())
    containment = (F.size(F.array_intersect("ga", "gb")).cast("double")
                   / F.size("ga").cast("double"))
    return (_pair_grams(cand, base, "src_id", "dst_id")
            .withColumn("containment", containment)
            .filter(F.col("containment") >= threshold)
            .select("src_id", "dst_id",
                    F.round("containment", 6).alias("containment")))


def keepers_by_score(df: DataFrame, pairs: DataFrame, id_col: str,
                     score_col: str) -> DataFrame:
    """Score-based keeper policy: within each duplicate component keep
    the member with the HIGHEST score (ties -> smallest id).

    First-wins (min id) keeps whichever copy was crawled first;
    real curation usually wants the best copy — longest caption,
    highest quality score, best-resolution image — so the keeper is
    the per-component argmax of a caller-supplied score column.
    Returns one row per input id: (id, keeper_id, is_dup); singletons
    keep themselves.  Cost: the components rounds plus ONE window
    shuffle on the component key — the same class as the dup-rank
    window the pipeline already pays."""
    comp = connected_components_star(pairs)
    scored = df.select(F.col(id_col).alias("id"),
                       F.col(score_col).alias("__s"))
    labeled = (scored.join(comp, scored.id == comp.node, "left")
               .select("id",
                       F.coalesce("component", F.col("id")).alias("__grp"),
                       "__s"))
    w = (Window.partitionBy("__grp")
         .orderBy(F.desc("__s"), F.asc("id"))
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return (labeled
            .withColumn("keeper_id", F.first("id").over(w))
            .select("id", "keeper_id",
                    (F.col("keeper_id") != F.col("id")).alias("is_dup")))


def visual_decontaminate(train: DataFrame, eval_df: DataFrame,
                         max_hamming: int = 3,
                         id_col: str = "image_id",
                         phash_col: str = "phash",
                         two_level: bool = False) -> DataFrame:
    """Benchmark decontamination for IMAGES: flag every training
    image that is a visual near-duplicate (phash hamming <=
    `max_hamming`) of some held-out eval image — the visual twin of
    corpus.decontaminate, and the gate every multimodal training run
    needs before it can trust its eval numbers.

    Returns one row per train image: (id, contaminated, eval_match =
    smallest matching eval id, min_hamming = closest match distance;
    -1 when clean so the output stays non-null for exact engine
    compare).  Train images with NULL phash (undecodable) are clean
    by definition — they never reach the index join.

    Scale shape (10^12 train x 10^4..10^6 eval): the verdict is a
    pure function of the PHASH, so the probe runs COLLAPSE-FIRST —
    only DISTINCT train hashes (bounded by content diversity, never
    by row count; replicated/duplicated corpora probe each hash
    once) enter the band join against the BROADCAST eval index
    (phash_band_table, (max_hamming+1) rows per eval image).  The
    rep band rows INNER-join the index and filter to real hits
    (dist <= max_hamming) BEFORE any aggregation, so the band-bucket
    fan-out (hot low-entropy slices produce ~90 candidates per probe
    row on this corpus — 26.8M pairs at sf0.1) flows through one
    codegen xor+bit_count+compare stage with NO aggregation state on
    misses; only the contaminated hashes (tiny by definition — eval
    overlap is the anomaly) reach the min-aggregate.  Train rows
    then LEFT-join that hit map BROADCAST: the 10^12-row train side
    never shuffles at all.  (The previous form aggregated all 26.8M
    joined rows — string-min state per pair — and shuffle-joined the
    74k-hash verdict map back: 10.2 s -> 2.5 s floor at sf0.1.)
    Measured on a 20x-replicated sf0.1 corpus the collapse cuts the
    probe stream 400x (710M -> 1.8M joined rows).  Null-phash rows,
    which the band table excludes, re-enter through a trivial
    union.  Recall is GUARANTEED (Norouzi et al. pigeonhole slices,
    not probabilistic LSH), so this equals the brute-force train x
    eval scan exactly — the DuckDB oracle checks precisely that."""
    reps = (train.filter(F.col(phash_col).isNotNull())
            .select(F.col(phash_col).alias("__rp")).distinct())
    eb = phash_band_table(eval_df, max_hamming, id_col, phash_col,
                          two_level=two_level)
    tb = phash_band_table(reps, max_hamming, "__rp", "__rp",
                          two_level=two_level)
    dist = F.bit_count(F.col("a.__ph").bitwiseXOR(F.col("b.__ph")))
    hits = (tb.alias("a")
            .join(F.broadcast(eb.alias("b")),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.bv") == F.col("b.bv")))
            .filter(dist <= max_hamming)
            .groupBy(F.col("a.__ph").alias("__vh"))
            .agg(F.min(F.col("b.__id")).alias("eval_match"),
                 F.min(dist).alias("__mh")))
    out = (train.filter(F.col(phash_col).isNotNull())
           .select(F.col(id_col).alias("id"),
                   F.col(phash_col).alias("__vh"))
           .join(F.broadcast(hits), "__vh", "left")
           .select(
               "id",
               F.col("eval_match").isNotNull().alias("contaminated"),
               "eval_match",
               F.coalesce(F.col("__mh"), F.lit(-1)).cast("int")
                .alias("min_hamming")))
    id_type = dict(train.dtypes)[id_col]
    nulls = (train.filter(F.col(phash_col).isNull())
             .select(F.col(id_col).alias("id"),
                     F.lit(False).alias("contaminated"),
                     F.lit(None).cast(id_type).alias("eval_match"),
                     F.lit(-1).cast("int").alias("min_hamming")))
    return out.unionByName(nulls)


# ---------------------------------------------------------------------------
# orientation-robust (dihedral) visual decontamination
# ---------------------------------------------------------------------------

# The stored phash is kernels/codecs.py::ahash64: an 8x8 grid of
# block-mean bits packed row-major, MSB-first — the bit for block
# (r, c) sits at int64 bit position 63 - (8r + c).  A dihedral
# transform of the IMAGE (flip / rotate / transpose) permutes the 8x8
# blocks, and the threshold (mean of the 64 block means) is
# permutation-invariant, so the transformed image's hash is a pure
# BIT PERMUTATION of the stored hash — EXACT when both dims divide by
# 8 (block grids map 1:1; measured hamming 0 on white noise) and for
# transpose at any dims (floor grids are per-axis, no reversal).
# Reversal-based transforms on non-8-divisible dims shift the
# floor-quantized block boundaries by <1 block: measured hamming
# ~10-24 bits on WHITE NOISE (the adversarial case — every boundary
# pixel is independent); smooth real content keeps block means stable
# under sub-block boundary shifts.  Each entry maps DESTINATION block
# (r, c) of the transformed image to its SOURCE block in the
# original.
DIHEDRAL_MAPS: list[tuple[str, object]] = [
    ("identity", lambda r, c: (r, c)),
    ("rot90", lambda r, c: (7 - c, r)),          # 90 deg clockwise
    ("rot180", lambda r, c: (7 - r, 7 - c)),
    ("rot270", lambda r, c: (c, 7 - r)),         # 90 deg CCW
    ("hflip", lambda r, c: (r, 7 - c)),          # mirror left-right
    ("vflip", lambda r, c: (7 - r, c)),          # mirror top-bottom
    ("transpose", lambda r, c: (c, r)),
    ("antitranspose", lambda r, c: (7 - c, 7 - r)),
]


def _dihedral_inverse() -> list[int]:
    """INV[t] = the index s with m_s == m_t^{-1} as 8x8 grid
    permutations.  Needed because hamming(d_t(A), B) ==
    hamming(d_{INV[t]}(B), A) (bit permutations preserve hamming and
    reading A through m_t equals reading B through m_t^{-1}), which
    lets one directed band-join match stream serve BOTH orientations
    of a collapsed hash pair — see dihedral_near_dups.  Derived from
    DIHEDRAL_MAPS instead of hardcoded so it can never drift."""
    inv = []
    for _, mt in DIHEDRAL_MAPS:
        for s, (_, ms) in enumerate(DIHEDRAL_MAPS):
            if all(ms(*mt(r, c)) == (r, c)
                   for r in range(8) for c in range(8)):
                inv.append(s)
                break
    assert len(inv) == len(DIHEDRAL_MAPS)
    return inv


_DIHEDRAL_INV = _dihedral_inverse()


def dihedral_phash_sql(col: str) -> list[str]:
    """The 8 dihedral variants of an ahash64 column as SQL expression
    strings in the shared Spark/DuckDB dialect (`>>` is arithmetic in
    both, `& 1` recovers the bit; the sign bit term is a CASE because
    DuckDB's `<<` raises on 1 << 63).  Identity stays the bare column
    so the common case adds zero codegen.  All 64 output bits are
    disjoint, so the integer sum equals the bitwise OR and no partial
    sum can overflow (the only negative term is the sign bit)."""
    out = []
    for name, m in DIHEDRAL_MAPS:
        if name == "identity":
            out.append(col)
            continue
        terms = []
        for p in range(64):
            r, c = divmod(p, 8)
            r2, c2 = m(r, c)
            src = 63 - (8 * r2 + c2)
            bit = f"(({col} >> {src}) & 1)"
            if p == 0:
                terms.append(f"(CASE WHEN {bit} = 1 THEN {_I64_MIN} "
                             "ELSE 0 END)")
            else:
                terms.append(f"({bit} << {63 - p})")
        out.append(" + ".join(terms))
    return out


def dihedral_phash_py(h: int, t: int) -> int:
    """Python twin of dihedral_phash_sql for tests / numpy oracles:
    variant t (index into DIHEDRAL_MAPS) of a signed-int64 ahash."""
    u = h & 0xFFFFFFFFFFFFFFFF
    _, m = DIHEDRAL_MAPS[t]
    v = 0
    for p in range(64):
        r, c = divmod(p, 8)
        r2, c2 = m(r, c)
        v |= ((u >> (63 - (8 * r2 + c2))) & 1) << (63 - p)
    return v - (1 << 64) if v >= (1 << 63) else v


def visual_decontaminate_dihedral(train: DataFrame, eval_df: DataFrame,
                                  max_hamming: int = 2,
                                  id_col: str = "image_id",
                                  phash_col: str = "phash") -> DataFrame:
    """Orientation-robust visual decontamination: flag every training
    image whose phash is within `max_hamming` of ANY dihedral variant
    (flip / rotation / transpose) of a held-out eval image — a
    mirrored or rotated eval copy evades plain phash matching
    (hamming(h, hflip(h)) is ~32 on real content) but not this gate.

    The expansion happens on the EVAL side only, as 7 extra bit
    permutations of the already-stored hash (zero decode, zero
    Python): the eval band index grows 8x and still broadcasts, while
    the 10^12-row corpus side keeps the collapse-first probe of
    visual_decontaminate unchanged.  Symmetric hashes (solid fills)
    collapse via distinct before banding.  Output schema and
    semantics match visual_decontaminate: eval_match = min matching
    eval id over ALL orientations, min_hamming = closest variant
    distance."""
    # project-then-materialize the variant array BEFORE exploding:
    # CollapseProject would otherwise inline the 8x64-term array into
    # the explode and re-evaluate it per element (the CLAUDE.md HOF
    # trap; the eval split is small by definition, so the checkpoint
    # costs ~nothing)
    exprs = dihedral_phash_sql(phash_col)
    ev0 = (eval_df.filter(F.col(phash_col).isNotNull())
           .select(F.col(id_col),
                   F.array(*[F.expr(e) for e in exprs]).alias("__va"))
           .localCheckpoint())
    ev = (ev0.select(F.col(id_col), F.explode("__va").alias("__dph"))
          .select(F.col(id_col), F.col("__dph").alias(phash_col))
          .distinct())
    # two-level banding: the 8x orientation expansion makes the eval
    # index degenerate-slice-heavy (see dihedral_near_dups) — the
    # sub-slice key cuts the broadcast-join candidate stream ~13x at
    # 3x (still tiny, still broadcast) index rows
    return visual_decontaminate(train, ev, max_hamming, id_col,
                                phash_col, two_level=True)


def _dihedral_directed_codes(src: DataFrame,
                             max_hamming: int) -> DataFrame:
    """Directed dihedral match codes over a UNIQUE-ID (__id, __ph)
    frame: for every pair id_a < id_b with some variant within
    max_hamming, one row (id_a, id_b, __code_ab, __code_ba) where
    __code_ab = min over t of hamming(d_t(ph_a), ph_b) * 8 + t and
    __code_ba the same with the roles swapped.  Both directions come
    from ONE band-join stream: a surfaced match (t, d) for a->b is
    also the match (INV[t], d) for b->a (hamming(d_t(A), B) ==
    hamming(d_{INV[t]}(B), A)), so the reverse code needs no second
    join — just a second min over the statically-known inverse
    orientation.  When coincident variant hashes are deduped
    (symmetric images), the kept row carries min t AND min INV[t]
    over its t-class: the two mins are over the same d, so neither
    direction loses its argmin."""
    exprs = dihedral_phash_sql("__ph")
    # project-then-materialize: see dihedral_near_dups (CollapseProject
    # would re-evaluate the 8x64-term array per consumer)
    varr = (src.select("__id", "__ph",
                       F.array(*[F.expr(e) for e in exprs])
                       .alias("__va"))
            .localCheckpoint())
    inv_arr = F.array(*[F.lit(x) for x in _DIHEDRAL_INV])
    # NO variant-dedup shuffle: coincident variant hashes (symmetric
    # images) may emit up to 8 identical-vph rows, but the final
    # min-code aggregate dedups them anyway — min over ALL surfaced
    # (t, d) matches equals min over t-class representatives, since a
    # t-class shares d and the min picks its smallest t / INV[t]
    # verbatim.  Dropping the groupBy removes a 8x|hashes|-row
    # Exchange and a stage boundary from the fixed-latency chain (the
    # 2->8 scaling item: wall = D/N + F, this cuts F), and makes the
    # whole ab index build map-side over the checkpointed varr.
    va = (varr.select("__id", F.posexplode("__va").alias("__t", "__vph"))
          .select(F.struct(
                      "__id", "__t",
                      F.element_at(inv_arr, F.col("__t") + 1)
                      .alias("__ti")).alias("__idt"),
                  "__vph"))
    # hybrid banding: the orientation-expanded index is degenerate-
    # slice-heavy by construction (every flat/gradient slice appears
    # in 8 orientations) — the sub-slice key kills those hot buckets
    # exactly as two_level does, while the ~90% of slices with
    # healthy values keep the cheap one-level row and skip the
    # ~40-term sub-key assembly that pinned the 8-core wall (decomp:
    # band_ab was 39.8 s of an 80 s materialized-stage total).  Both
    # tables MUST share the mode — the join meets on the band-id
    # namespace.
    ab = phash_band_table(va, max_hamming, "__idt", "__vph",
                          hybrid=True)
    bb = phash_band_table(varr, max_hamming, "__id", "__ph",
                          hybrid=True)
    # shuffle_hash: hash build beats two sorts; at 100 TB neither
    # side broadcasts anyway
    d = F.bit_count(F.col("a.__ph").bitwiseXOR(F.col("b.__ph")))
    return (ab.alias("a")
            .join(bb.hint("shuffle_hash").alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.bv") == F.col("b.bv")))
            .filter(F.col("a.__id.__id") < F.col("b.__id"))
            # in-stream verify: a.__ph IS variant t's hash, b.__ph
            # the stored hash — only d <= max_hamming rows shuffle
            # into the min-code aggregate
            .select(F.col("a.__id.__id").alias("id_a"),
                    F.col("b.__id").alias("id_b"),
                    (d * 8 + F.col("a.__id.__t")).alias("__cab"),
                    (d * 8 + F.col("a.__id.__ti")).alias("__cba"),
                    d.alias("__d"))
            .filter(F.col("__d") <= max_hamming)
            .groupBy("id_a", "id_b")
            .agg(F.min("__cab").alias("__code_ab"),
                 F.min("__cba").alias("__code_ba")))


def dihedral_near_dups(df: DataFrame, max_hamming: int = 2,
                       id_col: str = "image_id",
                       phash_col: str = "phash",
                       collapse_exact: bool = True) -> DataFrame:
    """Within-corpus orientation-robust near-dup pairs: (a, b) such
    that SOME dihedral variant (flip / rotation / transpose) of a's
    phash is within `max_hamming` of b's stored phash — the mirrored
    re-upload / rotated crop-dodge case plain hamming dedup misses.

    Only ONE side expands (group closure: hamming(d(A), B) =
    hamming(A, d_inv(B)) because bit permutations preserve hamming,
    so every relative orientation is covered and the a < b dedup is
    safe).  Candidates come from the same pigeonhole band slices as
    phash_near_dups — variant-side band table joins the stored-side
    band table, ids+hashes only — and verification re-derives all 8
    variant distances from the STORED hashes per candidate pair,
    reporting the best (min_hamming, orientation) via an exact
    integer min over code = hamming * 8 + orientation.

    Scale shape: the variant band table is 8x the standard probe
    (scalar rows), and verification happens IN the band-join stream —
    no candidate distinct, no verify joins.  The pigeonhole guarantee
    holds PER VARIANT: every variant t with hamming(d_t(A), B) <=
    max_hamming agrees with B exactly on some slice, so that (pair,
    t, d) match SURFACES in the band join; variants farther than
    max_hamming never reach the output anyway.  Hence
    min-over-surfaced-matches == min-over-all-8-variants, and one
    partial-aggregated groupBy(id_a, id_b).min(code) with code =
    d*8 + t replaces the former distinct + two sort-merge verify
    joins (measured at sf0.1/8 cores: the distinct+verify tail was
    ~27 s of a 29 s wall; in-stream verify removes three Exchanges
    and both 8M-row sorts).  The 64-term permutation expressions
    evaluate ONCE PER IMAGE into an 8-long variant array
    (localCheckpoint — the first cut re-derived them per candidate:
    6.7 s -> see BENCH notes); duplicate variant hashes keep their
    smallest t, which the min-code tiebreak would pick anyway.
    Recall is GUARANTEED (pigeonhole per variant), so a brute-force
    variant scan is value-exact ground truth.

    With ``collapse_exact`` (default), identical stored hashes are
    collapsed to one representative BEFORE the variant expansion and
    band join — the phash_near_dups trick, and the bigger lever here
    because the 8x orientation expansion MULTIPLIES any exact-dup
    fan-in: a k-copy hash group sends 8k band-table rows (and up to
    k^2 x slice-multiplicity joined rows against another group)
    where 8 suffice.  Member pairs are restored by hash equi-joins.
    Output is provably identical: all members of a group share the
    hash, so every member pair inherits its rep pair's variant
    distances verbatim; the only per-pair difference is WHICH side
    is the smaller id (the orientation is defined as the variant of
    the smaller id's hash), covered by aggregating both direction
    codes from the one match stream via the static inverse
    orientation (see _dihedral_directed_codes).  Same-hash member
    pairs are identity matches: (min_hamming 0, orientation 0),
    exactly what the uncollapsed scan reports for them.  Pass False
    when the input is already hash-distinct."""
    # _widen: the band join's fan-out materializes in the PROBE
    # side's tasks — a narrow scan (or 1-partition localCheckpoint)
    # serializes millions of candidate pairs on a couple of cores
    # (measured: 2->8 cores read 0.47 efficiency before this line)
    base = (_widen(df).filter(F.col(phash_col).isNotNull())
            .select(F.col(id_col).alias("__id"),
                    F.col(phash_col).alias("__ph")))
    if collapse_exact:
        reps = (base.groupBy("__ph").agg(F.min("__id").alias("__id"))
                .select("__id", "__ph"))
        codes = _dihedral_directed_codes(reps, max_hamming)
        # attach each side's hash (reps IS the rep-id -> hash map),
        # then expand to member pairs by hash equi-joins; the code
        # for a member pair is the direction whose variant side is
        # the smaller member id
        rp = (codes
              .join(reps.select(F.col("__id").alias("id_a"),
                                F.col("__ph").alias("__pa")), "id_a")
              .join(reps.select(F.col("__id").alias("id_b"),
                                F.col("__ph").alias("__pb")), "id_b"))
        cross = (rp
                 .join(base.select(F.col("__ph").alias("__pa"),
                                   F.col("__id").alias("__ia")), "__pa")
                 .join(base.select(F.col("__ph").alias("__pb"),
                                   F.col("__id").alias("__ib")), "__pb")
                 .select(F.least("__ia", "__ib").alias("id_a"),
                         F.greatest("__ia", "__ib").alias("id_b"),
                         F.when(F.col("__ia") < F.col("__ib"),
                                F.col("__code_ab"))
                         .otherwise(F.col("__code_ba"))
                         .alias("__code")))
        within = (base.alias("a").join(
            base.alias("b"),
            (F.col("a.__ph") == F.col("b.__ph"))
            & (F.col("a.__id") < F.col("b.__id")))
            .select(F.col("a.__id").alias("id_a"),
                    F.col("b.__id").alias("id_b"),
                    F.lit(0).cast("int").alias("__code")))
        out = (cross.select("id_a", "id_b",
                            F.col("__code").cast("int").alias("__code"))
               .unionByName(within))
    else:
        out = (_dihedral_directed_codes(base, max_hamming)
               .select("id_a", "id_b",
                       F.col("__code_ab").cast("int").alias("__code")))
    return out.select("id_a", "id_b",
                      F.floor(F.col("__code") / 8).cast("int")
                      .alias("min_hamming"),
                      (F.col("__code") % 8).cast("int")
                      .alias("orientation"))
