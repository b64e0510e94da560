"""Similarity search over embedding columns (training-data pipeline
ops): brute-force cosine top-k baseline + LSH-bucketed scale path.

Dot products run JVM-side via higher-order array functions
(zip_with + aggregate, sequential double accumulation — deterministic
order), no Python in the hot path.  They are written as SQL text: a
Python lambda or `F.col` costs the driver a dozen py4j round trips,
a plane of 64 literals thousands.  The query side is broadcast (the
query set is small by construction); the corpus is never collected.

Scale path: signs of projections onto seeded Gaussian hyperplanes
(plan literals) bucket the corpus once (shuffle on a small int key);
candidates are only scored within matching buckets —
at 10^12 rows the brute-force cross product is replaced by
|corpus|/2^bits work per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _widen
from .topk import rank_topk


def _dvec(col: str) -> str:
    """SQL: the array column `col` cast element-wise to double."""
    return f"transform(`{col}`, x -> cast(x as double))"


def _dot(a: str, b: str) -> str:
    """SQL: <a, b> of two double arrays, one sequential fold."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, "
            "(acc, s) -> acc + s)")


def _sumsq(a: str) -> str:
    return f"aggregate({a}, 0D, (acc, s) -> acc + s * s)"


def _norm(a: str) -> str:
    return f"sqrt({_sumsq(a)})"


def _prenormed(df: DataFrame, id_col: str, vec_col: str,
               id_alias: str, vec_alias: str, norm_alias: str,
               *carry) -> DataFrame:
    """(id, *carry, double-vector, norm) projected ONCE per vector —
    the one such projection; `carry` columns (a label, a cluster) ride
    along as SQL text ("`label` AS __ql").  Scoring a candidate pair
    is then a single zip_with/aggregate pass; the r1 form re-derived
    both casts and both norms PER PAIR — higher-order functions are
    interpreted (no codegen), so that multiplied the dominant per-pair
    cost ~5x.  Values are bit-identical: same expressions, hoisted
    per-vector."""
    return (df.selectExpr(f"`{id_col}` AS {id_alias}", *carry,
                          f"{_dvec(vec_col)} AS {vec_alias}")
            .selectExpr("*", f"{_norm(vec_alias)} AS {norm_alias}"))


def _score_pairs(joined: DataFrame, acol: str, bcol: str,
                 anorm: str, bnorm: str) -> DataFrame:
    """Cosine over prenormed sides, rounded to 6 decimals BEFORE
    ranking: top-k order is then reproducible across engines and
    accumulation orders (ties broken by id)."""
    return joined.withColumn("cos", F.expr(
        f"round({_dot(acol, bcol)} / ({anorm} * {bnorm}), 6)"))


def _cosine_rank(joined: DataFrame, k: int) -> DataFrame:
    """Each query's top k prenormed (qvec, cvec) pairs by cos."""
    scored = _score_pairs(joined, "qvec", "cvec", "__qn", "__cn")
    return (rank_topk(scored, "query_id", k, F.desc("cos"),
                      F.asc("neighbor_id"))
            .select("query_id", "neighbor_id", "cos", "rk"))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force exact top-k neighbors per query (baseline)."""
    q = _prenormed(queries, id_col, vec_col, "query_id", "qvec", "__qn")
    c = _prenormed(_widen(corpus), id_col, vec_col,
                   "neighbor_id", "cvec", "__cn")
    return _cosine_rank(c.crossJoin(F.broadcast(q)).filter(
        "neighbor_id != query_id"), k)


def _hyperplanes(dim: int, bits: int, seed: int = 0):
    """Deterministic Gaussian hyperplanes as a (bits, dim) numpy
    array.  Generated driver-side from a fixed seed and embedded as
    plan LITERALS: the r1 version derived each plane component from
    xxhash64 per ROW, recomputing dim*bits hashes for every vector —
    literals cost nothing per row and stay fully reproducible."""
    import numpy as np

    rng = np.random.default_rng([11, seed])
    return rng.standard_normal((bits, dim))


def _plane_dots(vec_col: str, planes) -> list[str]:
    """SQL: <v, p> for each literal plane p — the one plane-dot
    builder (LSH signatures, IVF cells).  repr() of a double is its
    shortest exact round trip, so the literals are the ones F.lit
    would give (tests/test_similarity.py checks the signatures
    against a numpy fold)."""
    return [_dot(_dvec(vec_col),
                 f"array({', '.join(f'{float(x)!r}D' for x in p)})")
            for p in planes]


def ivf_centroids(df: DataFrame, n_centroids: int = 16, iters: int = 5,
                  sample: int = 2048, seed: int = 7,
                  vec_col: str = "embedding"):
    """Deterministic IVF coarse quantizer: k-means on a driver-side
    sample (at 10^12 rows: `df.sample(fraction).limit(sample)` keeps
    the collect bounded), returned as a plain numpy array that the
    caller broadcasts.  numpy-only, fixed seed => reproducible."""
    import numpy as np

    rows = (df.select(vec_col).limit(sample).collect())
    X = np.array([r[0] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), n_centroids, replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                v = members.sum(axis=0)
                C[c] = v / np.maximum(np.linalg.norm(v), 1e-12)
    return C


def _with_centroid_cell(df: DataFrame, vec_col: str, C) -> DataFrame:
    """argmax_c <v, C_c> JVM-side.  Dots are materialized as columns
    in a first projection, then argmax compares column REFERENCES — a
    nested when-chain over the raw dot expressions would duplicate
    them exponentially and explode codegen."""
    k = len(C)
    dots = [F.expr(f"{d} AS __d{c}")
            for c, d in enumerate(_plane_dots(vec_col, C))]
    best = f"greatest({', '.join(f'__d{c}' for c in range(k))})"
    cell = str(k - 1)
    for c in range(k - 2, -1, -1):  # first matching centroid wins ties
        cell = f"CASE WHEN __d{c} = {best} THEN {c} ELSE {cell} END"
    return (df.select("*", *dots)
            .withColumn("cell", F.expr(f"CAST({cell} AS INT)"))
            .drop(*[f"__d{c}" for c in range(k)]))


def ivf_cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                    n_centroids: int = 16, nprobe: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF approximate top-k: corpus rows are assigned to their
    nearest coarse centroid (one JVM pass); each query probes its
    `nprobe` nearest centroid lists only.  Scale path: the corpus is
    partitioned once by centroid id (a small int key) and each query
    touches ~nprobe/n_centroids of the data."""
    C = ivf_centroids(corpus, n_centroids, vec_col=vec_col)
    c_assigned = _with_centroid_cell(
        _prenormed(corpus, id_col, vec_col, "neighbor_id", "cvec", "__cn"),
        "cvec", C)

    import numpy as np
    qrows = queries.select(id_col, vec_col).collect()
    probe = []
    for r in qrows:
        v = np.array(r[vec_col], dtype=np.float64)
        v /= max(np.linalg.norm(v), 1e-12)
        cells = np.argsort(-(C @ v))[:nprobe]
        for cell in cells:
            probe.append((r[id_col], int(cell), list(map(float, r[vec_col]))))
    spark = corpus.sparkSession
    q = spark.createDataFrame(
        probe, f"query_id long, cell int, qvec array<double>")
    q = q.selectExpr("*", f"{_norm('qvec')} AS __qn")
    return _cosine_rank(c_assigned.join(F.broadcast(q), "cell").filter(
        "neighbor_id != query_id"), k)


def _banded_sigs(df: DataFrame, id_alias: str, dim: int, bits: int,
                 bands: int, id_col: str, vec_col: str) -> DataFrame:
    """(id, band, sig): one row per band; sig bit b is
    <v, plane_b> > 0 over that band's own hyperplane family.
    OR-construction: two vectors are candidates if ANY band matches —
    recall 1-(1-p^bits)^bands for per-bit agreement p, while a random
    pair only collides in ~bands/2^bits of the table."""
    structs = []
    for t in range(bands):
        sig = " + ".join(
            ["0"] + [f"CASE WHEN {d} > 0 THEN {1 << b} ELSE 0 END"
                     for b, d in enumerate(_plane_dots(
                         vec_col, _hyperplanes(dim, bits, seed=t)))])
        structs.append(f"struct({t} AS band, {sig} AS sig)")
    return (df.selectExpr(f"`{id_col}` AS {id_alias}",
                          f"explode(array({', '.join(structs)})) AS bs")
            .select(id_alias, "bs.band", "bs.sig"))


def _lsh_candidates(corpus: DataFrame, queries: DataFrame, dim: int,
                    bits: int, tables: int, id_col: str,
                    vec_col: str) -> DataFrame:
    """Distinct (query_id, neighbor_id) pairs sharing a signature in
    ANY of `tables` hyperplane families.  Only ids travel the band
    join (the query side broadcasts), and a pair colliding in m bands
    is deduped BEFORE scoring — the r1 shape scored it m times."""
    c = _banded_sigs(corpus, "neighbor_id", dim, bits, tables, id_col,
                     vec_col)
    q = _banded_sigs(queries, "query_id", dim, bits, tables, id_col,
                     vec_col)
    return (c.join(F.broadcast(q), ["band", "sig"])
            .filter("neighbor_id != query_id")
            .select("query_id", "neighbor_id").distinct())


def embedding_near_dups(df: DataFrame, threshold: float = 0.25,
                        bits: int = 8, bands: int = 16, dim: int = 64,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        center_lsh: bool = False,
                        exact: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b) with
    cos(a, b) >= threshold and a < b.  The DEFAULT is the 10^12-scale
    path: banded random-hyperplane LSH generates candidates from
    matching (band, signature) buckets, pairs are scored once,
    near-threshold recall is tuned via (bits, bands).  The quadratic
    all-pairs crossJoin (exact — ONLY for bounded corpora / recall
    measurement) must be requested EXPLICITLY with ``exact=True``; a
    caller can no longer get a 10^12-row cartesian product by
    omission.  For a true near-dup threshold (>= 0.9) the default
    bits=8/bands=16 measures recall ~1.0 while pruning ~94% of
    random pairs; for loose thresholds LSH fundamentally cannot
    prune much — see tests/test_similarity.py.

    `center_lsh=True` buckets on per-vector MEAN-CENTERED copies while
    still scoring true cosine on the raw vectors.  Required for
    all-positive embedding families (e.g. block-mean image features),
    where every raw pair has cosine ~1 and hyperplane signs carry no
    information: without centering the LSH generated 99% of all pairs
    as candidates (measured, 2k image corpus); with it, collisions
    track the discriminative spatial structure.  Identical vectors
    center identically, so exact-dup recall is unaffected."""
    df = _widen(df)  # a small single-file corpus scans as ONE task
    if not exact and bits <= 0:
        raise ValueError(
            "bits must be > 0 for the LSH path; pass exact=True to "
            "explicitly request the quadratic all-pairs comparison")
    if not exact:
        # candidates first, vectors later: only (id_a, id_b, band,
        # sig) travels through the band self-join, and a pair
        # colliding in many bands is scored ONCE — at a loose
        # threshold collision multiplicity approaches `bands`, which
        # made score-before-dedup ~bands x more expensive.  The
        # vector fetch is two id-keyed joins proportional to the
        # DISTINCT candidate set.
        lsh_src, lsh_col = df, vec_col
        if center_lsh:
            # hoist the per-vector mean into its own projected column
            # BEFORE the transform lambda (HOF bodies re-evaluate
            # referenced expressions per element)
            i, v = f"`{id_col}`", f"`{vec_col}`"
            mu = (f"aggregate({v}, 0D, (acc, x) -> acc + cast(x as double))"
                  f" / size({v})")
            lsh_src = (df.selectExpr(i, v, f"{mu} AS __mu").selectExpr(
                i, v, f"transform({v}, x -> cast(x as double) - __mu) "
                "AS __cvec"))
            lsh_col = "__cvec"
        a = _banded_sigs(lsh_src, "id_a", dim, bits, bands, id_col, lsh_col)
        b = _banded_sigs(lsh_src, "id_b", dim, bits, bands, id_col, lsh_col)
        cand = (a.join(b, ["band", "sig"])
                .filter("id_a < id_b")
                .select("id_a", "id_b").distinct())
        joined = (
            cand.join(_prenormed(df, id_col, vec_col,
                                 "id_a", "va", "__na"), "id_a")
            .join(_prenormed(df, id_col, vec_col,
                             "id_b", "vb", "__nb"), "id_b")
        )
        scored = _score_pairs(joined, "va", "vb", "__na", "__nb")
        return (scored.filter(F.col("cos") >= threshold)
                .select("id_a", "id_b", "cos"))
    a = _prenormed(df, id_col, vec_col, "id_a", "va", "__na")
    b = _prenormed(df, id_col, vec_col, "id_b", "vb", "__nb")
    joined = a.crossJoin(b).filter("id_a < id_b")
    scored = _score_pairs(joined, "va", "vb", "__na", "__nb")
    return (scored.filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos"))


def lsh_cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                    bits: int = 3, tables: int = 8, dim: int = 64,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k with multi-table LSH: candidates are corpus
    rows sharing the query's signature in ANY of `tables` independent
    hyperplane families (the r1 single-table variant had recall ~0.3
    on the random fixture).  Each candidate pair is scored once
    (groupBy dedup on the scalar cos, not the vectors).  Scale knobs:
    candidates/query ~ |corpus| * tables / 2^bits; raise bits with
    corpus size, raise tables for recall."""
    wc = _widen(corpus)
    cand = _lsh_candidates(wc, queries, dim, bits, tables, id_col, vec_col)
    cv = _prenormed(wc, id_col, vec_col, "neighbor_id", "cvec", "__cn")
    qv = _prenormed(queries, id_col, vec_col, "query_id", "qvec", "__qn")
    return _cosine_rank(
        cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id"), k)


def mips_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact maximum-inner-product top-k (MIPS): retrieval where the
    vector NORM carries signal (learned relevance / recommendation /
    distillation-score embeddings), so cosine — which erases it — is
    the wrong similarity.  Brute-force baseline: broadcast the small
    query set, one codegen zip_with/aggregate dot product per pair,
    two-phase rank.  `ip` is rounded to 6 decimals BEFORE ranking
    with an id tiebreak (the _score_pairs cross-engine discipline).

    Scale path at 10^9+ vectors: mips_topk_lsh — the norm-augmentation
    reduction lets the unchanged hyperplane-LSH cosine index answer
    MIPS."""
    q = _prenormed(queries, id_col, vec_col, "query_id", "qvec", "__qn")
    c = _prenormed(_widen(corpus), id_col, vec_col,
                   "neighbor_id", "cvec", "__cn")
    return _ip_rank(c.crossJoin(F.broadcast(q)).filter(
        "neighbor_id != query_id"), k)


def _ip_rank(joined: DataFrame, k: int) -> DataFrame:
    """Each query's top k (qvec, cvec) pairs by inner product."""
    scored = joined.withColumn("ip", F.expr(
        f"round({_dot('qvec', 'cvec')}, 6)"))
    return (rank_topk(scored, "query_id", k, F.desc("ip"),
                      F.asc("neighbor_id"))
            .select("query_id", "neighbor_id", "ip", "rk"))


def mips_topk_lsh(corpus: DataFrame, queries: DataFrame, k: int = 5,
                  bits: int = 3, tables: int = 8, dim: int = 64,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate MIPS via the public norm-augmentation reduction
    (Bachrach et al., RecSys 2014; Neyshabur & Srebro, ICML 2015):
    with M = max corpus L2 norm, append sqrt(M^2 - |x|^2) to every
    corpus vector and 0.0 to every query.  Augmented corpus vectors
    all have norm M, so argmax inner product == argmax augmented
    cosine — the UNCHANGED hyperplane-LSH machinery indexes MIPS.
    Candidates come from the augmented index; final scores are the
    TRUE inner product of the raw vectors (rounded 6, id tiebreak),
    so a returned row is always exactly scored — only recall is
    approximate.

    Scale shape: M rides a broadcast one-row aggregate (lazy, no
    driver action); augmentation is one concat per vector at scan
    time; the band join carries ids only (lsh_cosine_topk's shape)."""
    wc = _widen(corpus)
    v, sq = _dvec(vec_col), _sumsq(_dvec(vec_col))
    m_row = wc.selectExpr(f"{sq} AS __sq").agg(
        F.expr("max(sqrt(__sq)) AS __m"))
    aug_c = wc.crossJoin(F.broadcast(m_row)).selectExpr(
        f"`{id_col}`",
        f"concat({v}, array(sqrt(greatest(0D, __m * __m - {sq})))) AS __aug")
    aug_q = queries.selectExpr(f"`{id_col}`",
                               f"concat({v}, array(0D)) AS __aug")
    cand = _lsh_candidates(aug_c, aug_q, dim + 1, bits, tables, id_col,
                           "__aug")
    cv = _prenormed(wc, id_col, vec_col, "neighbor_id", "cvec", "__cn")
    qv = _prenormed(queries, id_col, vec_col, "query_id", "qvec", "__qn")
    return _ip_rank(
        cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id"), k)


def semantic_dedup(df: DataFrame, cluster_col: str,
                   threshold: float = 0.3, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style within-cluster semantic prune (Abbas et al.
    2023, 'SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication'): given a CLUSTERED embedding table, drop
    every row whose cosine to an earlier row (lower id) of the same
    cluster reaches `threshold`, keeping the first representative of
    each semantic-duplicate set.  The clustering is an input — in
    SemDeDup it comes from k-means over the same embeddings
    (`ivf_centroids` + `_with_centroid_cell` produce exactly that
    when the corpus has none); pre-labeled corpora pass their own
    column.  Cross-cluster duplicates are invisible by design — the
    recall/cost trade SemDeDup makes to avoid the all-pairs product.

    Remove-if-similar-to-any-EARLIER-row (not only to earlier KEPT
    rows) is the standard one-pass simplification: it is a pure
    self-join, identical across engines, and removes a superset of
    the iterative greedy variant within each cluster.

    Returns (id, cluster, dup_of, keep) — dup_of is the smallest
    earlier similar id, NULL for kept rows.

    Scale: ONE shuffle on the cluster key; pairwise work is bounded
    by the largest cluster (k-means with k ~ sqrt(N) keeps clusters
    ~sqrt(N)).  Vectors ride the cluster join here because every row
    of a cluster participates; for clusters too wide for that, switch
    to ids-only pairing + fetch-vectors-by-id (the
    embedding_near_dups candidate pattern)."""
    base = _prenormed(_widen(df), id_col, vec_col, "id", "v", "nv",
                      f"`{cluster_col}` AS cluster")
    a = base.selectExpr("id AS id_a", "cluster", "v AS va", "nv AS __na")
    b = base.selectExpr("id AS id_b", "cluster", "v AS vb", "nv AS __nb")
    pairs = a.join(b, "cluster").filter("id_a < id_b")
    scored = _score_pairs(pairs, "va", "vb", "__na", "__nb")
    dup = (scored.filter(F.col("cos") >= threshold)
           .groupBy("id_b").agg(F.min("id_a").alias("dup_of")))
    return (base.select("id", "cluster")
            .join(dup.withColumnRenamed("id_b", "id"), "id", "left")
            .select("id", "cluster", "dup_of",
                    F.col("dup_of").isNull().alias("keep")))


def quantize_int8_report(df: DataFrame, vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column —
    the standard 4x storage compression before an ANN index is built
    (float32 -> int8 + one float scale per vector) — reported as the
    per-vector acceptance evidence instead of the payload: the scale,
    and two guarantees checked as booleans (every element's
    reconstruction error <= scale/2; cosine(original, dequantized)
    >= 0.999, the bound under which ANN recall is unaffected).

    Everything is a JVM higher-order expression over the array —
    zero Python, zero shuffle; at 10^12 vectors this runs inside the
    scan's codegen stage.  Booleans (not raw float errors) keep the
    cross-engine check robust to last-ulp accumulation differences."""
    v = _dvec(vec_col)
    mabs = f"array_max(transform({v}, a -> abs(a)))"
    scale = f"({mabs} / 127D)"
    # zero vectors: scale 0, dequantized = original = all zeros
    recon = (f"CASE WHEN {mabs} = 0 THEN {v} ELSE "
             f"transform({v}, e -> round(e / {scale}) * {scale}) END")
    err_max = f"array_max(zip_with({v}, {recon}, (e, r) -> abs(e - r)))"
    cos = (f"CASE WHEN {mabs} = 0 THEN 1D ELSE "
           f"{_dot(v, recon)} / ({_norm(v)} * {_norm(recon)}) END")
    return df.selectExpr(
        f"`{id_col}`", f"round({scale}, 6) AS scale",
        f"{err_max} <= {scale} / 2 + 1e-9D AS err_ok",
        f"{cos} >= 0.999D AS cos_ok")


def phash_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
               max_hamming: int = 8, id_col: str = "image_id",
               phash_col: str = "phash") -> DataFrame:
    """Query-by-image retrieval in hamming space: for every query
    image, the k nearest corpus images by phash hamming distance,
    restricted to distance <= `max_hamming` (ties broken by corpus
    id).  Within the radius the answer is EXACT and complete —
    pigeonhole banding (phash_band_table, max_hamming+1 disjoint
    slices) has guaranteed recall, unlike MinHash/hyperplane LSH —
    and a query with fewer than k in-radius neighbours returns the
    true shorter list, never a padded guess.

    Scale shape: the QUERY side is the small one (dedup forensics,
    eval probes, takedown scans), so its band table broadcasts and
    the corpus is scanned map-side — zero corpus shuffle; the only
    exchange is the per-query row_number window over candidates
    (queries x in-radius matches).  A viral query with 10^6 matches
    makes that window a hot key — swap the final window for
    operators/topk.py::topk_per_group (two-phase, map-side k-heaps)
    when match cardinality is unbounded."""
    from .dedup import phash_band_table

    qb = phash_band_table(queries, max_hamming, id_col, phash_col)
    cb = phash_band_table(corpus, max_hamming, id_col, phash_col)
    dist = F.bit_count(F.col("a.__ph").bitwiseXOR(F.col("b.__ph")))
    cand = (cb.alias("a")
            .join(F.broadcast(qb.alias("b")),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.bv") == F.col("b.bv")))
            .filter(dist <= max_hamming)
            .select(F.col("b.__id").alias("query_id"),
                    F.col("a.__id").alias("corpus_id"),
                    dist.cast("int").alias("ham"))
            .dropDuplicates(["query_id", "corpus_id"]))
    return rank_topk(cand, "query_id", k, "ham", "corpus_id")


def hard_negatives(corpus: DataFrame, queries: DataFrame,
                   label_col: str = "label", k: int = 5,
                   dup_ceiling: float = 0.99,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Hard-negative mining for contrastive training (the CLIP /
    SigLIP data trick): per anchor, the k most cosine-similar vectors
    that (a) carry a DIFFERENT label and (b) sit BELOW a near-dup
    ceiling — maximally confusable true negatives.  Excluding
    cos >= dup_ceiling keeps mislabeled twins / exact re-encodes of
    the anchor out of the negative set, where they would poison the
    contrastive loss with false negatives.

    Scale shape: same as cosine_topk — the anchor set broadcasts
    (hard-negative mining runs per training batch / per probe set,
    not all-pairs), the corpus side streams map-side, and the only
    shuffle is the per-anchor top-k window on (anchor, cos) scalar
    rows.  For corpus-wide mining swap the candidate generator for
    lsh_cosine_topk's banded tables (hard_negatives_lsh); the
    filter/rank tail is shared."""
    q = _prenormed(queries, id_col, vec_col, "query_id", "qvec", "__qn",
                   f"`{label_col}` AS __ql")
    c = _prenormed(_widen(corpus), id_col, vec_col, "neighbor_id", "cvec",
                   "__cn", f"`{label_col}` AS __cl")
    return _hard_negative_rank(c.crossJoin(F.broadcast(q)).filter(
        "neighbor_id != query_id"), k, dup_ceiling)


def _hard_negative_rank(joined: DataFrame, k: int,
                        dup_ceiling: float) -> DataFrame:
    """Different label, cos below the near-dup ceiling, per-anchor
    top k — over (query, neighbor) pairs from either candidate
    source."""
    scored = _score_pairs(joined.filter("__cl != __ql"),
                          "qvec", "cvec", "__qn", "__cn")
    return (rank_topk(scored.filter(F.col("cos") < dup_ceiling),
                      "query_id", k, F.desc("cos"), F.asc("neighbor_id"))
            .selectExpr("query_id", "__ql AS anchor_label", "neighbor_id",
                        "__cl AS negative_label", "cos", "rk"))


def hard_negatives_lsh(corpus: DataFrame, queries: DataFrame,
                       label_col: str = "label", k: int = 5,
                       dup_ceiling: float = 0.99, bits: int = 3,
                       tables: int = 8, dim: int = 64,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Scale path for hard-negative mining: candidates from the same
    multi-table hyperplane-LSH banding as lsh_cosine_topk (ids-only
    band join, pair-dedup before scoring), then the hard_negatives
    filter chain — different label, cosine below the near-dup
    ceiling, per-anchor top-k.  Candidates/query ~ |corpus| * tables
    / 2^bits, independent of the anchor count — the regime where the
    exact miner's broadcast corpus scan stops being affordable."""
    wc = _widen(corpus)
    cand = _lsh_candidates(wc, queries, dim, bits, tables, id_col, vec_col)
    qv = _prenormed(queries, id_col, vec_col, "query_id", "qvec", "__qn",
                    f"`{label_col}` AS __ql")
    cv = _prenormed(wc, id_col, vec_col, "neighbor_id", "cvec", "__cn",
                    f"`{label_col}` AS __cl")
    return _hard_negative_rank(
        cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id"),
        k, dup_ceiling)
