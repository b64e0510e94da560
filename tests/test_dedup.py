"""Dedup-operator unit tests (SURVEY.md §2 O-23 + dedup family):
hand-constructed duplicate populations through the JVM-side MinHash /
SimHash / Jaccard kernels."""

from __future__ import annotations

import itertools
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_quality_check_spark.operators import dedup

BASE = ("a photo of the old stone bridge over the quiet river at "
        "sunset with a small boat passing underneath the arches")


def _uf_components(pairs) -> dict:
    """Pure-Python union-find reference: {node: min reachable node}
    over every endpoint of `pairs` (self-loops included)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _band_keys_py(h: int, max_hamming: int, mode: str) -> set:
    """Pure-Python reference of phash_band_table's keys for one signed
    int64 hash: {(band, bv)} for mode "one" (one-level), "two_level"
    or "hybrid"."""
    u = h & ((1 << 64) - 1)
    nb = max_hamming + 1
    w = 64 // nb
    keys = set()
    for b in range(nb):
        lo = b * w
        width = w if b < nb - 1 else 64 - lo
        bv = (u >> lo) & ((1 << width) - 1)
        pc = bin(bv).count("1")
        if mode == "one" or (mode == "hybrid" and 1 < pc < width - 1):
            keys.add((b, bv))
            continue
        off = nb if mode == "hybrid" else 0
        for s in range(nb):
            pos = [p for p in range(64)
                   if not lo <= p < lo + width and p % nb == s]
            sv = sum(((u >> p) & 1) << j for j, p in enumerate(pos))
            keys.add((off + b * nb + s, bv << 22 | sv))
    return keys


def _spark_band_keys(spark, hashes, max_hamming: int, mode: str) -> dict:
    """{id: sorted [(band, bv)]} from phash_band_table over `hashes`
    (id = list index)."""
    df = spark.createDataFrame(list(enumerate(hashes)),
                               "image_id long, phash long")
    got: dict = {}
    for r in dedup.phash_band_table(
            df, max_hamming, two_level=mode == "two_level",
            hybrid=mode == "hybrid").collect():
        assert r["__ph"] == hashes[r["__id"]]
        got.setdefault(r["__id"], []).append((r["band"], r["bv"]))
    return {i: sorted(k) for i, k in got.items()}


def _signed64(u: int) -> int:
    u &= (1 << 64) - 1
    return u - (1 << 64) if u >= (1 << 63) else u


def _star(df, **kw) -> set:
    return {(r.node, r.component)
            for r in dedup.connected_components_star(df, **kw).collect()}


def _docs(spark):
    rows = [
        (1, BASE),
        (7, BASE),                       # exact dup of 1
        (3, BASE.replace("quiet", "calm")),  # near dup of 1
        (4, "completely different caption about a red market stall "
            "with coffee and winter flowers in the city street"),
        (5, "der alte mann und die junge frau mit dem hund auf der "
            "brücke im sommer bei schönem licht am abend"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dups_cluster_with_min_keeper(spark):
    d = _docs(spark)
    clusters = dedup.minhash_lsh_dups(d, "text", "doc_id").collect()
    assert clusters, "exact duplicates must share every band"
    # every cluster containing doc 7 must have keeper 1 (first wins)
    for c in clusters:
        assert c["n"] >= 2
        assert c["keeper_id"] != 7, "min-id keeper, never the dup"


def test_exact_dups_share_all_bands(spark):
    d = _docs(spark).filter(F.col("doc_id").isin(1, 7))
    clusters = dedup.minhash_lsh_dups(d, "text", "doc_id").collect()
    # identical text => identical signature => all 4 bands collide
    assert len(clusters) == 4
    assert all(c["n"] == 2 and c["keeper_id"] == 1 for c in clusters)


def test_near_dup_shares_some_band(spark):
    d = _docs(spark).filter(F.col("doc_id").isin(1, 3))
    clusters = dedup.minhash_lsh_dups(d, "text", "doc_id").collect()
    assert len(clusters) >= 1, "one-word edit should collide in >=1 band"


def test_distinct_docs_do_not_cluster(spark):
    d = _docs(spark).filter(F.col("doc_id").isin(1, 4, 5))
    clusters = dedup.minhash_lsh_dups(d, "text", "doc_id").collect()
    assert clusters == []


def test_signatures_partitioning_invariant(spark):
    """OPH signatures are per-row expressions: repartitioning must not
    change them (guards the _widen repartition in the LSH path)."""
    d = _docs(spark)
    a = {r["doc_id"]: r["sig"] for r in
         dedup.minhash_signatures(d, "text", "doc_id").collect()}
    b = {r["doc_id"]: r["sig"] for r in
         dedup.minhash_signatures(d.repartition(7), "text", "doc_id").collect()}
    assert a == b
    assert a[1] == a[7]          # identical text, identical signature
    assert a[1] != a[4]


def test_simhash_hamming_separation(spark):
    """Near-dups land within a few bits; unrelated texts far apart."""
    d = _docs(spark)
    sh = {r["doc_id"]: r["simhash"] for r in
          dedup.simhash64(d, "text", "doc_id").collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(sh[1], sh[7]) == 0
    assert ham(sh[1], sh[3]) <= 8
    assert ham(sh[1], sh[4]) >= 16
    assert ham(sh[1], sh[5]) >= 16


def test_simhash_matches_python_twin(spark):
    """simhash64 equals the pure-Python twin that writes the
    dedup_simhash fixture, value for value, including zero-token docs
    (null, empty, blank) and hashes with bit 63 set."""
    from data_quality_check_spark.oracle_fixtures import _simhash64_py

    rng = random.Random(7)
    words = BASE.split() + ["der", "alte", "mann", "brücke", "café",
                            "MIXED", "Case", "x"]
    texts = [BASE, "a b", "", "   ", None, " lead  and trail ", "x",
             "x x y", "a b a b"]
    texts += [" ".join(rng.choice(words) for _ in range(rng.randint(1, 30)))
              for _ in range(60)]
    d = spark.createDataFrame(list(enumerate(texts)),
                              "doc_id long, text string")
    got = {r.doc_id: r.simhash
           for r in dedup.simhash64(d, "text", "doc_id").collect()}
    want = {i: _simhash64_py(t) for i, t in enumerate(texts)}
    assert got == want
    assert any(v < 0 for v in got.values()), "no hash with bit 63 set"


def test_ngram_jaccard_pair_detection(spark):
    d = _docs(spark)
    pairs = dedup.ngram_jaccard_pairs(
        d, "text", "doc_id", threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(1, 7)] == 1.0                 # exact dup
    assert (1, 3) in got and got[(1, 3)] > 0.5  # near dup
    assert (1, 4) not in got and (1, 5) not in got


def test_connected_components_basic(spark):
    """Two components + a long chain (label 20 travels diameter-many
    hops)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11),
         (20, 21), (21, 22), (22, 23), (23, 24), (24, 25)],
        "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in dedup.connected_components_star(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20, 24: 20, 25: 20}


def test_connected_components_on_near_dup_pairs(spark):
    """End-to-end: minhash candidate pairs -> clusters; the exact dup
    and near dup land in doc 1's component, others stay apart."""
    d = _docs(spark)
    pairs = dedup.jaccard_pairs_exact(d, "text", "doc_id", threshold=0.3)
    got = {r["node"]: r["component"]
           for r in dedup.connected_components_star(pairs).collect()}
    assert got[1] == got[7] == got[3] == 1
    assert 4 not in got and 5 not in got  # no qualifying pair


def test_text_pipeline_matches_exact(spark):
    """The composed MinHash->Jaccard->components pipeline must agree
    with the brute-force ground truth (exact all-pairs Jaccard ->
    union-find components) on the fixture docs — LSH candidates may
    only ADD misses, and here there are none."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {r["id"]: (r["keeper_id"], r["is_dup"])
           for r in dedup.text_near_dup_keepers(
               d, "text", "doc_id", threshold=0.5).collect()}

    exact_pairs = dedup.jaccard_pairs_exact(d, "text", "doc_id",
                                            threshold=0.5)
    comp = _uf_components((r["id_a"], r["id_b"])
                          for r in exact_pairs.collect())
    ids = [r["doc_id"] for r in d.select("doc_id").collect()]
    want = {i: (comp.get(i, i), comp.get(i, i) != i) for i in ids}
    assert got == want
    assert any(v[1] for v in got.values()), "fixture should contain dups"


def test_text_pipeline_keeper_semantics(spark):
    d = _docs(spark)
    got = {r["id"]: (r["keeper_id"], r["is_dup"])
           for r in dedup.text_near_dup_keepers(
               d, "text", "doc_id", threshold=0.5).collect()}
    assert got[1] == (1, False)
    assert got[7] == (1, True)      # exact dup of 1
    assert got[3] == (1, True)      # near dup of 1
    assert got[4] == (4, False) and got[5] == (5, False)


def test_minhash_short_text_densification(spark):
    """Texts with fewer shingle hashes than bins leave empty bins; the
    densified signature must be complete (no sentinel), deterministic,
    and identical for identical short texts."""
    rows = [(1, "ab"), (2, "ab"), (3, "xy"), (4, "a"), (5, "")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: r["sig"] for r in
            dedup.minhash_signatures(d, "text", "doc_id").collect()}
    sentinel = (1 << 63) - 1
    for i, sig in sigs.items():
        assert len(sig) == 16
        assert sentinel not in sig, f"doc {i} kept an undensified bin"
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_star_components_high_diameter(spark):
    """Large-star/small-star resolves a 100-edge PATH (diameter 100)
    in O(log n) rounds, and fails HONESTLY when max_iter is too small
    instead of returning partially-propagated labels."""
    import pytest

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "id_a long, id_b long")
    # local_threshold=0 forces the DISTRIBUTED rounds (the default
    # would hand a 100-edge graph straight to the local finish)
    assert _star(path, local_threshold=0) == {(i, 0) for i in range(101)}

    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components_star(path, max_iter=1,
                                        local_threshold=0).collect()


def test_star_components_matches_minlabel(spark):
    """Star components, forced-distributed and default, equal the
    union-find reference's min-label components on a random graph."""
    import random

    random.seed(7)
    pairs = [(random.randrange(200), random.randrange(200))
             for _ in range(150)] + [(5, 5)]  # incl. self-loop node
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    want = set(_uf_components(pairs).items())
    # local_threshold=0 forces the distributed rounds
    assert _star(df, local_threshold=0) == want
    assert _star(df) == want


def test_local_uf_finish_matches_distributed(spark):
    """The single-task union-find local finish (default path for
    small survivor graphs) must agree with the forced-distributed
    rounds and the union-find reference on every graph shape:
    random, path (high diameter), cliques, self-loops, and
    string-typed ids."""
    import random

    random.seed(13)
    pairs = ([(random.randrange(300), random.randrange(300))
              for _ in range(220)]
             + [(i, i + 1) for i in range(500, 560)]   # long path
             + [(900, 900)])                            # self-loop
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    want = set(_uf_components(pairs).items())
    assert _star(df, local_threshold=0) == want
    assert _star(df) == want

    # string ids: union-by-min must match Spark's UTF8 min ordering
    sp = spark.createDataFrame(
        [("img_b", "img_a"), ("img_c", "img_b"), ("img_z", "img_z")],
        "id_a string, id_b string")
    assert _star(sp) == {("img_a", "img_a"), ("img_b", "img_a"),
                         ("img_c", "img_a"), ("img_z", "img_z")}


def test_local_uf_mid_loop_handoff(spark):
    """A threshold between the initial and contracted edge counts
    exercises the MID-LOOP handoff: star rounds shrink the graph,
    then the local finish takes over — output unchanged."""
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(80)], "id_a long, id_b long")
    # 80 edges; threshold 40 skips the pre-loop handoff (contraction
    # leaves ~half the labels) but triggers after rounds shrink it
    assert _star(path, local_threshold=40) == {(i, 0) for i in range(81)}


def test_phash_hamming_equals_brute_force(spark):
    """Pigeonhole banding has GUARANTEED recall for hamming <=
    bands-1; with exact re-scoring the result must EQUAL the
    all-pairs answer (including pairs differing only in the top
    slice, which exercises shiftrightunsigned on negative phash)."""
    import itertools
    vals = [
        ("a", 0),
        ("b", 0b111),                 # ham(a,b)=3 -> pair
        ("c", 0b1111),                # ham(a,c)=4 -> no pair
        ("d", -1),                    # all 64 bits set
        ("e", (1 << 63) - 1),         # ham(d,e)=1, differs in bit 63
        ("f", (1 << 48) | (1 << 20)), # cross-slice bits
        ("g", (1 << 48) | (1 << 20) | 0b11),  # ham(f,g)=2
        ("h", None),                  # null phash must be ignored
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in vals], "image_id string, phash long")
    got = {(r.id_a, r.id_b, r.hamming)
           for r in dedup.phash_near_dups(df, max_hamming=3).collect()}
    want = set()
    for (ia, va), (ib, vb) in itertools.combinations(
            [(i, v) for i, v in vals if v is not None], 2):
        ham = bin((va ^ vb) & ((1 << 64) - 1)).count("1")
        if ham <= 3:
            want.add(tuple(sorted((ia, ib))) + (ham,))
    assert got == want
    assert ("a", "b", 3) in got and ("d", "e", 1) in got


def _band_test_hashes() -> list:
    """Edge values, single-bit hashes and their complements (slices
    one bit off all-zero / all-one), hashes with an all-zero or
    all-one run next to random bits, seeded random hashes, and for a
    third of them a partner at 1..8 flipped bits (recall check)."""
    rng = random.Random(20240)
    base = [0, -1, 1, (1 << 63) - 1, -(1 << 63), -(1 << 63) + 1]
    base += [_signed64(1 << i) for i in range(64)]
    base += [_signed64(~(1 << i)) for i in range(64)]
    for _ in range(40):
        u = rng.getrandbits(64)
        lo = rng.choice([0, 7, 13, 21, 32])
        hi = lo + rng.choice([7, 13, 16])
        fill = rng.choice([0, (1 << 64) - 1])
        for p in range(lo, min(hi, 64)):
            u = u & ~(1 << p) | (fill & (1 << p))
        base.append(_signed64(u))
    base += [_signed64(rng.getrandbits(64)) for _ in range(60)]
    near = []
    for h in base[::3]:
        flips = rng.sample(range(64), rng.randint(1, 8))
        near.append(_signed64(h ^ sum(1 << p for p in flips)))
    return base + near


@pytest.mark.parametrize("mode", ["one", "two_level", "hybrid"])
@pytest.mark.parametrize("max_hamming", [1, 2, 3, 4, 8])
def test_phash_band_keys_match_reference(spark, max_hamming, mode):
    """phash_band_table emits exactly the pure-Python reference keys
    per id, and every pair within max_hamming shares a key (the
    pigeonhole recall guarantee)."""
    hashes = _band_test_hashes()
    got = _spark_band_keys(spark, hashes, max_hamming, mode)
    want = {i: sorted(_band_keys_py(h, max_hamming, mode))
            for i, h in enumerate(hashes)}
    assert got == want
    nb = max_hamming + 1
    if mode == "hybrid":
        bands = {b for keys in got.values() for b, _ in keys}
        assert min(bands) < nb <= max(bands), "hybrid took one branch"
    keysets = {i: set(k) for i, k in got.items()}
    close = 0
    for i, j in itertools.combinations(range(len(hashes)), 2):
        if bin((hashes[i] ^ hashes[j]) & ((1 << 64) - 1)).count("1") \
                <= max_hamming:
            close += 1
            assert keysets[i] & keysets[j], (hashes[i], hashes[j])
    assert close >= 10


@settings(max_examples=12, deadline=None, derandomize=True)
@given(st.lists(st.integers(-(1 << 63), (1 << 63) - 1), min_size=1,
                max_size=40),
       st.sampled_from([1, 2, 3, 4, 8]),
       st.sampled_from(["one", "two_level", "hybrid"]))
def test_phash_band_keys_hypothesis(spark, hashes, max_hamming, mode):
    got = _spark_band_keys(spark, hashes, max_hamming, mode)
    assert got == {i: sorted(_band_keys_py(h, max_hamming, mode))
                   for i, h in enumerate(hashes)}


@pytest.mark.parametrize(
    "build", ["band_one", "band_two_level", "band_hybrid", "simhash64"])
def test_driver_round_trip_budget(spark, py4j_commands, build):
    """Building (not running) the band table and the simhash plan
    stays under 500 py4j commands: generated expressions with hundreds
    of terms go to the JVM as one SQL string, not as thousands of
    Column-DSL calls (built from those, two_level, hybrid and
    simhash64 took 7,784 / 8,152 / 9,689 commands)."""
    band = spark.createDataFrame([(1, 5), (2, -1)],
                                 "image_id long, phash long")
    docs = _docs(spark)
    build_plan = {
        "band_one": lambda: dedup.phash_band_table(band, 3),
        "band_two_level": lambda: dedup.phash_band_table(
            band, 3, two_level=True),
        "band_hybrid": lambda: dedup.phash_band_table(band, 3, hybrid=True),
        "simhash64": lambda: dedup.simhash64(docs, "text", "doc_id"),
    }[build]
    n = py4j_commands(build_plan)
    assert n < 500, n


def test_phash_hamming_fixture_counts(spark):
    """On the deterministic sf0.001 images fixture the banded result
    must equal numpy brute force exactly (count + pair set)."""
    import numpy as np
    from data_quality_check_spark.sources import images as IM

    im = IM.read_images(spark, 0.001).select("image_id", "phash")
    got = dedup.phash_near_dups(im, max_hamming=3)
    pdf = im.toPandas()
    ph = pdf.phash.to_numpy().astype(np.uint64)
    ids = pdf.image_id.to_numpy()
    x = ph[:, None] ^ ph[None, :]
    v = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    v = (v & np.uint64(0x3333333333333333)) + (
        (v >> np.uint64(2)) & np.uint64(0x3333333333333333))
    v = (v + (v >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    ham = (v * np.uint64(0x0101010101010101)) >> np.uint64(56)
    iu = np.triu_indices(len(ph), k=1)
    mask = ham[iu] <= 3
    want = {tuple(sorted((ids[i], ids[j])))
            for i, j in zip(iu[0][mask], iu[1][mask])}
    got_pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert got_pairs == want


def test_image_keepers_match_components(spark):
    """Unbounded image keepers on the sf0.001 fixture must match a
    python union-find over the numpy brute-force hamming<=3 pairs
    (covers singleton/keeper semantics end to end)."""
    import numpy as np
    from data_quality_check_spark.sources import images as IM

    im = IM.read_images(spark, 0.001).select("image_id", "phash")
    got = {(r.id, r.keeper_id, r.is_dup)
           for r in dedup.image_near_dup_keepers(im).collect()}
    pdf = im.toPandas()
    ph = pdf.phash.to_numpy().astype(np.uint64)
    ids = list(pdf.image_id)
    x = ph[:, None] ^ ph[None, :]
    v = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    v = (v & np.uint64(0x3333333333333333)) + (
        (v >> np.uint64(2)) & np.uint64(0x3333333333333333))
    v = (v + (v >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    ham = (v * np.uint64(0x0101010101010101)) >> np.uint64(56)
    iu = np.triu_indices(len(ph), k=1)
    comp = _uf_components(
        (ids[i], ids[j])
        for i, j in zip(iu[0][ham[iu] <= 3], iu[1][ham[iu] <= 3]))
    want = {(i, comp.get(i, i), comp.get(i, i) != i) for i in ids}
    assert got == want


def test_exact_dedup_binary_groups(spark):
    """Byte-identical payloads group; near-identical do not; only
    groups of >= 2 are returned with the min-id keeper."""
    rows = [("a", bytearray(b"\x00\x01\xff")),
            ("b", bytearray(b"\x00\x01\xff")),
            ("c", bytearray(b"\x00\x01\xfe")),
            ("d", bytearray(b"")),
            ("e", bytearray(b""))]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {(r.n, r.keeper_id)
           for r in dedup.exact_dedup_binary(df).collect()}
    assert got == {(2, "a"), (2, "d")}


def test_crossmodal_near_dups_labels(spark):
    """Visual candidates carry the caption-gram jaccard: identical
    captions -> visual+text, rewritten caption -> visual_only, null
    captions compare equal (both ['']); visually-far pairs never
    appear no matter how similar the captions."""
    cap = "a red fox jumps over the icy river at dawn"
    rows = [
        ("a", 0x0F0F, cap),                      # base
        ("b", 0x0F0E, cap),                      # ham 1, same caption
        ("c", 0x0F0B, "totally different words entirely now"),  # ham 2
        ("d", None, cap),                        # null phash: excluded
        ("e", 0x0F0F ^ 0xFF00000000, cap),       # ham >= 6 from all
        ("f", 0x0F0D, None),                     # ham 1+2, null caption
        ("g", 0x0F0C, None),                     # null caption twin
    ]
    df = spark.createDataFrame(
        rows, "image_id string, phash long, caption string")
    got = {(r.id_a, r.id_b): (r.hamming, r.jaccard, r.match_type)
           for r in dedup.crossmodal_near_dups(df).collect()}
    assert got[("a", "b")] == (1, 1.0, "visual+text")
    assert got[("a", "c")][2] == "visual_only"
    assert got[("f", "g")] == (1, 1.0, "visual+text")  # [''] == ['']
    assert not any("d" in p or "e" in p for p in got)
    # jaccard bounded and present on every visual pair
    assert all(0.0 <= j <= 1.0 for (_h, j, _m) in got.values())


def test_incremental_dedup_statuses(spark):
    """All three verdicts on controlled data: corpus dup beats batch
    dup (corpus copy is canonical), within-batch dup points at the
    EARLIER batch doc, fresh text is 'new', and corpus docs
    themselves never appear in the output."""
    base = ("the quick brown fox jumps over the lazy dog while "
            "rain falls softly on the quiet village roofs tonight")
    other = ("completely unrelated sentence about spark shuffle "
             "partitions and adaptive query execution plans")
    corpus = spark.createDataFrame(
        [(1, base), (3, other)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, base),                       # dup of corpus doc 1
         (15, other + " with a word"),     # near-dup of corpus doc 3
         (20, "entirely novel content never seen in any earlier doc "
              "with enough words to form several distinct grams"),
         (25, "entirely novel content never seen in any earlier doc "
              "with enough words to form several distinct grams"),
         ], "doc_id long, text string")
    got = {r.id: (r.status, r.match_id) for r in dedup.incremental_dedup(
        batch, corpus, "text", "doc_id", threshold=0.5).collect()}
    assert got == {
        10: ("dup_of_corpus", 1),
        15: ("dup_of_corpus", 3),
        20: ("new", None),
        25: ("dup_in_batch", 20),
    }


def test_keepers_by_score_policy(spark):
    """Quality-max keeper: cluster keeper is the highest-score member
    (tie -> smallest id); singletons keep themselves; ids absent from
    any pair are singletons even with low scores."""
    scored = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.1), (9, 0.05)],
        "doc_id long, q double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long")  # {1,2,3} one cluster
    got = {r.id: (r.keeper_id, r.is_dup) for r in
           dedup.keepers_by_score(scored, pairs, "doc_id", "q").collect()}
    assert got == {
        1: (2, True), 2: (2, False), 3: (2, True),  # 0.9 tie -> id 2
        4: (4, False), 9: (9, False),
    }


def test_star_contraction_parity(spark):
    """The min-contraction pre-round must not change components: star
    output, forced-distributed and default, equals the union-find
    reference on a graph mixing a dense clique (the case contraction
    accelerates), a long path (the case star rounds exist for), and
    singleton self-loops."""
    edges = []
    # dense clique 0..29
    edges += [(i, j) for i in range(30) for j in range(i + 1, 30)]
    # long path 100..140
    edges += [(i, i + 1) for i in range(100, 140)]
    # two-node component + a self-loop singleton
    edges += [(200, 201), (300, 300)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    want = set(_uf_components(edges).items())
    got_star = _star(df)
    assert _star(df, local_threshold=0) == got_star == want
    comp = dict(got_star)
    assert comp[29] == 0 and comp[139] == 100 and comp[201] == 200
    assert comp[300] == 300


# ---------------------------------------------------------------------------
# directed containment (PPJoin prefix filter)
# ---------------------------------------------------------------------------

def test_containment_catches_embedded_doc(spark):
    """A short doc quoted inside a much larger one: containment 1.0
    but symmetric Jaccard far below 0.5 — the case MinHash-banded
    symmetric dedup structurally misses."""
    small = "the quick brown fox jumps over the lazy dog tonight"
    filler = ("unrelated filler sentence about markets weather trains "
              "gardens rivers mountains pupils lanterns harbors " * 4)
    big = filler + " " + small + " " + filler
    d = spark.createDataFrame(
        [(1, small), (2, big)], "doc_id long, text string")
    out = {(r["src_id"], r["dst_id"]): r["containment"]
           for r in dedup.containment_pairs(
               d, "text", "doc_id", n=3, threshold=0.8).collect()}
    assert out.get((1, 2)) == 1.0          # small fully inside big
    assert (2, 1) not in out               # big not inside small
    # sanity: the symmetric-Jaccard twin does NOT pair them at 0.5
    jac = dedup.jaccard_pairs_exact(
        d, "text", "doc_id", n=3, threshold=0.5).collect()
    assert jac == []


def test_containment_prefix_filter_exact_vs_bruteforce(spark):
    """Prefix-filter recall guarantee: the PPJoin path must emit
    EXACTLY the brute-force directed pairs, including pairs sitting
    exactly on the threshold boundary."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi"),
        (3, "alpha beta gamma delta epsilon zeta other words entirely "
            "here now"),
        (4, "totally disjoint content with nothing shared at all ok"),
        (5, "alpha beta gamma delta epsilon zeta eta theta"),  # = doc 1
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    for thr in (0.5, 0.8, 1.0):
        got = {(r["src_id"], r["dst_id"])
               for r in dedup.containment_pairs(
                   d, "text", "doc_id", n=3, threshold=thr).collect()}
        # brute force in pandas over the same gram definition
        import itertools
        def grams(t):
            toks = [x for x in t.lower().split(" ") if x]
            if len(toks) < 3:
                return {"_".join(toks)}
            return {"_".join(toks[i:i+3]) for i in range(len(toks)-2)}
        g = {i: grams(t) for i, t in rows}
        exp = {(a, b) for a, b in itertools.permutations(g, 2)
               if len(g[a] & g[b]) / len(g[a]) >= thr}
        assert got == exp, thr


# ---------------------------------------------------------------------------
# incremental image dedup (persisted phash band index probe)
# ---------------------------------------------------------------------------

def test_incremental_image_dedup_statuses(spark):
    corpus = spark.createDataFrame(
        [("c1", 0x0F0F0F0F0F0F0F0F), ("c2", 0x00FF00FF00FF00FF)],
        "image_id string, phash long")
    batch = spark.createDataFrame(
        [("b1", 0x0F0F0F0F0F0F0F0F),   # exact corpus dup -> c1
         ("b2", 0x0F0F0F0F0F0F0F0E),   # hamming 1 of c1 -> dup_of_corpus
         ("b3", 0x0F0F0F0F0F0F0F0E),   # == b2 but corpus match WINS (c1)
         ("b4", 0x7777777777777777),   # far from everything -> new
         ("b5", 0x7777777777777775),   # hamming 1 of b4 -> dup_in_batch
         ("b6", None)],                # undecodable -> new
        "image_id string, phash long")
    out = {r["id"]: (r["status"], r["match_id"])
           for r in dedup.incremental_image_dedup(
               batch, corpus, max_hamming=3).collect()}
    assert out["b1"] == ("dup_of_corpus", "c1")
    assert out["b2"] == ("dup_of_corpus", "c1")
    assert out["b3"] == ("dup_of_corpus", "c1")  # corpus beats batch twin
    assert out["b4"] == ("new", None)
    assert out["b5"] == ("dup_in_batch", "b4")
    assert out["b6"] == ("new", None)
    assert len(out) == 6


def test_incremental_image_equals_bruteforce(spark, images_pdf):
    """Index-probe answer == brute-force batch x (corpus + earlier
    batch) hamming scan on the real corpus (recall is structural)."""
    import numpy as np

    pdf = images_pdf[["image_id", "phash"]]
    sfx = pdf["image_id"].str[4:].astype(int)
    bmask = (sfx % 5 == 0).to_numpy()
    im = spark.createDataFrame(pdf, "image_id string, phash long")
    part = (F.substring("image_id", 5, 12).cast("long") % 5)
    out = {r["id"]: (r["status"], r["match_id"])
           for r in dedup.incremental_image_dedup(
               im.filter(part == 0), im.filter(part != 0)).collect()}

    ph = pdf["phash"].to_numpy()
    ids = pdf["image_id"].to_numpy()
    bidx = np.nonzero(bmask)[0]
    cidx = np.nonzero(~bmask)[0]
    assert len(out) == len(bidx)
    for i in bidx:
        ham_c = [ids[j] for j in cidx
                 if bin((int(ph[i]) ^ int(ph[j])) & 0xFFFFFFFFFFFFFFFF
                        ).count("1") <= 3]
        ham_b = [ids[j] for j in bidx
                 if ids[j] < ids[i]
                 and bin((int(ph[i]) ^ int(ph[j])) & 0xFFFFFFFFFFFFFFFF
                         ).count("1") <= 3]
        if ham_c:
            assert out[ids[i]] == ("dup_of_corpus", min(ham_c)), ids[i]
        elif ham_b:
            assert out[ids[i]] == ("dup_in_batch", min(ham_b)), ids[i]
        else:
            assert out[ids[i]] == ("new", None), ids[i]


# ---------------------------------------------------------------------------


def test_visual_decontaminate_semantics(spark):
    ev = spark.createDataFrame(
        [("e1", 0x0F0F0F0F0F0F0F0F), ("e2", 0x00FF00FF00FF00FF)],
        "image_id string, phash long")
    train = spark.createDataFrame(
        [("t1", 0x0F0F0F0F0F0F0F0F),   # exact eval dup -> hamming 0
         ("t2", 0x0F0F0F0F0F0F0F0C),   # hamming 2 of e1
         ("t3", 0x7777777777777777),   # far from both -> clean
         ("t4", None)],                # undecodable -> clean
        "image_id string, phash long")
    out = {r["id"]: (r["contaminated"], r["eval_match"], r["min_hamming"])
           for r in dedup.visual_decontaminate(train, ev).collect()}
    assert out["t1"] == (True, "e1", 0)
    assert out["t2"] == (True, "e1", 2)
    assert out["t3"] == (False, None, -1)
    assert out["t4"] == (False, None, -1)
    assert len(out) == 4  # eval rows never appear in the output


def test_visual_decontaminate_equals_bruteforce(spark, images_pdf):
    """Broadcast-index answer == brute-force train x eval hamming scan
    (pigeonhole recall is structural, not probabilistic)."""
    import numpy as np
    import pandas as pd

    pdf = images_pdf[["image_id", "phash"]]
    sfx = pdf["image_id"].str[4:].astype(int)
    emask = (sfx % 10 == 0).to_numpy()
    im = spark.createDataFrame(pdf, "image_id string, phash long")
    part = F.substring("image_id", 5, 12).cast("long") % 10
    out = {r["id"]: (r["contaminated"], r["eval_match"], r["min_hamming"])
           for r in dedup.visual_decontaminate(
               im.filter(part != 0), im.filter(part == 0)).collect()}

    ph = pdf["phash"].to_numpy()
    ids = pdf["image_id"].to_numpy()
    tidx = np.nonzero(~emask)[0]
    eidx = np.nonzero(emask)[0]
    assert len(out) == len(tidx)
    evh = ph[eidx]
    ev_ok = ~pd.isna(evh)
    for i in tidx:
        tid = ids[i]
        if pd.isna(ph[i]):
            assert out[tid] == (False, None, -1)
            continue
        d = np.array([bin((int(ph[i]) ^ int(h)) & 0xFFFFFFFFFFFFFFFF
                          ).count("1") if ok else 99
                      for h, ok in zip(evh, ev_ok)])
        hit = d <= 3
        if hit.any():
            assert out[tid][0] is True
            assert out[tid][1] == min(ids[eidx][hit])
            assert out[tid][2] == int(d.min())
        else:
            assert out[tid] == (False, None, -1)


# ---------------------------------------------------------------------
# orientation-robust (dihedral) visual decontamination
# ---------------------------------------------------------------------

def test_dihedral_permutation_matches_kernel_exactly():
    """For 8-divisible dims the dihedral variant of the stored ahash64
    IS the hash of the transformed image — bit-for-bit, all 8
    transforms (the operator's core claim)."""
    import numpy as np

    from data_quality_check_spark.kernels import codecs

    ops = [lambda a: a,
           lambda a: np.rot90(a, -1),
           lambda a: np.rot90(a, 2),
           lambda a: np.rot90(a, 1),
           lambda a: a[:, ::-1],
           lambda a: a[::-1, :],
           lambda a: np.transpose(a, (1, 0, 2)),
           lambda a: np.rot90(np.transpose(a, (1, 0, 2)), 2)]
    rng = np.random.default_rng(7)
    for h, w in [(64, 64), (32, 56), (48, 16), (8, 40)]:
        pix = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        base = codecs.ahash64(pix)
        for t, op in enumerate(ops):
            assert codecs.ahash64(op(pix)) == dedup.dihedral_phash_py(
                base, t), (h, w, dedup.DIHEDRAL_MAPS[t][0])


def test_dihedral_sql_matches_python_twin(spark):
    """The generated shared-dialect SQL expressions evaluate (in
    Spark) to exactly dihedral_phash_py for hashes with and without
    the sign bit set."""
    hashes = [0, -1, 1, -9223372036854775808, 9223372036854775807,
              0x0123456789ABCDEF, -81985529216486896]
    df = spark.createDataFrame([(h,) for h in hashes], "phash long")
    exprs = dedup.dihedral_phash_sql("phash")
    out = df.select("phash",
                    *[F.expr(e).alias(f"v{t}")
                      for t, e in enumerate(exprs)]).collect()
    for row in out:
        for t in range(8):
            assert row[f"v{t}"] == dedup.dihedral_phash_py(
                row["phash"], t), (row["phash"], t)


def test_flipped_eval_copy_caught_only_by_dihedral(spark):
    """A training image that is a MIRRORED copy of an eval image:
    plain phash decontamination misses it (hamming(h, hflip(h)) is
    large on asymmetric content), the dihedral gate flags it."""
    eval_hash = 0x0123456789ABCDEF
    flipped = dedup.dihedral_phash_py(eval_hash, 4)  # hflip
    train = spark.createDataFrame(
        [("t1", flipped), ("t2", 0x7777000011112222)],
        "image_id string, phash long")
    ev = spark.createDataFrame([("e1", eval_hash)],
                               "image_id string, phash long")
    plain = {r["id"]: r["contaminated"]
             for r in dedup.visual_decontaminate(train, ev, 2).collect()}
    dihed = {r["id"]: (r["contaminated"], r["eval_match"],
                       r["min_hamming"])
             for r in dedup.visual_decontaminate_dihedral(
                 train, ev, 2).collect()}
    assert plain == {"t1": False, "t2": False}
    assert dihed["t1"] == (True, "e1", 0)
    assert dihed["t2"] == (False, None, -1)


def test_dihedral_near_dups_finds_rotated_copy(spark):
    """A rot90 re-upload inside the corpus: plain hamming banding
    misses it, the dihedral pair miner reports it with the right
    orientation and distance; unrelated hashes stay unpaired."""
    base = 0x0123456789ABCDEF
    rot = dedup.dihedral_phash_py(base, 1)          # rot90 copy
    df = spark.createDataFrame(
        [("a", base), ("b", rot), ("c", 0x00FF00FF11221122)],
        "image_id string, phash long")
    out = {(r["id_a"], r["id_b"]): (r["min_hamming"], r["orientation"])
           for r in dedup.dihedral_near_dups(df, 2).collect()}
    assert ("a", "b") in out
    ham, orient = out[("a", "b")]
    assert ham == 0
    # variant applied to id_a: rot90(a) == b, so orientation 1 —
    # unless an equal-distance symmetric variant wins the tie at a
    # lower index (not the case for this asymmetric hash)
    assert orient == 1
    assert ("a", "c") not in out and ("b", "c") not in out
    # exact dup (identity) still reported, orientation 0
    df2 = spark.createDataFrame([("a", base), ("b", base)],
                                "image_id string, phash long")
    out2 = dedup.dihedral_near_dups(df2, 2).collect()
    assert [(r["id_a"], r["id_b"], r["min_hamming"], r["orientation"])
            for r in out2] == [("a", "b", 0, 0)]


def test_dihedral_collapse_parity_on_dup_heavy_corpus(spark):
    """The collapse_exact=True rewrite (exact-dup collapse before the
    8x variant expansion + inverse-orientation directed codes) must
    emit EXACTLY the rows of the uncollapsed scan — including the
    direction subtlety: a member pair's orientation is defined on the
    SMALLER id's hash, which for a cross-group pair may be either
    group's representative.  Corpus: two exact-dup groups whose reps
    are rot90 of each other (cross-group member pairs exercise both
    directions), a symmetric hash (variant-coincidence tiebreak), a
    near-miss within hamming 2, and an unrelated hash."""
    base = 0x0123456789ABCDEF
    rot = dedup.dihedral_phash_py(base, 1)
    rows = [("a1", base), ("a2", base), ("z9", base),   # group A (+ z9: id ABOVE rot group members)
            ("b1", rot), ("b2", rot),                   # group B
            ("s1", 0x0000000000000000),                 # symmetric (all variants equal)
            ("s2", 0x0000000000000001),                 # hamming 1 off s1
            ("c1", 0x00FF00FF11221122)]                 # unrelated
    df = spark.createDataFrame(rows, "image_id string, phash long")
    def key(rws):
        return sorted((r["id_a"], r["id_b"], r["min_hamming"],
                       r["orientation"]) for r in rws)
    fast = key(dedup.dihedral_near_dups(df, 2).collect())
    slow = key(dedup.dihedral_near_dups(df, 2,
                                        collapse_exact=False).collect())
    assert fast == slow
    # the cross-group pairs must be present with hamming 0
    got = {(a, b): (h, o) for a, b, h, o in fast}
    assert got[("a1", "b1")][0] == 0
    assert got[("b1", "z9")][0] == 0   # smaller id is in group B here


def test_phash_entropy_rule_flags_degenerate_hashes(spark):
    """Flat hash (all zeros) has zero transitions; alternating-column
    hash maxes horizontal transitions; alternating-row hash maxes
    vertical ones — only the flat one is uninformative."""
    from data_quality_check_spark.queries import q_rule_phash_entropy

    rows = [("flat", 0),
            ("cols", 0x5555555555555555),       # alternate columns
            ("rows", 0x00FF00FF00FF00FF)]        # alternate rows
    df = spark.createDataFrame(rows, "image_id string, phash long")
    import data_quality_check_spark.queries as Q
    orig = Q._images
    Q._images = lambda s, d: df
    try:
        out = {r["image_id"]: r for r in
               q_rule_phash_entropy(spark, "ignored").collect()}
    finally:
        Q._images = orig
    assert out["flat"]["popcount"] == 0
    assert out["flat"]["h_transitions"] == 0
    assert out["flat"]["v_transitions"] == 0
    assert not out["flat"]["hash_informative"]
    assert out["cols"]["h_transitions"] == 56   # 7 per row x 8 rows
    assert out["cols"]["v_transitions"] == 0
    assert out["cols"]["hash_informative"]
    assert out["rows"]["v_transitions"] == 56   # 7 per col x 8 cols
    assert out["rows"]["h_transitions"] == 0
    assert out["rows"]["hash_informative"]