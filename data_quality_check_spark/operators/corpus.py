"""Corpus-level training-data operators (round-2 additions).

The ops a large-scale LLM training-data pipeline runs between raw
scrape and tokenizer: benchmark decontamination (n-gram overlap vs an
eval set), deterministic quota / Bernoulli sampling for domain
balancing, and Gopher-style intra-document repetition signals.

Scale notes (100 TB):
- `decontaminate`: the eval-set gram dictionary is tiny by
  construction (eval sets are thousands of docs, not billions) and is
  BROADCAST — the train side is never shuffled; per-doc stats come
  from a map-side semi join + one partial-aggregating groupBy on the
  doc key.
- `quota_sample` / `hash_sample`: keyed md5 makes the sample a pure
  function of the row, so re-runs / resumes pick identical rows with
  no RNG state; hash_sample is shuffle-free, quota_sample pays one
  shuffle on the group key (the same shuffle any per-domain cap needs).
- `repetition_signals`: ZERO shuffle — the top-term frequency inside
  a document is the longest equal-run of the sorted token array,
  computed with a single higher-order `aggregate` per row, entirely
  inside whole-stage-codegen'd JVM expressions.  No explode of every
  token into a shuffle, which is the naive plan's scale killer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import rules as R
from .dedup import _widen


def _word_ngrams(tokens_col: str, n: int):
    """Word n-grams over a PROJECTED token-array column (CLAUDE.md
    perf rule: the lambda body only indexes the column reference, so
    each gram is O(n), not O(len^2))."""
    cnt = F.size(F.col(tokens_col)) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col(tokens_col), i + j) for j in range(n)]))
    # sequence(1, 0) is DESCENDING [1, 0] in Spark — guard short docs
    return F.when(cnt >= 1, grams).otherwise(
        F.array().cast("array<string>"))


def doc_grams(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Per-doc DISTINCT word n-gram arrays (id_col, grams) — the
    shared input artifact of the decontamination family.  Compute
    ONCE (and `.localCheckpoint()` it) when several passes consume
    the same corpus: Catalyst has no cross-consumer common-subtree
    reuse, so each consumer would otherwise re-derive the whole
    interpreted-HOF gram stage (measured: the exact+Bloom comparison
    query re-evaluated it ~13x, 12 s -> ~3 s after sharing)."""
    return (_widen(df)  # 1-task single-file scans serialize the
            # interpreted HOF gram stage on one core (dedup._widen)
            .select(F.col(id_col).alias(id_col),
                    R.tokens(F.col(text_col)).alias("__w"))
            .select(id_col, F.array_distinct(
                _word_ngrams("__w", n)).alias("grams")))


def decontaminate(train: DataFrame, eval_df: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, train_grams: DataFrame | None = None,
                  eval_grams: DataFrame | None = None) -> DataFrame:
    """Benchmark decontamination: per training doc, how many of its
    distinct word n-grams appear anywhere in the eval set.

    Returns (id, n_grams, n_hits, contam_frac, contaminated).  The
    eval gram dictionary is distinct-ed and broadcast; the train side
    is touched by a map-side LEFT SEMI join only.  `train_grams` /
    `eval_grams` accept a precomputed `doc_grams` table (see there).
    """
    g = (train_grams if train_grams is not None
         else doc_grams(train, text_col, id_col, n))
    evg = (eval_grams if eval_grams is not None
           else doc_grams(eval_df, text_col, id_col, n))
    ev = evg.select(F.explode("grams").alias("gram")).distinct()
    hits = (g
            .select(id_col, F.explode("grams").alias("gram"))
            .join(F.broadcast(ev), "gram", "left_semi")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_hits")))
    base = g.select(id_col, F.size("grams").alias("n_grams"))
    out = base.join(hits, id_col, "left").fillna({"n_hits": 0})
    frac = F.col("n_hits") / F.greatest(F.col("n_grams"), F.lit(1))
    return out.select(
        id_col, "n_grams", "n_hits",
        F.round(frac, 6).alias("contam_frac"),
        (F.col("n_hits") > 0).alias("contaminated"))


def quota_sample(df: DataFrame, group_col: str, id_col: str,
                 k: int, salt: str = "q:") -> DataFrame:
    """Deterministic per-group quota sampling (domain balancing):
    keep the k rows per group with the smallest keyed md5 — a uniform
    random-but-reproducible choice with no RNG state, so a resumed or
    re-run job picks the identical sample.

    Executes as two-phase top-k (operators/topk.py): each partition
    keeps its own k smallest hashes per group map-side, so the
    shuffle is bounded by partitions x k per group — a 10^9-row
    domain never sorts in one reducer."""
    from .topk import topk_per_group

    rk = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    out = topk_per_group(df.withColumn("__rk", rk), group_col, "__rk",
                         k, ascending=True, tiebreak_col=id_col)
    return (out.withColumnRenamed("rk", "sample_rank").drop("__rk"))


def hash_sample(df: DataFrame, id_col: str, threshold_hex: str,
                salt: str = "s:") -> DataFrame:
    """Deterministic Bernoulli sampling: keep rows whose keyed md5
    prefix sorts below `threshold_hex` (8 hex chars; '40000000' ~
    fraction 0.25).  Shuffle-free and resume-stable."""
    hx = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8)
    return (df
            .withColumn("sample_key", hx)
            .filter(F.col("sample_key") < F.lit(threshold_hex)))


def hash_split(df: DataFrame, id_col: str,
               boundaries: dict[str, str] | None = None,
               salt: str = "sp:") -> DataFrame:
    """Deterministic train/val/test assignment by keyed-md5 prefix:
    every row gets exactly one split label, stable across runs,
    resumes and cluster sizes (pure per-row expression — zero
    shuffle, zero RNG state).  `boundaries` maps split name -> upper
    8-hex-char bound in ascending order; the last bound should be
    'ffffffff' + 1-ish sentinel ('g') so every key lands somewhere.
    Default: 90% train / 5% val / 5% test."""
    if boundaries is None:
        boundaries = {"train": "e6666666", "val": "f3333333", "test": "g"}
    hx = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8)
    label = F.lit(list(boundaries)[-1])
    for name, bound in reversed(list(boundaries.items())[:-1]):
        label = F.when(hx < F.lit(bound), F.lit(name)).otherwise(label)
    return df.withColumn("split_key", hx).withColumn("split", label)


def weighted_sample(df: DataFrame, id_col: str, weight_col: str,
                    salt: str = "w:") -> DataFrame:
    """Deterministic QUALITY-WEIGHTED Bernoulli sampling: keep a row
    with probability = its weight column (clamped to [0, 0.999999] —
    the hex threshold is 8 chars, so p = 1 would need 9).  The
    per-row uniform is the keyed-md5 prefix (hash_sample's
    construction); the threshold is the weight rendered as the same
    8-hex-char prefix, so keep <=> md5_prefix < hex(floor(w * 2^32)).
    Zero shuffle, zero RNG state: resume-stable and identical on any
    partitioning / engine — upweighting high-quality documents in a
    training mix without a single random() call."""
    w = F.greatest(F.lit(0.0),
                   F.least(F.col(weight_col).cast("double"),
                           F.lit(0.999999)))
    thr = F.lpad(F.lower(F.conv(
        F.floor(w * F.lit(4294967296.0)).cast("long").cast("string"),
        10, 16)), 8, "0")
    hx = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8)
    return (df.withColumn("sample_key", hx)
            .withColumn("keep_threshold", thr)
            .filter(F.col("sample_key") < F.col("keep_threshold")))


def pack_token_bins(df: DataFrame, group_col: str, id_col: str,
                    text_col: str, capacity: int) -> DataFrame:
    """Sequence packing for training: assign each doc to a
    fixed-token-capacity bin by cumulative token count within its
    group (deterministic doc-id order).  bin = floor(tokens-before /
    capacity) — the contiguous-packing approximation used by training
    pipelines (docs may straddle a boundary; the tokenizer splits
    there).  One window shuffle on the group key, nothing else."""
    n_tok = F.size(R.tokens(F.col(text_col)))
    w = (Window.partitionBy(group_col).orderBy(F.col(id_col).asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (df
            .select(id_col, group_col, n_tok.alias("n_tokens"))
            .withColumn("bin", F.floor(cum_before / capacity).cast("int")))


def _longest_equal_run(sorted_arr_col: str):
    """Longest run of equal adjacent elements in a SORTED array =
    the count of the most frequent element — one higher-order
    `aggregate`, zero shuffle."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"))

    def merge(acc, x):
        new_run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"))

    return F.aggregate(F.col(sorted_arr_col), init, merge,
                       lambda acc: acc["best"])


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher-style intra-document repetition signals: duplicate-word
    fraction, top-word fraction, top-bigram fraction.  All computed
    per row from sorted token / bigram arrays — no explode, no
    shuffle (see module docstring)."""
    base = (df
            .select(id_col, R.tokens(F.col(text_col)).alias("__w"))
            .select(id_col, "__w", _word_ngrams("__w", 2).alias("__b"))
            .select(id_col,
                    F.size("__w").alias("n_words"),
                    F.size(F.array_distinct("__w")).alias("__ndw"),
                    F.sort_array("__w").alias("__sw"),
                    F.size("__b").alias("__nb"),
                    F.sort_array("__b").alias("__sb")))
    nw = F.nullif(F.col("n_words").cast("double"), F.lit(0.0))
    nb = F.nullif(F.col("__nb").cast("double"), F.lit(0.0))
    return base.select(
        id_col, "n_words",
        F.round(1.0 - F.col("__ndw") / nw, 6).alias("dup_word_frac"),
        F.round(_longest_equal_run("__sw") / nw, 6).alias("top_word_frac"),
        F.round(_longest_equal_run("__sb") / nb, 6).alias("top_bigram_frac"))


def dup_spans(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", n: int = 5,
              min_docs: int = 2) -> DataFrame:
    """Cross-document duplicated-span coverage (the word-n-gram form
    of Lee et al. 2022 'Deduplicating Training Data Makes Language
    Models Better' substring-dup statistics): for each doc, how many
    of its n-gram start positions carry a gram that appears in
    >= min_docs documents corpus-wide, and how many of its TOKENS are
    covered by at least one such duplicated gram (overlapping spans
    merged via the classic sorted-interval-union identity:
    covered = sum over sorted starts p of min(n, next_p - p)).

    Returns one row per doc with >= 1 gram: (id, n_tokens,
    n_positions, n_dup_positions, dup_covered, dup_frac).

    Scale: positions explode to (id, pos, gram) once; ONE groupBy on
    the gram string for document frequency (grams stay strings so the
    DuckDB oracle groups identically; the 10^12-row variant projects
    xxhash64(gram) before the exchange, same plan shape); the
    duplicated dictionary comes back as a LEFT SEMI join, so only
    (id, pos) int pairs reach the per-doc window + aggregate."""
    toks = _widen(df).select(F.col(id_col).alias("id"),
                             R.tokens(F.col(text_col)).alias("__toks"))
    base = (toks.select("id", F.size("__toks").cast("long")
                        .alias("n_tokens"))
            .filter(F.col("n_tokens") >= n)
            .select("id", "n_tokens",
                    (F.col("n_tokens") - (n - 1)).alias("n_positions")))
    pg = (toks
          .select("id", F.posexplode(_word_ngrams("__toks", n)))
          .select("id", (F.col("pos") + 1).alias("pos"),
                  F.col("col").alias("gram")))
    dup = (pg.groupBy("gram")
           .agg(F.countDistinct("id").alias("__df"))
           .filter(F.col("__df") >= min_docs)
           .select("gram"))
    dpos = pg.join(dup, "gram", "left_semi").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    cov = F.coalesce(
        F.least(F.lit(n), F.lead("pos").over(w) - F.col("pos")),
        F.lit(n))
    per_doc = (dpos.withColumn("__cov", cov)
               .groupBy("id")
               .agg(F.count("*").alias("n_dup_positions"),
                    F.sum("__cov").alias("dup_covered")))
    return (base.join(per_doc, "id", "left")
            .fillna({"n_dup_positions": 0, "dup_covered": 0})
            .select("id", "n_tokens", "n_positions",
                    "n_dup_positions", "dup_covered",
                    F.round(F.col("dup_covered") / F.col("n_tokens"), 6)
                    .alias("dup_frac")))


def bloom_decontaminate(train: DataFrame, eval_df: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 4, m_bits: int = 1 << 20,
                        n_hashes: int = 3,
                        train_grams: DataFrame | None = None,
                        eval_grams: DataFrame | None = None) -> DataFrame:
    """Bloom-filter decontamination — the scale path of
    `decontaminate` for eval sets too large to broadcast as an exact
    gram dictionary: the eval set is folded into an m_bits Bloom
    bitset (n_hashes xxhash64 probes per gram), stored as m_bits/64
    packed int64 words built with ONE bit_or aggregation.  Train
    grams test membership via ONE broadcast join of their exploded
    (word_i, bit) probes against the word table — never against the
    gram dictionary itself — then AND the n_hashes probe verdicts
    per gram with a narrow (id, gram-hash) groupBy.

    Returns (id, n_grams, n_bloom_hits, bloom_contaminated) per
    training doc.  Bloom guarantees: NO false negatives (every doc
    `decontaminate` flags is flagged here); false-positive rate
    ~ (1 - e^(-n_hashes * n_grams_eval / m_bits))^n_hashes per gram
    (defaults: < 1e-5 up to ~10^5 eval grams).

    Scale: the bitset is <= m_bits/64 rows (16 Ki at the default)
    REGARDLESS of eval-set size — the whole point vs the exact
    dictionary, whose broadcast grows with the eval set.  Only
    (id, 64-bit gram hash, word_i, bit) ints cross the probe stages;
    gram strings never leave their map task.  `train_grams` /
    `eval_grams` accept a precomputed `doc_grams` table."""
    g = (train_grams if train_grams is not None
         else doc_grams(train, text_col, id_col, n))
    evg = (eval_grams if eval_grams is not None
           else doc_grams(eval_df, text_col, id_col, n))
    ev = evg.select(F.explode("grams").alias("gram")).distinct()
    idx = [F.pmod(F.xxhash64(F.col("gram"), F.lit(j)), F.lit(m_bits))
           for j in range(n_hashes)]
    bitset = (ev
              .select(F.explode(F.array(*idx)).alias("idx"))
              .select(F.floor(F.col("idx") / 64).alias("word_i"),
                      F.expr("shiftleft(1L, CAST(idx % 64 AS INT))")
                      .alias("__bit"))
              .groupBy("word_i")
              .agg(F.bit_or("__bit").alias("word")))
    base = g.select(F.col(id_col).alias("id"),
                    F.size("grams").alias("n_grams"))
    probes = (g.select(F.col(id_col).alias("id"),
                       F.explode("grams").alias("gram"))
              .select("id", F.xxhash64("gram").alias("__gk"),
                      *[F.pmod(F.xxhash64(F.col("gram"), F.lit(j)),
                               F.lit(m_bits)).alias(f"__ix{j}")
                        for j in range(n_hashes)]))
    wb = probes.select("id", "__gk", F.explode(F.array(*[
        F.struct(F.floor(F.col(f"__ix{j}") / 64).alias("word_i"),
                 F.expr(f"shiftleft(1L, CAST(__ix{j} % 64 AS INT))")
                 .alias("bit"))
        for j in range(n_hashes)])).alias("wb"))
    wb = wb.select("id", "__gk", F.col("wb.word_i").alias("word_i"),
                   F.col("wb.bit").alias("bit"))
    checked = (wb.join(F.broadcast(bitset), "word_i", "left")
               .select("id", "__gk",
                       (F.coalesce(F.col("word"), F.lit(0))
                        .bitwiseAND(F.col("bit")) != 0).alias("__ok")))
    per_gram = (checked.groupBy("id", "__gk")
                .agg(F.bool_and("__ok").alias("__in_bloom")))
    hits = (per_gram.groupBy("id")
            .agg(F.sum(F.col("__in_bloom").cast("long"))
                 .alias("n_bloom_hits")))
    return (base.join(hits, "id", "left")
            .fillna({"n_bloom_hits": 0})
            .select("id", "n_grams", "n_bloom_hits",
                    (F.col("n_bloom_hits") > 0).alias("bloom_contaminated")))


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_tokens: int = 64,
                    overlap: int = 16) -> DataFrame:
    """Sliding-window token chunking — the split-before-embed step of
    every retrieval / embedding pipeline: each doc's whitespace tokens
    become windows of `chunk_tokens` advancing by
    (chunk_tokens - overlap), the last window shortened to the doc
    end (never an empty or pure-overlap trailing chunk).  Docs shorter
    than one chunk emit exactly one chunk.

    Returns (id, chunk_id, start_tok, n_tok, chunk_text) with 0-based
    chunk_id and 1-based start_tok.

    Scale: a pure per-row explode — zero shuffle, zero driver state;
    output row count is ~n_tokens/step per doc, the same volume class
    the downstream embedder pays anyway."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    toks = (df.select(F.col(id_col).alias("id"),
                      R.tokens(F.col(text_col)).alias("__toks"))
            .select("id", "__toks", F.size("__toks").alias("__n"))
            .filter(F.col("__n") >= 1))
    # m = 1 for n <= chunk, else floor((n - chunk + step - 1)/step) + 1
    m = F.greatest(
        F.lit(1),
        (F.floor((F.col("__n") - chunk_tokens + step - 1)
                 / F.lit(float(step))) + 1).cast("int"))
    chunks = (toks
              .withColumn("__m", m)
              .select("id", "__toks", "__n",
                      F.explode(F.sequence(F.lit(0), F.col("__m") - 1))
                      .alias("chunk_id")))
    start = (F.col("chunk_id") * step + 1).alias("start_tok")
    n_tok = F.least(F.lit(chunk_tokens),
                    F.col("__n") - F.col("chunk_id") * step)
    return chunks.select(
        "id", "chunk_id", start,
        n_tok.cast("int").alias("n_tok"),
        F.concat_ws(" ", F.slice(
            "__toks", F.col("chunk_id") * step + 1, n_tok))
        .alias("chunk_text"))


def zipf_slope(df: DataFrame, text_col: str = "text",
               top_k: int = 1000) -> DataFrame:
    """Corpus vocabulary health check: the least-squares slope of
    ln(freq) vs ln(rank) over the `top_k` most frequent words.
    Natural-language corpora sit near Zipf's -1; heavily templated,
    synthetic, or boilerplate-flooded corpora deviate — a one-row
    release gate next to `corpus_stats`.

    Returns one row: (vocab, n_top, slope, r2).

    Scale: ONE word-count shuffle (the tf-idf volume class), then
    `orderBy().limit(top_k)` — Spark's TakeOrdered, a per-partition
    top-k + driver merge, NO global sort — so the single-reducer
    row_number window only ever ranks `top_k` rows.  Ties broken by
    word for a deterministic cross-engine rank."""
    words = (_widen(df)
             .select(R.tokens(F.col(text_col)).alias("__w"))
             .select(F.explode("__w").alias("w")))
    wc = words.groupBy("w").agg(F.count("*").alias("c"))
    vocab = wc.agg(F.count("*").alias("vocab"))
    top = wc.orderBy(F.desc("c"), F.asc("w")).limit(top_k)
    ranked = top.withColumn(
        "r", F.row_number().over(
            Window.orderBy(F.desc("c"), F.asc("w"))))
    y = F.log(F.col("c").cast("double"))
    x = F.log(F.col("r").cast("double"))
    stats = ranked.agg(
        F.count("*").alias("n_top"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_r2(y, x), 6).alias("r2"))
    return (stats.crossJoin(F.broadcast(vocab))
            .select("vocab", "n_top", "slope", "r2"))


def _rate_hex8(rate: float) -> str:
    """Upper md5-prefix bound for a keep rate in [0, 1].  Rates >= 1
    use the 'g' sentinel (sorts above every hex digit) so the group is
    kept in full."""
    if rate >= 1.0:
        return "g"
    return format(max(int(rate * 16 ** 8), 0), "08x")


def mixture_sample(df: DataFrame, group_col: str, id_col: str,
                   rates: dict[str, float], default_rate: float = 0.0,
                   salt: str = "m:") -> DataFrame:
    """Deterministic corpus mixing: per-group Bernoulli keep rates
    (the 'sample en at 30%, upsample-rare-langs at 100%' step every
    training-mixture spec needs), as a pure per-row expression — the
    group's rate bound is a literal CASE chain folded at plan time, so
    the sample is zero-shuffle, zero-RNG-state, and identical across
    runs, resumes and cluster sizes.  For thousands of groups,
    broadcast-join a (group, bound) dim table instead of the CASE
    chain — same semantics, same determinism.

    Rows keep when their keyed md5 prefix sorts below the group's
    bound; a row's fate depends only on (salt, id), so changing one
    group's rate never reshuffles WHICH rows of another group are
    kept — mixtures can be retuned incrementally."""
    hx = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8)
    bound = F.lit(_rate_hex8(default_rate))
    for g, r in rates.items():
        bound = F.when(F.col(group_col) == F.lit(g),
                       F.lit(_rate_hex8(r))).otherwise(bound)
    return (df.withColumn("sample_key", hx)
            .withColumn("rate_bound", bound)
            .filter(F.col("sample_key") < F.col("rate_bound")))


def boilerplate_fraction(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 5,
                         min_doc_freq: int = 3) -> DataFrame:
    """Boilerplate detector (the CCNet/RefinedWeb 'shared-paragraph'
    signal at n-gram granularity): for every doc, the fraction of its
    DISTINCT word n-grams that appear in >= min_doc_freq documents.
    A high fraction marks template/boilerplate-heavy docs (nav bars,
    license footers, mirrored articles) that slip past per-doc
    repetition rules because the repetition is ACROSS docs.

    Returns (id, n_grams, n_boiler, boiler_frac) — one row per doc
    with >= 1 gram; boiler_frac rounded 6 for contract stability.

    Scale: distinct grams per doc first (array_distinct caps a doc's
    contribution at its vocabulary), explode to (id, gram), ONE
    groupBy(gram) for document frequency, then re-join the frequency
    onto the exploded pairs and aggregate per doc.  Grams cross the
    two shuffles as strings here because the DuckDB oracle must group
    identically; the 10^12-row variant projects xxhash64(gram) before
    the exchanges (64-bit keys, ~1e-10 collision odds at 10^9 distinct
    grams) — same plan shape, 10x narrower shuffle rows."""
    toks = df.select(F.col(id_col).alias("id"),
                     R.tokens(F.col(text_col)).alias("__toks"))
    grams = (toks.select("id", F.explode(
        F.array_distinct(_word_ngrams("__toks", n))).alias("gram")))
    dfreq = grams.groupBy("gram").agg(
        F.countDistinct("id").alias("__df"))
    per_doc = (grams.join(dfreq, "gram")
               .groupBy("id").agg(
                   F.count("*").alias("n_grams"),
                   F.sum((F.col("__df") >= min_doc_freq).cast("long"))
                   .alias("n_boiler")))
    return per_doc.select(
        "id", "n_grams", "n_boiler",
        F.round(F.col("n_boiler") / F.col("n_grams"), 6)
        .alias("boiler_frac"))


def word_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-doc Shannon entropy of the word distribution (a gibberish
    and templated-text signal: natural prose sits in a band, repeated
    boilerplate falls below it, random token soup rises above it).
    entropy = ln(n) - sum(c*ln(c))/n over per-doc word counts c.

    Returns (id, n_tokens, entropy) — docs with zero tokens emit no
    row.  Scale: explode to (id, word) -> two groupBys; shuffle rows
    = token count, the same volume class as the tf-idf operator.  At
    the 100 TB tier this moves into the fused Arrow UDF (one pass,
    no shuffle) — this declarative twin exists for the oracle and
    for ad-hoc SQL users."""
    toks = df.select(F.col(id_col).alias("id"),
                     R.tokens(F.col(text_col)).alias("__toks"))
    words = toks.select("id", F.explode("__toks").alias("w"))
    wc = words.groupBy("id", "w").agg(F.count("*").alias("c"))
    return (wc.groupBy("id").agg(
        F.sum("c").alias("__n"),
        F.sum(F.col("c") * F.log("c")).alias("__clnc"))
        .select("id", F.col("__n").alias("n_tokens"),
                F.round(F.log("__n") - F.col("__clnc") / F.col("__n"), 6)
                .alias("entropy")))


def source_overlap(df: DataFrame, text_col: str = "text",
                   source_col: str = "source", n: int = 3) -> DataFrame:
    """Corpus-level content overlap between sources: exact Jaccard of
    the sources' word-n-gram SETS, one row per source pair that
    shares at least one gram (src_a < src_b).  The release-audit
    question 'how much of source B is already in source A?' before
    mixing corpora.

    Scale: the per-source distinct gram set is dictionary-sized
    (shared vocabulary saturates), so the gram self-join is over two
    deduplicated dictionary tables and every aggregate is counts-only.
    For 10^12-doc corpora swap the exact sets for per-source MinHash
    signatures (operators/dedup.py::minhash_signatures) — same
    output schema, sketch-sized state."""
    toks = df.select(F.col(source_col).alias("src"),
                     R.tokens(F.col(text_col)).alias("__toks"))
    g = (toks.select("src", F.explode(
        F.array_distinct(_word_ngrams("__toks", n))).alias("gram"))
         .distinct())
    sizes = g.groupBy("src").agg(F.count("*").alias("sz"))
    inter = (g.alias("a")
             .join(g.alias("b"),
                   (F.col("a.gram") == F.col("b.gram"))
                   & (F.col("a.src") < F.col("b.src")))
             .groupBy(F.col("a.src").alias("src_a"),
                      F.col("b.src").alias("src_b"))
             .agg(F.count("*").alias("n_common")))
    return (inter
            .join(sizes.select(F.col("src").alias("src_a"),
                               F.col("sz").alias("__sa")), "src_a")
            .join(sizes.select(F.col("src").alias("src_b"),
                               F.col("sz").alias("__sb")), "src_b")
            .select("src_a", "src_b", "n_common",
                    (F.col("__sa") + F.col("__sb") - F.col("n_common"))
                    .alias("n_union"),
                    F.round(F.col("n_common")
                            / (F.col("__sa") + F.col("__sb")
                               - F.col("n_common")), 6).alias("jaccard")))

def component_split(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    boundaries: dict[str, str] | None = None,
                    salt: str = "csp:",
                    threshold: float = 0.5,
                    num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Leakage-safe train/val/test split: assign splits by NEAR-DUP
    COMPONENT, not by document.  Plain per-doc hash splitting
    (hash_split) puts near-copies of a training doc into the eval
    split — the classic train/test contamination bug that inflates
    benchmark numbers; splitting on the component label makes cross-
    split leakage structurally impossible (every member of a dup
    cluster shares the label, hence the split).

    Composition: text_near_dup_keepers (MinHash candidates -> exact
    Jaccard verify -> connected components -> first-wins label) gives
    the component label per doc (singletons label themselves); the
    split is then the keyed-md5 prefix of the LABEL.  Deterministic,
    zero RNG state, stable across runs/resumes/cluster sizes; adding
    docs never moves an existing component's split unless two
    components genuinely merge.

    Scale: inherits the text-pipeline plan (ids/hashes-only band
    shuffles, semi-join-pruned gram fetch); the split assignment
    itself is one per-row md5 expression — zero extra shuffles.
    """
    from .dedup import text_near_dup_keepers
    keepers = text_near_dup_keepers(df, text_col, id_col,
                                    threshold=threshold,
                                    num_hashes=num_hashes, bands=bands)
    out = keepers.select(F.col("id").alias(id_col),
                         F.col("keeper_id").alias("component"),
                         "is_dup")
    return hash_split(out, "component", boundaries, salt)


def cluster_size_stats(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       threshold: float = 0.5,
                       num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Dedup effectiveness report: the component-size histogram plus
    corpus-level keep ratio, the numbers a dedup run is judged by
    ("how much of the corpus is duplicated, and how big are the
    clusters?").  One row per distinct cluster size:
    (cluster_size, n_clusters, n_docs, pct_docs); cluster_size = 1
    rows are the unique docs.

    Scale: the heavy lifting is the dedup pipeline itself; the
    histogram is two counts-only groupBys over (component) then
    (size) — narrow keys, map-side combine, output rows bounded by
    the largest cluster size."""
    from .dedup import text_near_dup_keepers
    keepers = text_near_dup_keepers(df, text_col, id_col,
                                    threshold=threshold,
                                    num_hashes=num_hashes, bands=bands)
    sizes = keepers.groupBy("keeper_id").agg(
        F.count("*").alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"))
    # corpus total as a lazy broadcast one-row aggregate (no eager
    # df.count() pass; same trick as tf-idf's source count)
    total = hist.agg(F.sum(F.col("cluster_size")
                           * F.col("n_clusters")).alias("__total"))
    return (hist.crossJoin(F.broadcast(total))
            .select("cluster_size", "n_clusters",
                    (F.col("cluster_size") * F.col("n_clusters"))
                    .alias("n_docs"),
                    F.round(F.col("cluster_size") * F.col("n_clusters")
                            / F.col("__total").cast("double"), 6)
                    .alias("pct_docs")))


def effective_corpus_size(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          threshold: float = 0.5,
                          num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Dedup-aware corpus diversity indices (ONE row) — the release
    numbers that answer "how much UNIQUE content is really in here?"
    over the near-dup component structure:

    * ``n_docs`` / ``n_clusters`` and ``dedup_ratio`` = clusters/docs;
    * ``simpson_eff``: inverse Simpson index 1 / sum p_i^2 over
      cluster shares p_i = s_i/N — an EXACT integer ratio
      N^2 / sum(n_g * s_g^2) evaluated from the size histogram, so it
      is bit-identical on any engine;
    * ``shannon_eff``: exp(H) with H = sum_g n_g * (s/N) * ln(N/s)
      (the "effective number of unique documents" — Hill number of
      order 1).  Per-GROUP terms are floor-quantized to 1e-9 units
      and long-summed (batch-composition invariance: a float tree sum
      over groups would depend on partitioning).

    Scale: everything downstream of the dedup pipeline is two
    counts-only groupBys collapsing to a histogram whose row count is
    bounded by the largest cluster size, then a single-row
    aggregate."""
    from .dedup import text_near_dup_keepers
    keepers = text_near_dup_keepers(df, text_col, id_col,
                                    threshold=threshold,
                                    num_hashes=num_hashes, bands=bands)
    sizes = keepers.groupBy("keeper_id").agg(
        F.count("*").alias("s"))
    hist = sizes.groupBy("s").agg(F.count("*").alias("n"))
    total = hist.agg(F.sum(F.col("s") * F.col("n")).alias("__N"))
    h = (hist.crossJoin(F.broadcast(total))
         .select("s", "n", "__N",
                 F.floor(F.col("n") * (F.col("s") / F.col("__N"))
                         * F.log(F.col("__N") / F.col("s")) * 1e9)
                 .cast("long").alias("__h9")))
    agg = h.agg(
        F.max("__N").alias("n_docs"),
        F.sum("n").alias("n_clusters"),
        F.sum(F.col("n") * F.col("s") * F.col("s")).alias("__sumsq"),
        F.sum("__h9").alias("__h9s"))
    return agg.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
        F.round(F.col("n_clusters") / F.col("n_docs").cast("double"), 6)
         .alias("dedup_ratio"),
        F.round(F.col("n_docs") * F.col("n_docs")
                / F.col("__sumsq").cast("double"), 6).alias("simpson_eff"),
        F.round(F.exp(F.col("__h9s") / F.lit(1e9)), 6)
         .alias("shannon_eff"))


def temperature_sample(df: DataFrame, group_col: str, id_col: str,
                       alpha: float = 0.5, budget_frac: float = 0.5,
                       salt: str = "T:") -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-training
    resampling rule: group g sampled proportionally to n_g^alpha,
    alpha < 1 flattening the head so rare languages/domains are
    upweighted) under a total budget of `budget_frac` x corpus rows.
    Every per-row decision is a keyed-md5 threshold — zero RNG state,
    resume-stable — and every rate is derived from EXACT integer
    count aggregates so the keep set is bit-identical on any engine:
    weights are micro-unit quantized (floor(n^alpha * 1e6) as int64),
    the rate-saturation test (rate >= 1, i.e. keep ALL of a rare
    group) is the INTEGER cross-multiplication T*wq >= sumW*n — no
    float boundary anywhere a ULP could flip a row.  alpha = 0.5 uses
    sqrt (IEEE-exact in every engine); other alphas go through pow,
    whose last-ulp behavior is libm-specific — document before
    relying on cross-engine exactness there.

    Returns the input UNFILTERED with (sample_key, rate_ppm, kept):
    callers filter on `kept`; reports aggregate pre/post counts in
    one pass.  Scale shape: two counts-only aggregates (group dim ~
    #groups rows), dim broadcast back, per-row expression map-side —
    the sample itself adds ZERO shuffle to the corpus scan."""
    g = (df.groupBy(F.col(group_col).alias("__g"))
         .agg(F.count("*").alias("__n")))
    wexpr = (F.sqrt(F.col("__n")) if alpha == 0.5
             else F.pow(F.col("__n"), F.lit(float(alpha))))
    g = g.withColumn("__wq",
                     F.floor(wexpr * F.lit(1000000.0)).cast("long"))
    tot = g.agg(F.sum("__n").alias("__tot"), F.sum("__wq").alias("__sw"))
    dim = (g.crossJoin(F.broadcast(tot))
           .withColumn("__T", F.floor(F.col("__tot")
                                      * F.lit(float(budget_frac)))
                       .cast("long"))
           .withColumn("__rate", F.least(
               F.lit(1.0),
               F.col("__T").cast("double") * F.col("__wq")
               / F.col("__sw") / F.col("__n")))
           .withColumn("__full", F.col("__T") * F.col("__wq")
                       >= F.col("__sw") * F.col("__n"))
           .withColumn("rate_ppm",
                       F.floor(F.col("__rate") * F.lit(1000000.0))
                       .cast("long"))
           .withColumn("__thr", F.lpad(F.lower(F.conv(
               F.floor(F.col("__rate") * F.lit(4294967296.0))
               .cast("long").cast("string"), 10, 16)), 8, "0")))
    hx = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8)
    return (df.withColumn("sample_key", hx)
            .join(F.broadcast(dim.select(
                "__g", "__full", "rate_ppm", "__thr")),
                F.col(group_col) == F.col("__g"))
            .withColumn("kept", F.col("__full")
                        | (F.col("sample_key") < F.col("__thr")))
            .drop("__g", "__full", "__thr"))


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al., 2023)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096  # 3 hex chars of md5(gram) — the hashed feature space


def dsir_select(df: DataFrame, target_col: str, k: int,
                text_col: str = "text", id_col: str = "doc_id",
                alpha: float = 1.0, salt: str = "dsir:") -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al.
    2023): pick the k raw documents whose hashed-n-gram distribution
    looks most like a TARGET corpus, via Gumbel-top-k over estimated
    log importance weights.

    * features: unigrams + bigrams hashed into DSIR_BUCKETS buckets
      (bucket key = 3 hex chars of md5(gram) — a STRING key, so the
      DuckDB oracle shares it without any hex->int conversion);
    * bag-of-grams models with add-alpha smoothing fit on the target
      rows (target_col = true) and the raw pool (false):
      log w(x) = sum_g [ln p_t(b(g)) - ln p_r(b(g))];
    * per-BUCKET log-ratios are floor-quantized to integer
      micro-units BEFORE the per-doc sum (the repo's BM25 rule), so a
      document's score is an exact BIGINT — aggregation-order- and
      engine-invariant;
    * resampling: Gumbel-top-k with the Gumbel noise derived from a
      keyed md5 of the doc id — zero RNG state, resume-stable, and
      a faithful sample-without-replacement from the softmax of the
      weights rather than a hard argmax.

    Scale shape (10^12 rows): gram instances collapse to bucket
    counts by ONE partial-aggregating groupBy on a 4096-key space;
    the weight table is then a ~4096-row broadcast joined back to the
    exploded gram stream map-side, and per-doc sums partial-aggregate
    on the doc key.  The gram projection is evaluated once per
    consumer (Catalyst has no cross-consumer subtree reuse), i.e. two
    MAP passes over the corpus — the same fit-then-score pass
    structure DSIR itself prescribes; neither pass shuffles gram
    instances.  Selection is orderBy(key).limit(k) = TakeOrdered:
    per-partition top-k, k rows to the driver merge — no global
    sort.  Nothing but (bucket) / (doc_id, w) scalars ever
    shuffles."""
    b = float(DSIR_BUCKETS)
    toks = _widen(df).select(
        F.col(id_col), F.col(target_col).alias("__tgt"),
        R.tokens(F.col(text_col)).alias("__toks"))
    gb = (toks.select(
        F.col(id_col), F.col("__tgt"),
        F.explode(F.concat(F.col("__toks"), _word_ngrams("__toks", 2)))
        .alias("__g"))
        .select(F.col(id_col), F.col("__tgt"),
                F.substring(F.md5("__g"), 1, 3).alias("bucket")))
    cnt = gb.groupBy("bucket").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("__tgt"), 0).otherwise(1)).alias("cr"))
    tot = cnt.agg(F.sum("ct").cast("double").alias("tt"),
                  F.sum("cr").cast("double").alias("tr"))
    lw = (F.log((F.col("ct") + alpha) / (F.col("tt") + alpha * b))
          - F.log((F.col("cr") + alpha) / (F.col("tr") + alpha * b)))
    wt = (cnt.crossJoin(F.broadcast(tot))
          .select("bucket",
                  F.floor(lw * 1e6).cast("long").alias("w_ppm")))
    doc_w = (gb.filter(~F.col("__tgt"))
             .join(F.broadcast(wt), "bucket")
             .groupBy(id_col)
             .agg(F.sum("w_ppm").alias("logw_ppm")))
    # Gumbel key: u in (0, 1) from the keyed md5 prefix (exact 32-bit
    # integer + half-ulp offset, so u is the same double everywhere)
    u = ((F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        1, 8), 16, 10).cast("long").cast("double") + 0.5)
        / 4294967296.0)
    lwp = F.coalesce(F.col("logw_ppm"), F.lit(0))
    raw = (df.filter(~F.col(target_col))
           .select(F.col(id_col))
           .join(doc_w, id_col, "left")
           .select(F.col(id_col), lwp.alias("logw_ppm"),
                   (lwp.cast("double") / 1e6
                    - F.log(-F.log(u))).alias("__key")))
    top = (raw.orderBy(F.col("__key").desc(), F.col(id_col).asc())
           .limit(k))
    w = Window.orderBy(F.col("__key").desc(), F.col(id_col).asc())
    return (top.withColumn("rank", F.row_number().over(w).cast("int"))
            .select(id_col, "logw_ppm",
                    F.round("__key", 6).alias("sel_key"), "rank"))


def bigram_nll_score(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     alpha: float = 1.0) -> DataFrame:
    """Corpus-fit bigram LM scoring — perplexity filtering without a
    pretrained model (the CCNet/KenLM recipe, self-fit): estimate
    p(w2|w1) = (c(w1 w2) + a) / (c(w1) + a*V) over the corpus itself,
    then score every document by its mean bigram negative
    log-likelihood.  Gibberish, boilerplate-free spam and wrong-
    language docs sit in the high-NLL tail; formulaic boilerplate
    sits in the low tail — both ends are what a quality filter cuts.

    Per-bigram costs quantize to integer micro-units before the
    per-doc sum (order- and engine-invariant BIGINT); avg_nll =
    that sum / n_bigrams, rounded.  Docs with < 2 tokens score NULL
    (no evidence), kept in the output for gate composition.

    Scale shape (10^12 rows): fit = two counts-only partial
    aggregates (bigram key, unigram key); score = the instance
    stream joins the bigram-count table on the bigram key — the one
    genuinely big shuffle, payload (doc_id, w1, w2) — then the
    unigram table on w1.  Hot bigrams ('of the') skew the join: AQE
    skew-join splits them, and both count tables partial-aggregate
    map-side so the reducer state is one long per key.  V (distinct
    vocab) is a 1-row broadcast."""
    toks = _widen(df).select(F.col(id_col),
                             R.tokens(F.col(text_col)).alias("__toks"))
    bi = (toks.select(
        F.col(id_col),
        F.explode(_word_ngrams("__toks", 2)).alias("__bg"))
        .withColumn("__w1", F.substring_index("__bg", " ", 1)))
    uni = toks.select(F.explode("__toks").alias("__w"))
    cbg = bi.groupBy("__bg").agg(F.count("*").alias("__cbg"))
    cw1 = uni.groupBy("__w").agg(F.count("*").alias("__cw1"))
    v = uni.agg(F.countDistinct("__w").cast("double").alias("__v"))
    cost = F.floor(
        -F.log((F.col("__cbg") + alpha)
               / (F.col("__cw1") + alpha * F.col("__v"))) * 1e6
    ).cast("long")
    scored = (bi.join(cbg, "__bg")
              .join(cw1, F.col("__w1") == F.col("__w"))
              .crossJoin(F.broadcast(v))
              .select(F.col(id_col), cost.alias("__cost")))
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.sum("__cost").alias("nll_ppm_sum"))
    return (df.select(id_col)
            .join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    F.coalesce("nll_ppm_sum", F.lit(0)).alias("nll_ppm_sum"),
                    F.round(F.col("nll_ppm_sum").cast("double")
                            / F.col("n_bigrams") / 1e6, 6)
                    .alias("avg_nll")))


def curriculum_order(df: DataFrame, tier_col: str, id_col: str,
                     shard_chars: int = 1, salt: str = "cur:") -> DataFrame:
    """Deterministic curriculum enumeration: a total training order
    (easy/high-quality tiers first, shuffled within tier) WITHOUT a
    single-partition global window — the thing a naive
    row_number() OVER (ORDER BY ...) gets wrong at corpus scale.

    Per row: shard = `shard_chars`-hex-char keyed-md5 prefix (16^c
    hash-range shards, balanced to ~sqrt(n); a STRING key — no
    integer parse, portable to any engine, the train_shard_assign
    discipline); pos_in_shard = rank within
    (tier, shard) ordered by a SECOND keyed-md5 (the within-tier
    shuffle; resume-stable, no RNG state); global_pos = pos_in_shard
    + the cumulative count of all earlier (tier, shard) groups.

    Scale shape: the only per-row window partitions by (tier, shard)
    — bounded partitions by construction; the offset table is
    tiers x shards rows (a few hundred), computed with a tiny window
    and broadcast back.  Total order is (tier asc, shard asc, shuffle
    key) lexicographic, so readers can also stream shards
    independently and still honor the curriculum."""
    kshuf = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    kshard = F.md5(F.concat(F.lit("shard:"),
                            F.col(id_col).cast("string")))
    base = df.select(
        F.col(id_col), F.col(tier_col).alias("tier"),
        F.substring(kshuf, 1, 8).alias("shuffle_key"),
        F.substring(kshard, 1, shard_chars).alias("shard"))
    w = Window.partitionBy("tier", "shard").orderBy(
        F.asc("shuffle_key"), F.asc(id_col))
    pos = base.withColumn("pos_in_shard",
                          F.row_number().over(w).cast("long"))
    counts = base.groupBy("tier", "shard").agg(
        F.count("*").alias("__c"))
    wo = (Window.orderBy(F.asc("tier"), F.asc("shard"))
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "tier", "shard",
        F.coalesce(F.sum("__c").over(wo), F.lit(0)).alias("__off"))
    return (pos.join(F.broadcast(offsets), ["tier", "shard"])
            .select(id_col, "tier", "shard", "pos_in_shard",
                    (F.col("__off") + F.col("pos_in_shard"))
                    .cast("long").alias("global_pos")))


def token_budget_plan(df: DataFrame, group_col: str, token_col,
                      budget: int) -> DataFrame:
    """Token-budget mixing plan: allocate an exact integer token
    budget across groups (sources/languages) proportionally to their
    token mass, using LARGEST-REMAINDER rounding so the quotas sum to
    exactly `budget` (or to the corpus total when the budget exceeds
    it) — the allocation a data-mixing run executes before sampling.

    All arithmetic is integer/decimal: base_g = floor(B*t_g/T),
    remainder_g = B*t_g - base_g*T, and the B - sum(base) leftover
    units go to the largest remainders (group-name tiebreak) — no
    float division anywhere, so the plan is bit-identical on any
    engine and any partitioning.  Products ride decimal(38,0):
    B ~ 10^13 times t_g ~ 10^13 overflows int64 exactly where real
    corpora live.

    Scale: one counts-only groupBy; everything after operates on the
    per-group table (thousands of rows at most — windows over it are
    bounded by construction and documented as such)."""
    d38 = "decimal(38,0)"
    counts = df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_col).cast(d38).alias("__t"))
    b = F.lit(budget).cast(d38)
    # the corpus total / base-quota sum ride FULL-FRAME windows over
    # the per-group table (bounded by group cardinality — thousands
    # of rows) instead of an agg + crossJoin.  NB the total must NOT
    # be named __T: Spark resolves column names case-insensitively,
    # so __T both REPLACES __t in withColumn and makes select("__t")
    # ambiguous — the same case-collision trap DuckDB hit with N/n
    # in the corpus_effective_size oracle
    wsum = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    j = counts.withColumn("__tot", F.sum("__t").over(wsum).cast(d38))
    # exact integer floor WITHOUT lossy division: decimal(38,0) /
    # decimal(38,0) rounds HALF_UP at scale 6 under allowPrecisionLoss,
    # so floor(b*__t/__tot) goes off-by-one whenever the true
    # fractional part is >= 0.9999995 (reachable once totals pass
    # ~2e6 tokens).  pmod is exact on decimals; subtracting it first
    # makes the quotient an exact integer, so the scale-6 rounding is
    # lossless and __base matches DuckDB's HUGEINT // at any scale.
    prod = (b * F.col("__t")).cast(d38)
    j = j.withColumn("__rem", F.pmod(prod, F.col("__tot")).cast(d38))
    j = j.withColumn(
        "__base", ((prod - F.col("__rem")) / F.col("__tot")).cast(d38))
    wrank = Window.orderBy(F.desc("__rem"), F.asc(group_col))
    j = (j.withColumn("__L", b - F.sum("__base").over(wsum))
          .withColumn("__rk", F.row_number().over(wrank)))
    quota = F.when(F.col("__tot") <= b, F.col("__t")).otherwise(
        F.col("__base")
        + F.when(F.col("__rk") <= F.col("__L"), F.lit(1)).otherwise(0))
    return j.select(
        group_col, "n_docs",
        F.col("__t").cast("long").alias("group_tokens"),
        quota.cast("long").alias("quota_tokens"),
        # zero-token group: quota is trivially 0 of 0 — report 1.0
        # (everything kept), not 0/0, which is NaN in DuckDB but NULL
        # in Spark and would split the engines
        F.when(F.col("__t") > 0,
               F.round(quota.cast("double")
                       / F.col("__t").cast("double"), 6))
         .otherwise(F.lit(1.0)).alias("keep_frac"))
