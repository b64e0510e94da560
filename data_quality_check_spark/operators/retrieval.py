"""BM25 full-text retrieval over the corpus (Robertson & Zaragoza's
Okapi BM25 — the standard lexical ranking function), expressed as
pure DataFrame aggregations: one explode to token counts, two
counts-only groupBys (tf and df), a broadcast join against the tiny
query-term table, and a per-query top-k window.

Scale shape (10^12 docs): token INSTANCES never cross an Exchange —
the explode feeds a map-side partial aggregate, so the tf shuffle
carries (doc, term, count) rows and the df shuffle (term, count)
rows.  Corpus constants (N, avgdl) ride a broadcast one-row frame
(lazy, no driver action at plan-build time — the tfidf pattern).
Query terms broadcast; per-(query, doc) scores aggregate map-side
before the final top-k window, whose shuffle is bounded by
P * k rows per query after the two-phase rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _word_tokens
from .topk import rank_topk

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(docs: DataFrame, queries: list[tuple[str, list[str]]],
              text_col: str = "text", id_col: str = "doc_id",
              k: int = 5) -> DataFrame:
    """Top-k documents per query by BM25.

    `queries` is a small literal list of (query_id, [terms]) — the
    query workload is driver-side tiny by nature and broadcasts.
    idf uses the +1 form, ln(1 + (N - df + 0.5)/(df + 0.5)), so
    scores stay positive for terms in over half the corpus.  Scores
    are rounded to 6 decimals BEFORE ranking with a doc-id tiebreak,
    so the ordering is reproducible across engines (the tfidf-key
    float-parity discipline)."""
    spark = docs.sparkSession
    # dedupe (query_id, term) so a repeated term in a query's list
    # can't double-count its BM25 contribution or inflate n_terms_hit
    qt = spark.createDataFrame(
        sorted({(qid, t) for qid, terms in queries for t in terms}),
        "query_id string, term string")

    toks = docs.select(
        F.col(id_col),
        F.explode(_word_tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    corpus = dl.agg(F.count("*").cast("double").alias("__n"),
                    F.avg("dl").alias("__avgdl"))

    scored_terms = (
        tf.join(F.broadcast(qt), "term")
          .join(dl, id_col)
          .join(F.broadcast(dft.join(F.broadcast(qt), "term", "left_semi")),
                "term")
          .crossJoin(F.broadcast(corpus))
          .withColumn(
              "__s",
              F.log(F.lit(1.0)
                    + (F.col("__n") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5))
              * (F.col("tf") * (BM25_K1 + 1))
              / (F.col("tf")
                 + BM25_K1 * (1 - BM25_B
                              + BM25_B * F.col("dl") / F.col("__avgdl")))))
    # per-term scores are quantized to integer micro-units BEFORE the
    # sum: long addition is order-invariant, so the per-doc score is
    # independent of aggregation order on any engine (a raw double
    # sum over 2-3 terms can differ in the last ulp between engines /
    # partitionings — the repo's batch-composition-invariance rule)
    per_doc = (scored_terms.groupBy("query_id", id_col)
               .agg((F.sum(F.round(F.col("__s") * 1e6).cast("long"))
                     / 1e6).alias("score"),
                    F.count("*").alias("n_terms_hit")))
    return (rank_topk(per_doc, "query_id", k, F.desc("score"),
                      F.asc(id_col))
            .select("query_id", id_col, "score", "n_terms_hit", "rk"))
