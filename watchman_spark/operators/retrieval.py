"""Keyword retrieval over the document corpus: BM25 scoring.

The training-data-curation use: rank a 10^12-document corpus against a
small keyword query (topic mining, targeted subset selection, eval-set
sourcing) without an external search engine — the score is a pure
DataFrame computation, so it composes with the quality/dedup filters in
one job.

Scale shape (all built-ins, no UDFs):
- term-frequency table: ONE explode of the token stream filtered to the
  query's terms BEFORE the shuffle (the filter makes the exploded volume
  |terms|-bounded per doc, not vocabulary-bounded), then groupBy(doc,
  term) — one exchange keyed (doc_id, term).
- document lengths ride the same scan map-side; corpus aggregates
  (N, total token count, per-term document frequency) are metadata-sized
  and BROADCAST back — the corpus is never shuffled whole.
- the per-(doc, term) score is a scalar expression; the per-doc sum
  groups on doc_id (second small exchange over only the matching docs).

Portability: per-term scores are rounded to 4 dp before the per-doc sum
(the rounded grid keeps the final rounded sum independent of float
accumulation order — sums of near-grid values sit far from the final
round's half-way boundaries), and idf/length normalization are written
as the same explicit expression tree the DuckDB oracle uses; ties rank
by doc_id. Same discipline as the cosine queries' sequential-fold dot
product (similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc_id, score) for every document matching >= 1 query term.
    score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the standard
    Robertson/Okapi form with the always-positive idf. dl/avgdl is
    computed as the exact integer ratio dl·N/total_tokens (one double
    division, no pre-rounded average)."""
    # r6 shape (guide §2.3 "aggregate before you shuffle", §2.4): the
    # (doc, term) term-frequency table needs NO exchange at all for a
    # |terms|-sized query — per-term occurrence counts are map-side
    # size(filter(tokens, = term)) passes over the token array, unpivoted
    # with stack() and filtered to tf > 0. Value-identical to the old
    # explode → filter → groupBy(doc, dl, term) (count of equal tokens),
    # minus the full token-stream Generate and its (doc_id, term)
    # exchange. The pre-stack projection is persisted because the per-term
    # df aggregate, the scoring join AND the corpus aggregate all read it
    # (one scan + split instead of three).
    from pyspark.storagelevel import StorageLevel

    tokens = F.split(F.col(text_col), " ", -1)

    def _eq(term: str):
        # closure, not a default-arg capture: a two-parameter lambda would
        # be read by F.filter as (element, index)
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter(tokens, _eq(t))).alias(f"__tf_{i}")
        for i, t in enumerate(terms)
    ]
    # r6 second pass (guide §1.2 "don't compute things twice"): persist the
    # pre-stack projection (doc_id, dl, per-term counts — a few ints/doc)
    # and derive BOTH the tf table and the corpus aggregate from it. The
    # old shape persisted post-stack tf and ran the corpus (N, Σdl)
    # aggregate as a SECOND full scan + split of the text — the split is
    # the expensive part of this query, and it ran twice.
    pre = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens).alias("dl"),
        *tf_cols,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    pairs = [c for i, t in enumerate(terms) for c in (F.lit(t), F.col(f"__tf_{i}"))]
    tf = pre.select(
        "doc_id", "dl", F.stack(F.lit(len(terms)), *pairs).alias("term", "tf")
    ).filter(F.col("tf") > 0)
    corpus = pre.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_toks"),
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = F.col("n_docs")
    idf = F.log(
        F.lit(1.0) + (n - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    len_norm = F.lit(1.0) - F.lit(b) + F.lit(b) * (
        F.col("dl") * n / F.col("total_toks")
    )
    term_score = F.round(
        idf * (F.col("tf") * F.lit(k1 + 1.0)) / (F.col("tf") + F.lit(k1) * len_norm),
        4,
    )
    return (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", term_score.alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 4).alias("score"))
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k by BM25, deterministic tie-break on doc_id — plans as
    TakeOrderedAndProject (no global sort materialization)."""
    return (
        bm25_scores(docs, terms, id_col=id_col, text_col=text_col)
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
    )
