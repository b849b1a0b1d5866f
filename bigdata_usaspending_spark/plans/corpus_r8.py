"""Corpus wave 8: retrieval at query-log scale + a real LM in the seam.

- ``q_bm25_batch`` — Okapi BM25 for MANY queries in one corpus pass
  (text.bm25_topk_batch): the real retrieval shape in a training-data
  pipeline (decontamination triage and retrieval-quality probes run
  thousands of benchmark queries, not one — generalizing the reference's
  top-k dashboard retrieval, app/ml_app.py:120-127, exactly the way
  q_window_topk_per_group generalized O2). Union-vocabulary tf columns in
  one scan, zero-score entries dropped array-side before the explode, one
  window shuffle on query_id for the per-query top-k. Same ln-parity
  contract as q_bm25_topk.
- ``q_lm_perplexity`` — per-document log10-probability + perplexity from
  an order-2 interpolated n-gram LM FITTED ON the corpus
  (scorers.BigramLMScorer, VERDICT r7 #5): the quality-scorer seam's
  KenLM seat holding a real, offline-trainable model instead of an
  import-guarded stub. The DuckDB oracle replays the whole thing —
  fitting (unigram/context/bigram counts) and scoring (fixed-fold log10
  sums via list_reduce) — self-contained in SQL, bit-for-bit.

Same determinism contract as plans/corpus.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import text

# shared across waves — moved verbatim to plans/oracle_lib (VERDICT r14 #7)
from .oracle_lib import (
    _BM25_BATCH,
    _BM25_BATCH_K,
    _LM_LAMBDA,
    _bm25_batch_oracle,
)


def q_bm25_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Per-query BM25 top-10 for a 4-query batch over documents: one
    corpus scan for the union vocabulary, driver-side stats row, per-query
    scores built array-side, window top-k on query_id. Ties break on
    ascending doc_id, so the returned set replays engine-exact in SQL."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    return text.bm25_topk_batch(docs, _BM25_BATCH, k=_BM25_BATCH_K)


def q_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Fit the bigram LM on documents, then score documents through the
    pluggable scorer seam (one Arrow mapInPandas pass — the exact
    execution shape of a production KenLM scorer, with the model fitted
    by one bounded Spark aggregate instead of downloaded)."""
    from ..operators.scorers import BigramLMScorer, apply_text_scorer

    docs = load(spark, sf, "documents").select("doc_id", "text")
    scorer = BigramLMScorer.from_corpus(docs, lam=_LM_LAMBDA)
    return apply_text_scorer(
        docs.filter(F.col("text").isNotNull()), scorer
    ).select("doc_id", "log10_prob", "perplexity")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_bm25_batch": q_bm25_batch,
    "q_lm_perplexity": q_lm_perplexity,
}

ROWS_ONLY_QUERIES: set[str] = set()


def _lm_perplexity_oracle() -> str:
    from .corpus_ext import _TOKS

    lam = _LM_LAMBDA
    # the whole model — fit AND score — in one self-contained statement:
    # pos enumerates scoring events (<s> w1 … wn </s>, positions 2..len),
    # so uni = emitted-token counts, ctx = context counts, bi = bigram
    # counts, all exact ints; each event's probability then replays
    # BigramLMScorer.score_batch's IEEE tree and list_reduce(ORDER BY i)
    # replays its left-to-right log10 fold (0.0 + x == x bit-exact).
    return f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
            WHERE text IS NOT NULL
        ),
        seq AS (
            SELECT doc_id,
                   list_prepend('<s>', list_append(toks, '</s>')) AS s,
                   len(toks) + 1 AS n
            FROM t
        ),
        pos0 AS (
            SELECT doc_id, s, unnest(generate_series(2, len(s))) AS i
            FROM seq
        ),
        pos AS (
            SELECT doc_id, i, s[i] AS w, s[i - 1] AS prev FROM pos0
        ),
        uni AS (SELECT w, COUNT(*) AS c FROM pos GROUP BY w),
        ctx AS (SELECT prev, COUNT(*) AS c FROM pos GROUP BY prev),
        bi AS (SELECT prev, w, COUNT(*) AS c FROM pos GROUP BY prev, w),
        tot AS (
            SELECT CAST(SUM(c) AS DOUBLE) + CAST(COUNT(*) AS DOUBLE) + 1.0
                   AS tv1
            FROM uni
        ),
        terms AS (
            SELECT p.doc_id, p.i,
                   log10(
                       {lam!r} * (CAST(b.c AS DOUBLE) / CAST(cx.c AS DOUBLE))
                       + {1.0 - lam!r}
                         * ((CAST(u.c AS DOUBLE) + 1.0) / tot.tv1)
                   ) AS lp
            FROM pos p
            JOIN bi b ON b.prev = p.prev AND b.w = p.w
            JOIN ctx cx ON cx.prev = p.prev
            JOIN uni u ON u.w = p.w
            CROSS JOIN tot
        ),
        agg AS (
            SELECT doc_id,
                   list_reduce(list(lp ORDER BY i), (a, b) -> a + b) AS lp
            FROM terms GROUP BY doc_id
        )
        SELECT seq.doc_id, agg.lp AS log10_prob,
               pow(10.0, -agg.lp / CAST(seq.n AS DOUBLE)) AS perplexity
        FROM agg JOIN seq ON agg.doc_id = seq.doc_id
    """


ORACLE_SQL: dict[str, str] = {
    "q_bm25_batch": _bm25_batch_oracle(),
    "q_lm_perplexity": _lm_perplexity_oracle(),
}
