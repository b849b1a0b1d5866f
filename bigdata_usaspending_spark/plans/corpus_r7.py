"""Corpus wave 7: retrieval-side additions.

Round 7's mandated work is ledger rotation + the quality-scorer seam (in
corpus_r6 alongside their round-6 siblings); this wave holds the genuinely
new surface:

- ``q_bm25_topk`` — Okapi BM25 lexical retrieval (text.bm25_topk), the
  lexical complement of the ANN family: one corpus scan for per-document
  term frequencies (bounded HOFs, no explode), one 1-row stats aggregate
  broadcast back, TakeOrderedAndProject for the ranking. The ln-idf
  expression tree is mirrored verbatim in the DuckDB oracle (the psi_drift
  ln-parity contract).

Same determinism contract as plans/corpus.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load
from ..operators import text

from .oracle_lib import _BM25_TERMS  # shared across waves (plans/oracle_lib)

_BM25_K = 25


def q_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-25 for a 4-term query over documents: exact int tf/df/dl
    statistics, fixed-order double scoring, ties broken by doc_id — the
    returned set replays engine-exact in SQL."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    return text.bm25_topk(docs, _BM25_TERMS, k=_BM25_K)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_bm25_topk": q_bm25_topk,
}

ROWS_ONLY_QUERIES: set[str] = set()


def _bm25_oracle() -> str:
    from .corpus_ext import _TOKS

    k1, b = 1.2, 0.75
    terms = _BM25_TERMS
    tf_cols = ",\n               ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n               ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    # mirror the Spark expression tree exactly: left-assoc product/divide,
    # left-to-right term sum, identical double literals
    avgdl = "(CAST(s.sdl AS DOUBLE) / CAST(s.n AS DOUBLE))"
    term_exprs = []
    for i in range(len(terms)):
        idf = (
            f"ln({1.0!r} + (CAST(s.n AS DOUBLE) - CAST(s.df{i} AS DOUBLE) + "
            f"{0.5!r}) / (CAST(s.df{i} AS DOUBLE) + {0.5!r}))"
        )
        term_exprs.append(
            f"{idf} * (CAST(d.tf{i} AS DOUBLE) * {k1 + 1.0!r}) / "
            f"(CAST(d.tf{i} AS DOUBLE) + {k1!r} * ({1.0 - b!r} + {b!r} * "
            f"CAST(d.dl AS DOUBLE) / {avgdl}))"
        )
    score = " + ".join(term_exprs)
    return f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
            WHERE text IS NOT NULL
        ),
        d AS (
            SELECT doc_id, len(toks) AS dl,
               {tf_cols}
            FROM t
        ),
        s AS (
            SELECT COUNT(*) AS n, SUM(dl) AS sdl,
               {df_cols}
            FROM d
        )
        SELECT doc_id, bm25 FROM (
            SELECT d.doc_id, {score} AS bm25 FROM d, s
        ) WHERE bm25 > 0
        ORDER BY bm25 DESC, doc_id ASC
        LIMIT {_BM25_K}
    """


ORACLE_SQL: dict[str, str] = {
    "q_bm25_topk": _bm25_oracle(),
}
