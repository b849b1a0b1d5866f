"""Corpus wave 9: the full retrieval stack as oracle queries.

- ``q_hybrid_rrf`` — the named two-modality retrieval
  (retrieval.hybrid_retrieve): BM25 top-25 over documents fused by
  reciprocal rank with brute-force cosine top-10 over embeddings
  (rank fusion is how decontamination triage stays robust when one
  modality misses — paraphrases defeat BM25, rare named entities defeat
  embeddings). Every stage is oracle-exact (BM25's driver-ln idf, the
  fold-cosine kernel, RRF's int-rank arithmetic + list-index-ordered
  fold), so the whole composition replays bit-for-bit in one
  self-contained DuckDB statement. The SQL here is the one
  tests/test_retrieval.py::test_rrf_hybrid_replays_exactly_in_duckdb
  pre-validated in round 8.
- ``q_rerank_topk`` — stage three of the stack: the BM25 batch
  retrieval's candidates re-scored pairwise through the rerank seam
  (scorers.apply_pair_scorer, one Arrow map over O(queries x k)
  candidate rows) with the SQL-pinned TokenOverlapPairScorer (query-term
  coverage: exact int counts, one double divide), per-query top-5.
  The production slot swaps in CrossEncoderPairScorer; the seam, plan
  shape, and window top-k are what this query pins.

- ``q_rrf_grouped`` — per-query fusion of a BATCH retrieval: the BM25
  batch under two (k1, b) parameterizations rank-fused query by query
  (parameter-ensemble fusion — the calibration-free hedge against k1/b
  sensitivity), exercising rrf_fuse_grouped's distributed windows.
- ``q_langid_trained`` — a TRAINED per-language character-trigram naive
  Bayes language-ID (the fastText seat's offline-trainable leg, the
  BigramLMScorer move applied to LID); fit and argmax scoring replay in
  one self-contained SQL statement.
- ``q_dsir_weights`` / ``q_dsir_resample`` — DSIR importance resampling
  (operators/dsir, after Xie et al. 2023): target LM fitted on the
  English slice, source LM on the whole pool, every pool document
  weighted by its per-token likelihood ratio, then an exact-k A-ES draw
  proportional to the weights. The oracle replays BOTH fits, both
  scoring folds, the ratio/pow arithmetic, and the portable-hash draw in
  one self-contained statement.
- ``q_curriculum_phases`` — curriculum phasing: every document tagged
  with an easy->hard difficulty quartile under the corpus-fitted LM;
  thresholds from one mergeable percentile aggregate (bit-identical to
  quantile_cont — the q_quantile_summary bridge) + a broadcast CASE
  map, never a global ntile sort.
- ``q_training_pipeline_v3`` — capstone v3: trained-LID filter →
  bigram-LM perplexity gate at the exact-decimal corpus mean → min-id
  exact dedup → 1/perplexity fluency-weighted A-ES draw; the five-stage
  composition (two trained models included) replays in ONE
  self-contained SQL statement.

Same determinism contract as plans/corpus.py.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import retrieval, text
from .oracle_lib import _BM25_BATCH, _BM25_BATCH_K

_HYBRID_LEX_K = 25  # = corpus_r7._BM25_K, the bm25 oracle's own k
_HYBRID_VEC_K = 10
_HYBRID_K = 15
_RERANK_K = 5


def q_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by reciprocal rank: BM25
    top-25 (corpus_r7's query terms) + brute-force cosine top-10 against
    the vec_id=0 query vector, RRF k=60, fused top-15. Ids align across
    documents and embeddings (the fixtures' contract)."""
    from .corpus_ext import _query_vec_list
    from .oracle_lib import _BM25_TERMS

    docs = load(spark, sf, "documents").select("doc_id", "text")
    emb = load(spark, sf, "embeddings")
    qvec = _query_vec_list(emb)
    return retrieval.hybrid_retrieve(
        docs,
        emb.filter(F.col("vec_id") != 0),
        _BM25_TERMS,
        qvec,
        lex_k=_HYBRID_LEX_K,
        vec_k=_HYBRID_VEC_K,
        k=_HYBRID_K,
    )


def q_rerank_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieve -> rerank: the 4-query BM25 batch's top-10 candidates,
    each joined to its document text (a k-bounded broadcast join — the
    corpus is never rescanned), re-scored by query-term coverage through
    the pairwise seam, per-query top-5 by rerank score, ties ascending
    doc_id."""
    from ..operators.scorers import TokenOverlapPairScorer

    docs = load(spark, sf, "documents").select("doc_id", "text")
    cands = text.bm25_topk_batch(docs, _BM25_BATCH, k=_BM25_BATCH_K)
    qtext = reduce(
        lambda acc, kv: acc.when(F.col("query_id") == kv[0], F.lit(kv[1])),
        [(qid, " ".join(terms)) for qid, terms in _BM25_BATCH.items()],
        F,
    ).otherwise(F.lit(None))
    # candidates are the k-bounded side — THEY broadcast, and the corpus
    # streams through the probe (broadcasting docs would ship the whole
    # corpus to every executor at scale)
    enriched = docs.join(F.broadcast(cands), "doc_id").withColumn(
        "query_text", qtext
    )
    return retrieval.rerank_topk(
        enriched, TokenOverlapPairScorer(), k=_RERANK_K
    ).select("query_id", "doc_id", "rerank")


_DSIR_LAM = 0.7
_DSIR_SEED = 11
_DSIR_K = 100
# BM25 parameter ensemble for the grouped fusion: the stiff-saturation /
# strong-length-normalization config vs a soft-saturation / weak-length
# one — rank-fusing parameterizations is the calibration-free way to
# hedge k1/b sensitivity, the same argument as cross-modality RRF
_ENSEMBLE_A = {"k1": 1.2, "b": 0.75}
_ENSEMBLE_B = {"k1": 2.0, "b": 0.4}
_ENSEMBLE_K = 10


def q_rrf_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """Per-query reciprocal-rank fusion over a BATCH retrieval: the
    4-query BM25 batch scored under two (k1, b) parameterizations in ONE
    corpus scan (bm25_score_hits_multi — tf columns and stats are shared
    across configs), fused query by query via the tagged single-plan
    form (windows partition by query_id — no single-partition stage).
    Output ``(query_id, doc_id, rrf, n_lists)`` top-10 per query."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    hits = text.bm25_score_hits_multi(
        docs,
        _BM25_BATCH,
        configs=[
            (_ENSEMBLE_A["k1"], _ENSEMBLE_A["b"]),
            (_ENSEMBLE_B["k1"], _ENSEMBLE_B["b"]),
        ],
    )
    return retrieval.rrf_fuse_grouped_tagged(
        hits.withColumnRenamed("bm25", "score"),
        list_k=_ENSEMBLE_K,
        k=_ENSEMBLE_K,
    )


def _dsir_frames(spark: SparkSession, sf: str):
    pool = load(spark, sf, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    # target as a boolean Column: both LMs fit from ONE corpus scan
    return pool, F.col("lang") == "en"


def q_langid_trained(spark: SparkSession, sf: str) -> DataFrame:
    """A TRAINED language-ID model through the scorer seam (the fastText
    seat's offline-trainable leg — scorers.TrigramLangIdScorer):
    per-language character-trigram naive Bayes fitted on the corpus's own
    labels (one bounded aggregate), then every document scored in one
    Arrow pass. Case folding happens in the QUERY (F.lower ↔ SQL lower —
    the established cross-engine pair), never in Python."""
    from ..operators.scorers import TrigramLangIdScorer, apply_text_scorer

    docs = load(spark, sf, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("text"), "lang"
    )
    scorer = TrigramLangIdScorer.from_corpus(docs)
    return apply_text_scorer(
        docs.filter(F.col("text").isNotNull()), scorer
    ).select("doc_id", "lang_model", "lp_model")


def q_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document DSIR importance ratios: target LM = the English
    slice, source LM = the whole pool, both fitted as bounded aggregates;
    scoring is ONE Arrow pass evaluating both models."""
    from ..operators.dsir import dsir_score

    pool, target = _dsir_frames(spark, sf)
    return dsir_score(pool, target, lam=_DSIR_LAM).select(
        "doc_id", "lp_target", "lp_source", "log10_ratio", "dsir_weight"
    )


def q_dsir_resample(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR end-to-end: the weights above driving an exact-100 A-ES draw
    without replacement (portable-hash rank keys, so the draw itself
    replays bit-for-bit in SQL). The selected mix shifts toward
    target-like (English) documents without a hard language filter."""
    from ..operators.dsir import dsir_resample

    pool, target = _dsir_frames(spark, sf)
    return dsir_resample(
        pool, target, k=_DSIR_K, lam=_DSIR_LAM, seed=_DSIR_SEED,
        portable=True,
    ).select("doc_id", "lang", "source", "dsir_weight")


_V3_SEED = 13
_V3_K = 50


def q_curriculum_phases(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum phasing — order training data easy -> hard: every
    document tagged with a difficulty phase (1 = most fluent quartile
    under the corpus-fitted bigram LM, 4 = hardest). The scale-correct
    form: exact quartile thresholds from ONE mergeable 1-row
    ``percentile`` aggregate (no sort, no window — a global ntile would
    be a single-partition sort at 100 TB), then a broadcast-scalar CASE
    map. Spark's percentile is bit-identical to DuckDB quantile_cont
    (the q_quantile_summary bridge), so phases replay exactly."""
    from ..operators.scorers import BigramLMScorer, apply_text_scorer
    from .oracle_lib import _LM_LAMBDA

    docs = load(spark, sf, "documents").select("doc_id", "text")
    # _LM_LAMBDA, not _DSIR_LAM: the oracle embeds r8's q_lm_perplexity
    # SQL verbatim, so the fit must share ITS constant structurally
    lm = BigramLMScorer.from_corpus(docs, lam=_LM_LAMBDA)
    # localCheckpoint: the threshold aggregate and the phase map would
    # otherwise each re-run the whole Arrow scoring pass (the v3 persist)
    ppl = (
        apply_text_scorer(docs.filter(F.col("text").isNotNull()), lm)
        .select("doc_id", "perplexity")
        .localCheckpoint()
    )
    th = ppl.agg(
        F.percentile(
            F.col("perplexity"),
            F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
        ).alias("_q")
    ).select(
        F.element_at("_q", 1).alias("_t1"),
        F.element_at("_q", 2).alias("_t2"),
        F.element_at("_q", 3).alias("_t3"),
    )
    return ppl.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "perplexity",
        F.when(F.col("perplexity") <= F.col("_t1"), F.lit(1))
        .when(F.col("perplexity") <= F.col("_t2"), F.lit(2))
        .when(F.col("perplexity") <= F.col("_t3"), F.lit(3))
        .otherwise(F.lit(4))
        .cast("int")
        .alias("phase"),
    )


def q_training_pipeline_v3(spark: SparkSession, sf: str) -> DataFrame:
    """Capstone v3 — the round-9 pieces composed into one curation
    pipeline, every stage a TRAINED model or an exact operator:

    1. TRAINED language ID (TrigramLangIdScorer fitted on the corpus's
       labels) keeps model-predicted-English documents;
    2. a bigram LM fitted ON THE SURVIVORS gates out the
       worse-than-mean-perplexity half (mean = exact-decimal sum /
       count, the describe_stats bridge);
    3. exact dedup keeps the lowest doc_id per identical text, keyed on
       md5(text) — the dedup shuffle never carries the document itself
       (the ``dedup.exact_dedup`` shape; raw text is dropped BEFORE the
       exchange, so only (doc_id, perplexity, 16-byte digest) shuffles);
    4. a derandomized A-ES draw selects 50 docs with probability
       proportional to 1/perplexity (fluency-weighted sampling).

    100-TB shape: two bounded model fits, two Arrow scoring maps, one
    broadcast scalar gate, one dedup shuffle, TakeOrderedAndProject.
    Every double replays bit-for-bit in the self-contained oracle."""
    from pyspark.sql import Window

    from ..operators.sampling import weighted_sample_k
    from ..operators.scorers import (
        BigramLMScorer,
        TrigramLangIdScorer,
        apply_text_scorer,
    )

    docs = load(spark, sf, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("text"), "lang"
    )
    lid = TrigramLangIdScorer.from_corpus(docs)
    # localCheckpoint: three downstream consumers (LM fit, the mean gate,
    # the final draw) would otherwise re-run the LID scoring pass each —
    # materializing the filtered NARROW projection once is the standard
    # inter-stage persist a real pipeline does between curation stages
    kept = (
        apply_text_scorer(docs.filter(F.col("text").isNotNull()), lid)
        .filter(F.col("lang_model") == "en")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    lm = BigramLMScorer.from_corpus(kept, lam=_DSIR_LAM)
    ppl = apply_text_scorer(kept, lm).select("doc_id", "text", "perplexity")
    mean_row = ppl.agg(
        (
            F.sum(F.col("perplexity").cast("decimal(27,7)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_ppl")
    )
    gated = ppl.crossJoin(F.broadcast(mean_row)).filter(
        F.col("perplexity") <= F.col("mean_ppl")
    )
    # dedup key = md5(text), not text: the window's exchange hashes and
    # carries a 16-byte digest instead of the whole document (at 100 TB
    # the shuffle payload is rows x ~32 bytes, not the corpus); text is
    # projected away before the shuffle. md5-collision merging of
    # distinct texts is the same accepted identity proxy as
    # dedup.exact_dedup (dedup.py:78).
    w = Window.partitionBy("_fp").orderBy(F.asc("doc_id"))
    uniq = (
        gated.select(
            "doc_id", "perplexity",
            F.md5(F.col("text").cast("binary")).alias("_fp"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "perplexity")
    )
    sel = weighted_sample_k(
        uniq.withColumn("w_q", F.lit(1.0) / F.col("perplexity")),
        "w_q",
        k=_V3_K,
        salt_cols=["doc_id"],
        seed=_V3_SEED,
        portable=True,
    )
    return sel.select("doc_id", "perplexity")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_hybrid_rrf": q_hybrid_rrf,
    "q_rerank_topk": q_rerank_topk,
    "q_rrf_grouped": q_rrf_grouped,
    "q_langid_trained": q_langid_trained,
    "q_dsir_weights": q_dsir_weights,
    "q_dsir_resample": q_dsir_resample,
    "q_training_pipeline_v3": q_training_pipeline_v3,
    "q_curriculum_phases": q_curriculum_phases,
}

ROWS_ONLY_QUERIES: set[str] = set()


def _hybrid_rrf_oracle() -> str:
    # composed from the two modality oracles so the three contracts can
    # never drift apart; pre-validated bit-for-bit by
    # tests/test_retrieval.py::test_rrf_hybrid_replays_exactly_in_duckdb
    from .corpus_ext import ORACLE_SQL as EXT_ORACLES
    from .corpus_r7 import ORACLE_SQL as R7_ORACLES

    return f"""
        WITH lex AS (
            SELECT doc_id, bm25 AS score FROM ({R7_ORACLES["q_bm25_topk"]})
        ),
        vec AS (
            SELECT vec_id AS doc_id, cosine AS score
            FROM ({EXT_ORACLES["q_embedding_cosine_topk"]})
        ),
        lexr AS (
            SELECT doc_id, 0 AS l,
                   1.0 / (60.0 + CAST(row_number() OVER (
                       ORDER BY score DESC, doc_id ASC) AS DOUBLE)) AS c
            FROM lex
        ),
        vecr AS (
            SELECT doc_id, 1 AS l,
                   1.0 / (60.0 + CAST(row_number() OVER (
                       ORDER BY score DESC, doc_id ASC) AS DOUBLE)) AS c
            FROM vec
        ),
        contribs AS (SELECT * FROM lexr UNION ALL SELECT * FROM vecr),
        fused AS (
            SELECT doc_id,
                   list_reduce(list(c ORDER BY l), (a, b) -> a + b) AS rrf,
                   CAST(COUNT(*) AS INTEGER) AS n_lists
            FROM contribs GROUP BY doc_id
        )
        SELECT doc_id, rrf, n_lists FROM fused
        ORDER BY rrf DESC, doc_id ASC LIMIT {_HYBRID_K}
    """


def _rerank_oracle() -> str:
    # TokenOverlapPairScorer = |distinct_tokens(q) ∩ tokens(d)| /
    # |distinct_tokens(q)|; query token lists are driver-side literals, so
    # the hit count unrolls to per-term list_contains CASE sums — exact
    # ints, ONE double divide, bit-identical to the Python scorer.
    from .corpus_r8 import ORACLE_SQL as R8_ORACLES
    from .corpus_ext import _TOKS

    branches = []
    for qid, terms in _BM25_BATCH.items():
        hits = " + ".join(
            f"CASE WHEN list_contains(dtoks, '{t}') THEN 1 ELSE 0 END"
            for t in dict.fromkeys(terms)
        )
        branches.append(
            f"SELECT query_id, doc_id, CAST({hits} AS DOUBLE) / "
            f"{float(len(dict.fromkeys(terms)))!r} AS rerank "
            f"FROM joined WHERE query_id = '{qid}'"
        )
    scored = "\n            UNION ALL\n            ".join(branches)
    return f"""
        WITH cand AS ({R8_ORACLES["q_bm25_batch"]}),
        joined AS (
            SELECT c.query_id, c.doc_id, {_TOKS} AS dtoks
            FROM cand c JOIN documents ON documents.doc_id = c.doc_id
        ),
        scored AS (
            {scored}
        )
        SELECT query_id, doc_id, rerank FROM (
            SELECT query_id, doc_id, rerank,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY rerank DESC, doc_id ASC
                   ) AS rn
            FROM scored
        ) WHERE rn <= {_RERANK_K}
        ORDER BY query_id, rerank DESC, doc_id ASC
    """


def _lm_blocks(tag: str, fit_where: str) -> str:
    """CTE fragments fitting one interpolated bigram LM on the pool
    events restricted by ``fit_where`` and scoring ALL pool events under
    it with BigramLMScorer.score_batch's exact fallback semantics:
    unseen context -> bigram leg 0.0, unseen word -> add-one unigram leg
    (LEFT joins + COALESCE replicate bi.get/ctx.get/uni.get). The fold
    replays the scorer's left-to-right log10 sum (0.0 + x == x
    bit-exact)."""
    lam = _DSIR_LAM
    return f"""
        uni{tag} AS (
            SELECT w, COUNT(*) AS c FROM pevents WHERE {fit_where} GROUP BY w
        ),
        ctx{tag} AS (
            SELECT prev, COUNT(*) AS c FROM pevents WHERE {fit_where}
            GROUP BY prev
        ),
        bi{tag} AS (
            SELECT prev, w, COUNT(*) AS c FROM pevents WHERE {fit_where}
            GROUP BY prev, w
        ),
        tot{tag} AS (
            SELECT CAST(SUM(c) AS DOUBLE) + CAST(COUNT(*) AS DOUBLE) + 1.0
                   AS tv1
            FROM uni{tag}
        ),
        terms{tag} AS (
            SELECT p.doc_id, p.i,
                   log10(
                       {lam!r} * (CASE WHEN cx.c IS NULL THEN 0.0
                                       ELSE CAST(COALESCE(b.c, 0) AS DOUBLE)
                                            / CAST(cx.c AS DOUBLE) END)
                       + {1.0 - lam!r}
                         * ((CAST(COALESCE(u.c, 0) AS DOUBLE) + 1.0)
                            / tot.tv1)
                   ) AS lp
            FROM pevents p
            LEFT JOIN bi{tag} b ON b.prev = p.prev AND b.w = p.w
            LEFT JOIN ctx{tag} cx ON cx.prev = p.prev
            LEFT JOIN uni{tag} u ON u.w = p.w
            CROSS JOIN tot{tag} tot
        ),
        agg{tag} AS (
            SELECT doc_id,
                   list_reduce(list(lp ORDER BY i), (a, b) -> a + b) AS lp
            FROM terms{tag} GROUP BY doc_id
        )"""


def _dsir_scored_sql() -> str:
    from .corpus_ext import _TOKS

    return f"""
        WITH pool AS (
            SELECT doc_id, lang, source, {_TOKS} AS toks FROM documents
            WHERE text IS NOT NULL
        ),
        pseq AS (
            SELECT doc_id, lang, source,
                   list_prepend('<s>', list_append(toks, '</s>')) AS s,
                   len(toks) + 1 AS n
            FROM pool
        ),
        pevents0 AS (
            SELECT doc_id, lang, s, unnest(generate_series(2, len(s))) AS i
            FROM pseq
        ),
        pevents AS (
            SELECT doc_id, lang, i, s[i] AS w, s[i - 1] AS prev FROM pevents0
        ),
        {_lm_blocks("T", "lang = 'en'")},
        {_lm_blocks("S", "TRUE")},
        scored AS (
            SELECT q.doc_id, q.lang, q.source,
                   lt.lp AS lp_target, ls.lp AS lp_source,
                   (lt.lp - ls.lp) / CAST(q.n AS DOUBLE) AS log10_ratio,
                   pow(10.0, (lt.lp - ls.lp) / CAST(q.n AS DOUBLE))
                       AS dsir_weight
            FROM pseq q
            JOIN aggT lt ON lt.doc_id = q.doc_id
            JOIN aggS ls ON ls.doc_id = q.doc_id
        )"""


def _dsir_weights_oracle() -> str:
    return f"""
        {_dsir_scored_sql()}
        SELECT doc_id, lp_target, lp_source, log10_ratio, dsir_weight
        FROM scored
    """


def _dsir_resample_oracle() -> str:
    # the A-ES draw replayed verbatim (q_weighted_sample's bridge):
    # ln of the scaled 60-bit md5 hash of 'doc_id|seed', divided by the
    # weight, global top-k
    return f"""
        {_dsir_scored_sql()}
        SELECT doc_id, lang, source, dsir_weight FROM (
            SELECT doc_id, lang, source, dsir_weight,
                   ln((CAST(('0x' || substr(md5(
                           CAST(doc_id AS VARCHAR) || '|{_DSIR_SEED}'
                       ), 1, 15)) AS BIGINT) + 1.0) / 1152921504606846976.0)
                   / dsir_weight AS _wkey
            FROM scored
            WHERE dsir_weight > 0 AND NOT isnan(dsir_weight)
        )
        ORDER BY _wkey DESC, doc_id ASC
        LIMIT {_DSIR_K}
    """


def _rrf_grouped_oracle() -> str:
    from .oracle_lib import _bm25_batch_oracle

    la = _bm25_batch_oracle(k=_ENSEMBLE_K, **_ENSEMBLE_A)
    lb = _bm25_batch_oracle(k=_ENSEMBLE_K, **_ENSEMBLE_B)
    return f"""
        WITH la AS (SELECT query_id, doc_id, bm25 AS score FROM ({la})),
        lb AS (SELECT query_id, doc_id, bm25 AS score FROM ({lb})),
        lar AS (
            SELECT query_id, doc_id, 0 AS l,
                   1.0 / (60.0 + CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS DOUBLE)) AS c
            FROM la
        ),
        lbr AS (
            SELECT query_id, doc_id, 1 AS l,
                   1.0 / (60.0 + CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS DOUBLE)) AS c
            FROM lb
        ),
        contribs AS (SELECT * FROM lar UNION ALL SELECT * FROM lbr),
        fused AS (
            SELECT query_id, doc_id,
                   list_reduce(list(c ORDER BY l), (a, b) -> a + b) AS rrf,
                   CAST(COUNT(*) AS INTEGER) AS n_lists
            FROM contribs GROUP BY query_id, doc_id
        )
        SELECT query_id, doc_id, rrf, n_lists FROM (
            SELECT query_id, doc_id, rrf, n_lists,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY rrf DESC, doc_id ASC
                   ) AS rn
            FROM fused
        ) WHERE rn <= {_ENSEMBLE_K}
        ORDER BY query_id, rrf DESC, doc_id ASC
    """


def _langid_trained_oracle() -> str:
    # the whole model — per-language trigram fit AND argmax scoring — in
    # one self-contained statement: events enumerate character trigrams
    # (substr over generate_series; empty for len < 3), add-one-smoothed
    # per-language likelihoods replay the scorer's IEEE tree, the fold is
    # position-ordered list_reduce, and docs with no events score 0.0 for
    # every language via the doc x lang grid
    return """
        WITH d AS (
            SELECT doc_id, lower(text) AS s, lang FROM documents
            WHERE text IS NOT NULL
        ),
        ev AS (
            SELECT doc_id, i, substr(s, CAST(i AS INTEGER), 3) AS tri
            FROM (
                SELECT doc_id, s,
                       unnest(generate_series(1, length(s) - 2)) AS i
                FROM d
            )
        ),
        fit_ev AS (
            SELECT d.lang, e.tri FROM ev e
            JOIN d ON d.doc_id = e.doc_id
            WHERE d.lang IS NOT NULL
        ),
        cnt AS (SELECT lang, tri, COUNT(*) AS c FROM fit_ev GROUP BY lang, tri),
        tot AS (SELECT lang, CAST(SUM(c) AS DOUBLE) AS t FROM cnt GROUP BY lang),
        vv AS (
            SELECT CAST(COUNT(DISTINCT tri) AS DOUBLE) + 1.0 AS v1 FROM cnt
        ),
        langs AS (SELECT DISTINCT lang FROM cnt),
        terms AS (
            SELECT e.doc_id, e.i, l.lang,
                   log10((CAST(COALESCE(c.c, 0) AS DOUBLE) + 1.0)
                         / (tot.t + vv.v1)) AS lp
            FROM ev e
            CROSS JOIN langs l
            JOIN tot ON tot.lang = l.lang
            LEFT JOIN cnt c ON c.lang = l.lang AND c.tri = e.tri
            CROSS JOIN vv
        ),
        folded AS (
            SELECT doc_id, lang,
                   list_reduce(list(lp ORDER BY i), (a, b) -> a + b) AS lp
            FROM terms GROUP BY doc_id, lang
        ),
        grid AS (SELECT d.doc_id, l.lang FROM d CROSS JOIN langs l),
        scoredl AS (
            SELECT g.doc_id, g.lang, COALESCE(f.lp, 0.0) AS lp
            FROM grid g
            LEFT JOIN folded f ON f.doc_id = g.doc_id AND f.lang = g.lang
        )
        SELECT doc_id, lang AS lang_model, lp AS lp_model FROM (
            SELECT doc_id, lang, lp,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY lp DESC, lang ASC
                   ) AS rn
            FROM scoredl
        ) WHERE rn = 1
    """


def _pipeline_v3_oracle() -> str:
    # one self-contained statement: LID fit+argmax (the q_langid_trained
    # machinery) -> kept docs -> bigram-LM fit+perplexity ON THE
    # SURVIVORS (the q_lm_perplexity machinery over kept) -> exact-
    # decimal mean gate (describe_stats bridge) -> min-id dedup ->
    # 1/perplexity A-ES draw (q_weighted_sample bridge)
    lam = _DSIR_LAM
    return f"""
        WITH d AS (
            SELECT doc_id, lower(text) AS s, lang FROM documents
            WHERE text IS NOT NULL
        ),
        ev AS (
            SELECT doc_id, i, substr(s, CAST(i AS INTEGER), 3) AS tri
            FROM (
                SELECT doc_id, s,
                       unnest(generate_series(1, length(s) - 2)) AS i
                FROM d
            )
        ),
        fit_ev AS (
            SELECT d.lang, e.tri FROM ev e
            JOIN d ON d.doc_id = e.doc_id
            WHERE d.lang IS NOT NULL
        ),
        cnt AS (SELECT lang, tri, COUNT(*) AS c FROM fit_ev GROUP BY lang, tri),
        tot AS (SELECT lang, CAST(SUM(c) AS DOUBLE) AS t FROM cnt GROUP BY lang),
        vv AS (
            SELECT CAST(COUNT(DISTINCT tri) AS DOUBLE) + 1.0 AS v1 FROM cnt
        ),
        langs AS (SELECT DISTINCT lang FROM cnt),
        lidterms AS (
            SELECT e.doc_id, e.i, l.lang,
                   log10((CAST(COALESCE(c.c, 0) AS DOUBLE) + 1.0)
                         / (tot.t + vv.v1)) AS lp
            FROM ev e
            CROSS JOIN langs l
            JOIN tot ON tot.lang = l.lang
            LEFT JOIN cnt c ON c.lang = l.lang AND c.tri = e.tri
            CROSS JOIN vv
        ),
        lidfold AS (
            SELECT doc_id, lang,
                   list_reduce(list(lp ORDER BY i), (a, b) -> a + b) AS lp
            FROM lidterms GROUP BY doc_id, lang
        ),
        lidgrid AS (SELECT d.doc_id, l.lang FROM d CROSS JOIN langs l),
        lidscore AS (
            SELECT g.doc_id, g.lang, COALESCE(f.lp, 0.0) AS lp
            FROM lidgrid g
            LEFT JOIN lidfold f ON f.doc_id = g.doc_id AND f.lang = g.lang
        ),
        pred AS (
            SELECT doc_id, lang AS lang_model FROM (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY doc_id ORDER BY lp DESC, lang ASC
                       ) AS rn
                FROM lidscore
            ) WHERE rn = 1
        ),
        kept AS (
            SELECT d.doc_id, d.s FROM d
            JOIN pred ON pred.doc_id = d.doc_id
            WHERE pred.lang_model = 'en'
        ),
        kt AS (
            SELECT doc_id, s,
                   string_split_regex(trim(s), '\\s+') AS toks
            FROM kept
        ),
        kseq AS (
            SELECT doc_id, s,
                   list_prepend('<s>', list_append(toks, '</s>')) AS q,
                   len(toks) + 1 AS n
            FROM kt
        ),
        kpos0 AS (
            SELECT doc_id, q, unnest(generate_series(2, len(q))) AS i
            FROM kseq
        ),
        kpos AS (
            SELECT doc_id, i, q[i] AS w, q[i - 1] AS prev FROM kpos0
        ),
        kuni AS (SELECT w, COUNT(*) AS c FROM kpos GROUP BY w),
        kctx AS (SELECT prev, COUNT(*) AS c FROM kpos GROUP BY prev),
        kbi AS (SELECT prev, w, COUNT(*) AS c FROM kpos GROUP BY prev, w),
        ktot AS (
            SELECT CAST(SUM(c) AS DOUBLE) + CAST(COUNT(*) AS DOUBLE) + 1.0
                   AS tv1
            FROM kuni
        ),
        kterms AS (
            SELECT p.doc_id, p.i,
                   log10(
                       {lam!r} * (CAST(b.c AS DOUBLE) / CAST(cx.c AS DOUBLE))
                       + {1.0 - lam!r}
                         * ((CAST(u.c AS DOUBLE) + 1.0) / ktot.tv1)
                   ) AS lp
            FROM kpos p
            JOIN kbi b ON b.prev = p.prev AND b.w = p.w
            JOIN kctx cx ON cx.prev = p.prev
            JOIN kuni u ON u.w = p.w
            CROSS JOIN ktot
        ),
        kagg AS (
            SELECT doc_id,
                   list_reduce(list(lp ORDER BY i), (a, b) -> a + b) AS lp
            FROM kterms GROUP BY doc_id
        ),
        ppl AS (
            SELECT kseq.doc_id, kseq.s,
                   pow(10.0, -kagg.lp / CAST(kseq.n AS DOUBLE)) AS perplexity
            FROM kagg JOIN kseq ON kagg.doc_id = kseq.doc_id
        ),
        m AS (
            SELECT CAST(CAST(SUM(CAST(perplexity AS DECIMAL(27,7)))
                             AS VARCHAR) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS mean_ppl
            FROM ppl
        ),
        gated AS (
            SELECT p.doc_id, p.s, p.perplexity FROM ppl p, m
            WHERE p.perplexity <= m.mean_ppl
        ),
        uniq AS (
            SELECT doc_id, perplexity FROM (
                SELECT doc_id, perplexity,
                       row_number() OVER (
                           PARTITION BY md5(s) ORDER BY doc_id ASC
                       ) AS rn
                FROM gated
            ) WHERE rn = 1
        )
        SELECT doc_id, perplexity FROM (
            SELECT doc_id, perplexity,
                   ln((CAST(('0x' || substr(md5(
                           CAST(doc_id AS VARCHAR) || '|{_V3_SEED}'
                       ), 1, 15)) AS BIGINT) + 1.0) / 1152921504606846976.0)
                   / (1.0 / perplexity) AS _wkey
            FROM uniq
            WHERE (1.0 / perplexity) > 0 AND NOT isnan(1.0 / perplexity)
        )
        ORDER BY _wkey DESC, doc_id ASC
        LIMIT {_V3_K}
    """


def _curriculum_oracle() -> str:
    # the LM machinery is exactly q_lm_perplexity's (same fit set, same
    # lam); thresholds via quantile_cont (bit-identical to Spark's
    # percentile — the q_quantile_summary bridge), phases via the same
    # CASE tree over identical doubles
    from .corpus_r8 import ORACLE_SQL as R8_ORACLES

    return f"""
        WITH p AS (
            SELECT doc_id, perplexity
            FROM ({R8_ORACLES["q_lm_perplexity"]})
        ),
        th AS (
            SELECT quantile_cont(perplexity, [0.25, 0.5, 0.75]) AS q FROM p
        )
        SELECT doc_id, perplexity,
               CAST(CASE WHEN perplexity <= q[1] THEN 1
                         WHEN perplexity <= q[2] THEN 2
                         WHEN perplexity <= q[3] THEN 3
                         ELSE 4 END AS INTEGER) AS phase
        FROM p, th
    """


ORACLE_SQL: dict[str, str] = {
    "q_hybrid_rrf": _hybrid_rrf_oracle(),
    "q_rerank_topk": _rerank_oracle(),
    "q_rrf_grouped": _rrf_grouped_oracle(),
    "q_langid_trained": _langid_trained_oracle(),
    "q_dsir_weights": _dsir_weights_oracle(),
    "q_dsir_resample": _dsir_resample_oracle(),
    "q_training_pipeline_v3": _pipeline_v3_oracle(),
    "q_curriculum_phases": _curriculum_oracle(),
}
