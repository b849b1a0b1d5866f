"""Corpus wave 6: scale-posture variants of existing audit operators.

Round 6 is hygiene-focused (VERDICT r5): the sketch builds moved to
executor-side tree merges, and this wave registers the queries that
DEMONSTRATE the 100-TB posture of operators whose registered form was the
audit/exact one:

- ``q_table_profile_hll`` — the ANALYZE-style profiler with distinct
  counts from HLL (approx_count_distinct): ONE pass with no
  len(columns)-fold expand of the scan, which is the plan a wide table at
  100 TB needs (the exact COUNT(DISTINCT) form expands the scan per
  column before the partial aggregate). Audited per the
  hll_distinct_audit contract: the exact distinct count is the
  oracle-verified witness, ``nd_est_ok`` pins the estimate within 15%.

Same determinism contract as plans/corpus.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.aggregates import profile_table_hll_audit


def q_table_profile_hll(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE profile of orders on the 100-TB path: HLL distinct counts
    (one pass, no per-column scan expand) audited against the exact
    witness via a 6-row broadcast join of two separately-optimal
    aggregates (aggregates.profile_table_hll_audit). Production drops the
    witness via profile_table(exact_distinct=False); this registered form
    keeps it so the HLL path is accuracy-gated."""
    orders = load(spark, sf, "orders")
    return profile_table_hll_audit(orders)


def q_langid_scorer(spark: SparkSession, sf: str) -> DataFrame:
    """Language ID through the PLUGGABLE scorer seam
    (operators/scorers.apply_text_scorer): the default
    HeuristicLangIdScorer runs as one Arrow-batched mapInPandas pass with
    lazy per-task model load — the exact plumbing a fastText/CLD3 model
    uses — and its votes are pinned to the SQL ``text.langid`` oracle, so
    the seam's default can never drift from the oracle-checked column."""
    from ..operators.scorers import HeuristicLangIdScorer, apply_text_scorer

    docs = load(spark, sf, "documents").select("doc_id", "text")
    return apply_text_scorer(docs, HeuristicLangIdScorer()).select(
        "doc_id", "lang_pred"
    )


def q_commonness_scorer(spark: SparkSession, sf: str) -> DataFrame:
    """The QUALITY twin of q_langid_scorer (VERDICT r6 #3): corpus-
    frequency commonness through the pluggable scorer seam. The vocabulary
    histogram is fitted once (scorers.VocabCommonnessScorer.from_corpus —
    one bounded aggregate, cap-guarded collect) and then scoring is a pure
    Arrow mapInPandas map, the exact execution shape of the KenLM
    perplexity model this heuristic stands in for. Pinned row-for-row and
    bit-for-bit to the text.commonness_scores SQL oracle, so the seam's
    quality default can never drift from the oracle-checked column."""
    from ..operators.scorers import VocabCommonnessScorer, apply_text_scorer

    docs = load(spark, sf, "documents").select("doc_id", "text")
    scorer = VocabCommonnessScorer.from_corpus(docs)
    return apply_text_scorer(
        docs.filter(F.col("text").isNotNull()), scorer
    ).select("doc_id", "commonness")


def q_skew_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Grouping-key skew diagnostic over lineitem's supplier key
    (operators/skew.skew_profile): per-key counts in one partial-agg
    shuffle, reduced to n_keys / n_rows / hottest-key count / count
    percentiles / max-over-median skew ratio — the number that decides
    between plain, AQE-skew, and salted join/agg strategies before
    running the expensive job. Exact counts + the percentile bridge, so
    fully oracle-checked."""
    from ..operators.skew import skew_profile

    li = load(spark, sf, "lineitem")
    return skew_profile(li, "l_suppkey")


def q_decontaminate_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-level benchmark decontamination
    (similarity.semantic_decontaminate): vectors with vec_id % 20 == 0
    play the eval benchmark; every remaining corpus vector with cosine
    >= 0.8 to ANY benchmark vector is dropped — the semantic complement
    of q_decontaminate's n-gram shingle screen, catching paraphrased
    leakage. One broadcast + one kernel scan, no join; fold cosines
    replay exactly in SQL."""
    from ..operators.similarity import semantic_decontaminate

    emb = load(spark, sf, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    return semantic_decontaminate(corpus, bench, threshold=0.8).select(
        "vec_id", "label"
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_table_profile_hll": q_table_profile_hll,
    "q_langid_scorer": q_langid_scorer,
    "q_commonness_scorer": q_commonness_scorer,
    "q_skew_profile": q_skew_profile,
    "q_decontaminate_semantic": q_decontaminate_semantic,
}

ROWS_ONLY_QUERIES: set[str] = set()

_PROFILE_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
)

ORACLE_SQL: dict[str, str] = {
    # Same exact-profile witness as q_table_profile, plus the pinned-TRUE
    # HLL accuracy boolean. Output order: the driver sorts rows/columns
    # before hashing, so UNION ALL order is immaterial.
    "q_table_profile_hll": "\n        UNION ALL\n        ".join(
        f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
               COUNT({c}) AS n_non_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_str,
               CAST(MAX({c}) AS VARCHAR) AS max_str,
               TRUE AS nd_est_ok
        FROM orders"""
        for c in _PROFILE_COLS
    ),
}


def _langid_oracle() -> str:
    # same CASE expression the SQL langid oracle uses (corpus_ext) — the
    # scorer-seam default is pinned to it row-for-row
    from .corpus_ext import _LANGID_CASE

    return f"SELECT doc_id, {_LANGID_CASE} AS lang_pred FROM documents"


ORACLE_SQL["q_langid_scorer"] = _langid_oracle()


def _commonness_oracle() -> str:
    # the scorer-seam quality default is pinned to the exact SQL the
    # q_text_commonness operator oracle uses (corpus_ext)
    from .corpus_ext import ORACLE_SQL as _EXT_ORACLES

    return _EXT_ORACLES["q_text_commonness"]


ORACLE_SQL["q_commonness_scorer"] = _commonness_oracle()

ORACLE_SQL["q_skew_profile"] = """
WITH counts AS (
    SELECT l_suppkey, COUNT(*) AS c FROM lineitem GROUP BY l_suppkey
),
s AS (
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           MAX(c) AS max_count,
           quantile_cont(CAST(c AS DOUBLE), [0.5, 0.9, 0.99]) AS _p
    FROM counts
)
SELECT n_keys, n_rows, max_count,
       _p[1] AS p50_count, _p[2] AS p90_count, _p[3] AS p99_count,
       CAST(max_count AS DOUBLE) / _p[1] AS skew_ratio
FROM s
"""


def _semantic_decon_oracle() -> str:
    # the same sequential-fold cosine the kernel computes (corpus_ext
    # bridge); NOT EXISTS replays the per-row "any benchmark >= t" test
    from .corpus_ext import _cosine_sql

    cos = _cosine_sql("c.embedding", "b.embedding")
    return f"""
        SELECT c.vec_id, c.label
        FROM embeddings c
        WHERE c.vec_id % 20 <> 0
          AND NOT EXISTS (
            SELECT 1 FROM embeddings b
            WHERE b.vec_id % 20 = 0 AND {cos} >= 0.8
          )
    """


ORACLE_SQL["q_decontaminate_semantic"] = _semantic_decon_oracle()


def q_training_pipeline_v2(spark: SparkSession, sf: str) -> DataFrame:
    """The round-6 capstone composition — the modern corpus-curation run
    as ONE oracle-checked dataflow: quality filters -> language-ID gate ->
    SEMANTIC benchmark decontamination (embedding cosine, the paraphrase
    screen) -> exact dedup (min-id survivor per fingerprint) ->
    quality-WEIGHTED exact-k sampling (derandomized A-ES, token count as
    weight). Extends q_training_data_pipeline with the two stages a
    production pipeline adds: embedding-level leakage removal and a
    weighted (not uniform) final draw. Every stage is a pure map, one
    hash shuffle, or a broadcast kernel pass; the whole pipeline replays
    bit-for-bit in SQL."""
    from pyspark.sql import Window

    from ..operators import text
    from ..operators.sampling import weighted_sample_k
    from ..operators.similarity import semantic_decontaminate

    docs = load(spark, sf, "documents")
    emb = load(spark, sf, "embeddings")
    quality = docs.select(
        "doc_id",
        "text",
        text.token_count("text", "n_tokens"),
        text.punct_ratio("text").alias("punct_ratio"),
        text.langid("text"),
    ).filter(
        (F.col("n_tokens") >= 5)
        & (F.col("punct_ratio") < 0.25)
        & (F.col("lang_pred") == "en")
    )
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    clean = semantic_decontaminate(
        emb.filter(F.col("vec_id") % 20 != 0), bench, threshold=0.8
    ).select(F.col("vec_id").alias("doc_id"))
    decon = quality.join(clean, "doc_id", "semi")
    w = Window.partitionBy(text.fingerprint("text")).orderBy(F.asc("doc_id"))
    survivors = (
        decon.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "text", "punct_ratio")
    )
    return weighted_sample_k(
        survivors, "n_tokens", k=25, salt_cols=["doc_id"], seed=11,
        portable=True,
    )


QUERIES["q_training_pipeline_v2"] = q_training_pipeline_v2


def _pipeline_v2_oracle() -> str:
    from .corpus_ext import _LANGID_CASE, _NORMALIZED, _TOKS, _cosine_sql

    cos = _cosine_sql("c.embedding", "b.embedding")
    return f"""
        WITH quality AS (
            SELECT doc_id, text,
                   CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
                   CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                       / CAST(length(text) AS DOUBLE) AS punct_ratio,
                   {_LANGID_CASE} AS lang_pred
            FROM documents
        ),
        filtered AS (
            SELECT * FROM quality
            WHERE n_tokens >= 5 AND punct_ratio < 0.25 AND lang_pred = 'en'
        ),
        clean_ids AS (
            SELECT c.vec_id FROM embeddings c
            WHERE c.vec_id % 20 <> 0 AND NOT EXISTS (
                SELECT 1 FROM embeddings b
                WHERE b.vec_id % 20 = 0 AND {cos} >= 0.8
            )
        ),
        decon AS (
            SELECT f.* FROM filtered f
            WHERE EXISTS (SELECT 1 FROM clean_ids ci WHERE ci.vec_id = f.doc_id)
        ),
        survivors AS (
            SELECT doc_id, n_tokens, lang_pred FROM (
                SELECT doc_id, n_tokens, lang_pred,
                       row_number() OVER (PARTITION BY md5({_NORMALIZED})
                                          ORDER BY doc_id ASC) AS rn
                FROM decon
            ) WHERE rn = 1
        )
        SELECT doc_id, n_tokens, lang_pred FROM (
            SELECT doc_id, n_tokens, lang_pred,
                   ln((CAST(('0x' || substr(md5(
                           CAST(doc_id AS VARCHAR) || '|11'
                       ), 1, 15)) AS BIGINT) + 1.0) / 1152921504606846976.0)
                   / CAST(n_tokens AS DOUBLE) AS _wkey
            FROM survivors
            WHERE CAST(n_tokens AS DOUBLE) > 0
        )
        ORDER BY _wkey DESC, doc_id ASC
        LIMIT 25
    """


ORACLE_SQL["q_training_pipeline_v2"] = _pipeline_v2_oracle()


def q_drift_psi(spark: SparkSession, sf: str) -> DataFrame:
    """Population-Stability-Index drift gate between the year's two halves
    of order totals (timeseries.psi_drift): fixed 20-bucket grid over
    [0, 600000), empty-on-either-side buckets skipped and counted, PSI
    summed by a bin-sorted left fold so the double replays exactly. The
    between-snapshot distribution check a production ingest runs before
    accepting a batch."""
    from ..functions import month_of
    from ..operators.timeseries import psi_drift

    orders = load(spark, sf, "orders")
    base = orders.filter(month_of("o_orderdate") <= 6)
    cur = orders.filter(month_of("o_orderdate") > 6)
    return psi_drift(base, cur, "o_totalprice", lo=0.0, hi=600000.0, nbins=20)


QUERIES["q_drift_psi"] = q_drift_psi

_PSI_BIN = (
    "LEAST(GREATEST(CAST(floor((CAST(o_totalprice AS DOUBLE) - 0.0) * 20.0 "
    "/ 600000.0) AS BIGINT), 0), 19)"
)

ORACLE_SQL["q_drift_psi"] = f"""
WITH pb AS (
    SELECT {_PSI_BIN} AS bin, COUNT(*) AS pn FROM orders
    WHERE CAST(month(o_orderdate) AS INT) <= 6
      AND o_totalprice IS NOT NULL AND NOT isnan(CAST(o_totalprice AS DOUBLE))
    GROUP BY 1
),
qb AS (
    SELECT {_PSI_BIN} AS bin, COUNT(*) AS qn FROM orders
    WHERE CAST(month(o_orderdate) AS INT) > 6
      AND o_totalprice IS NOT NULL AND NOT isnan(CAST(o_totalprice AS DOUBLE))
    GROUP BY 1
),
j AS (
    SELECT COALESCE(pb.bin, qb.bin) AS bin,
           COALESCE(pn, 0) AS pn, COALESCE(qn, 0) AS qn
    FROM pb FULL JOIN qb ON pb.bin = qb.bin
),
t AS (SELECT SUM(pn) AS tp, SUM(qn) AS tq FROM j),
terms AS (
    SELECT bin,
           CASE WHEN pn > 0 AND qn > 0 THEN
               (CAST(qn AS DOUBLE) / CAST(tq AS DOUBLE)
                - CAST(pn AS DOUBLE) / CAST(tp AS DOUBLE))
               * ln((CAST(qn AS DOUBLE) / CAST(tq AS DOUBLE))
                    / (CAST(pn AS DOUBLE) / CAST(tp AS DOUBLE)))
           END AS term
    FROM j, t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(CASE WHEN term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_skipped,
       CASE WHEN COUNT(term) = 0 THEN 0.0
            ELSE list_reduce(list(term ORDER BY bin)
                                 FILTER (WHERE term IS NOT NULL),
                             (acc, v) -> acc + v)
       END AS psi
FROM terms
"""


def q_quota_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-size per-source training mix: token-weighted integer quotas
    via Hamilton largest-remainder apportionment
    (sampling.largest_remainder_quotas — quotas sum EXACTLY to 60 where
    naive rounding drifts), then each source contributes exactly its
    quota of documents under the seeded deterministic hash order
    (sampling.sample_quota_per_group). The whole draw — shares,
    remainder ranking, per-group selection — replays bit-for-bit in
    SQL."""
    from ..operators import text
    from ..operators.sampling import (
        largest_remainder_quotas,
        sample_quota_per_group,
    )

    docs = load(spark, sf, "documents")
    weights = docs.groupBy("source").agg(
        F.sum(text.token_count("text", "nt")).alias("wt")
    )
    quotas = largest_remainder_quotas(weights, "source", "wt", total=60)
    return sample_quota_per_group(
        docs.select("doc_id", "source"), "source", quotas,
        salt_cols=["doc_id"], seed=13, portable=True,
    )


QUERIES["q_quota_mix"] = q_quota_mix


def _quota_mix_oracle() -> str:
    from .corpus_ext import _TOKS

    h = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|13'), 1, 15)) AS BIGINT)"
    return f"""
        WITH w AS (
            SELECT source,
                   CAST(SUM(CAST(len({_TOKS}) AS INTEGER)) AS BIGINT) AS wt
            FROM documents GROUP BY source
        ),
        tw AS (
            SELECT CAST(CAST(SUM(CAST(wt AS DECIMAL(27,7))) AS VARCHAR)
                        AS DOUBLE) AS tw
            FROM w
        ),
        shares AS (
            SELECT source,
                   CAST(floor(CAST(wt AS DOUBLE) / tw * 60.0) AS BIGINT) AS fl,
                   CAST(wt AS DOUBLE) / tw * 60.0
                       - floor(CAST(wt AS DOUBLE) / tw * 60.0) AS rem
            FROM w, tw
        ),
        ranked AS (
            SELECT source, fl,
                   row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
            FROM shares
        ),
        d AS (SELECT 60 - SUM(fl) AS deficit FROM ranked),
        quotas AS (
            SELECT source,
                   fl + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS quota
            FROM ranked, d
        ),
        ordered AS (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY {h} ASC, doc_id ASC) AS rk
            FROM documents
        )
        SELECT o.doc_id, o.source
        FROM ordered o JOIN quotas q ON o.source = q.source
        WHERE o.rk <= q.quota
    """


ORACLE_SQL["q_quota_mix"] = _quota_mix_oracle()


def q_split_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-free train/val/test assignment (sampling.split_assign):
    an 80/10/10 split where ALL documents of a source land in the same
    split (group_col='source'), so near-identical documents from one
    origin can never straddle train and test — the contamination screen
    a benchmark-honest pipeline applies before training. Pure map, no
    shuffle, SQL-replayable hash ranges."""
    from ..operators.sampling import split_assign

    docs = load(spark, sf, "documents").select("doc_id", "source")
    return split_assign(
        docs, "doc_id",
        [("train", 80), ("val", 10), ("test", 10)],
        group_col="source", seed=5,
    )


QUERIES["q_split_grouped"] = q_split_grouped

_SPLIT_BUCKET = (
    "CAST(('0x' || substr(md5(CAST(source AS VARCHAR) || '|5'), 1, 15)) "
    "AS BIGINT) % 100"
)

ORACLE_SQL["q_split_grouped"] = f"""
SELECT doc_id, source,
       CASE WHEN {_SPLIT_BUCKET} < 80 THEN 'train'
            WHEN {_SPLIT_BUCKET} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_contamination_report(spark: SparkSession, sf: str) -> DataFrame:
    """The decontamination audit trail (similarity.contamination_report):
    for every corpus vector the semantic screen would drop, its max
    cosine against the benchmark — the evidence a pipeline owner reads
    to tune the threshold. Max over identical fold cosines is
    order-independent, so the scores replay exactly in SQL."""
    from ..operators.similarity import contamination_report

    emb = load(spark, sf, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    return contamination_report(corpus, bench, threshold=0.8)


QUERIES["q_contamination_report"] = q_contamination_report


def _contamination_report_oracle() -> str:
    from .corpus_ext import _cosine_sql

    cos = _cosine_sql("c.embedding", "b.embedding")
    return f"""
        SELECT c.vec_id, MAX({cos}) AS max_bench_cosine
        FROM embeddings c
        JOIN embeddings b ON b.vec_id % 20 = 0
        WHERE c.vec_id % 20 <> 0
        GROUP BY c.vec_id
        HAVING MAX({cos}) >= 0.8
    """


ORACLE_SQL["q_contamination_report"] = _contamination_report_oracle()


def q_contamination_report_ngram(spark: SparkSession, sf: str) -> DataFrame:
    """The n-gram screen's evidence query — parity with the semantic
    report/filter pair (dedup.contamination_report_ngram): for every
    corpus document q_decontaminate drops, the count of distinct 3-gram
    shingles it shares with the benchmark plus one example shingle.
    Broadcast bench shingle strings onto one corpus scan, one per-doc
    hash aggregate; report and q_decontaminate's survivors partition
    the corpus."""
    from ..operators import dedup

    docs = load(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return dedup.contamination_report_ngram(corpus, bench, "doc_id")


QUERIES["q_contamination_report_ngram"] = q_contamination_report_ngram


def _contamination_report_ngram_oracle() -> str:
    from .corpus_ext import _SHINGLES, _TOKS

    return f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        s AS (SELECT doc_id, {_SHINGLES} AS sh FROM t),
        bench AS (
            SELECT DISTINCT g
            FROM (SELECT unnest(sh) AS g FROM s WHERE doc_id % 20 = 0)
        ),
        corp AS (
            SELECT doc_id, g
            FROM (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 20 <> 0)
        )
        SELECT c.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams,
               MIN(c.g) AS example_ngram
        FROM corp c JOIN bench b ON c.g = b.g
        GROUP BY c.doc_id
    """


ORACLE_SQL["q_contamination_report_ngram"] = _contamination_report_ngram_oracle()
