"""LLM-pipeline query corpus, round 3: PII redaction and context-window
chunking over the documents table.

Same determinism contract as plans/corpus.py: every query has a DuckDB twin
producing bit-identical values. The PII queries synthesize deterministic
PII spans from doc_id (the synthetic corpus contains none), so the scrub is
exercised on known-positive text and the redaction counts are exactly
predictable in both engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import sampling, text
from .corpus import D2D

CHUNK_TOKENS = 32
TOKEN_BUDGET = 3000
DEDUP_CHUNK_TOKENS = 8


def _with_synth_pii(docs: DataFrame) -> DataFrame:
    """Append deterministic PII spans derived from doc_id: every doc gets an
    email; docs ≡0 mod 3 an SSN, mod 2 a phone, mod 5 an IPv4. Mirrored
    exactly by _SYNTH_PII_SQL."""
    d = F.col("doc_id")
    four = F.lpad((d % 10000).cast("string"), 4, "0")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@example.com"),
        F.when(d % 3 == 0, F.concat(F.lit(" ssn 123-45-"), four)).otherwise(
            F.lit("")
        ),
        F.when(d % 2 == 0, F.concat(F.lit(" call 415-555-"), four)).otherwise(
            F.lit("")
        ),
        F.when(
            d % 5 == 0,
            F.concat(F.lit(" from 10.0."), (d % 256).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", synth.alias("text"))


def q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction pass: typed placeholder scrub + per-category audit
    counts (operators/text.pii_redaction_stats) over documents carrying
    synthesized emails/SSNs/phones/IPs."""
    docs = load(spark, sf, "documents")
    return text.pii_redaction_stats(_with_synth_pii(docs))


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-token context-window chunking with per-document ordinals."""
    docs = load(spark, sf, "documents")
    return text.chunk_documents(docs, chunk_tokens=CHUNK_TOKENS)


def q_chunk_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Chunk-level exact dedup (the paragraph-dedup analog): fingerprint
    8-token chunks, keep the (doc_id, chunk_id)-least survivor per distinct
    chunk with its copy count. One shuffle on the chunk fingerprint."""
    docs = load(spark, sf, "documents")
    chunks = text.chunk_documents(docs, chunk_tokens=DEDUP_CHUNK_TOKENS)
    fp = chunks.withColumn("fp", F.md5(F.col("chunk_text").cast("binary")))
    by_fp = Window.partitionBy("fp")
    ranked = fp.select(
        "fp",
        "doc_id",
        "chunk_id",
        F.row_number()
        .over(by_fp.orderBy("doc_id", "chunk_id"))
        .alias("_rn"),
        F.count(F.lit(1)).over(by_fp).alias("n_copies"),
    )
    return ranked.filter(F.col("_rn") == 1).drop("_rn")


def q_token_budget_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-source token budgets for a training mix: keep documents (in
    deterministic doc_id order) that start before their source's cumulative
    token count hits TOKEN_BUDGET (operators/sampling.token_budget_head —
    two-pass distributed prefix sum, no per-source serialization)."""
    docs = load(spark, sf, "documents")
    with_tokens = docs.select("doc_id", "source", text.token_count("text"))
    out = sampling.token_budget_head(
        with_tokens, "source", "doc_id", "n_tokens", TOKEN_BUDGET
    )
    return out.select("doc_id", "source", "n_tokens", "tokens_before")


TEMPERATURE_TARGET = 300


def q_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based source rebalancing (sampling.temperature_mix,
    alpha=0.5 — the mT5/XLM-R mixture rule): per-source keep rates derive
    in-engine from sqrt(n_s) weights, small sources boosted toward the
    ~300-doc target mix, rows gated by the portable hash. Every rate is
    reproducible SQL (sqrt is correctly-rounded IEEE; the weight sum
    accumulates in decimal)."""
    docs = load(spark, sf, "documents")
    out = sampling.temperature_mix(
        docs, "doc_id", "source", target_total=TEMPERATURE_TARGET, alpha=0.5
    )
    return out.select("doc_id", "source", "lang")


SHUFFLE_SEED = 0


def q_corpus_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic epoch shuffle (operators/sampling.global_shuffle):
    every document gets its rank under the seed-0 portable-hash permutation
    — the reproducible training-order step (df.orderBy(rand()) cannot be
    replayed by any other engine, and a bare sort gives no addressable
    position). Rank is a two-pass prefix count over hash-range buckets —
    no single-partition window anywhere in the plan."""
    docs = load(spark, sf, "documents")
    out = sampling.global_shuffle(
        docs.select("doc_id"), "doc_id", seed=SHUFFLE_SEED
    )
    return out.select("doc_id", "position")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_pii_scrub": q_pii_scrub,
    "q_chunk_documents": q_chunk_documents,
    "q_chunk_dedup": q_chunk_dedup,
    "q_token_budget_mix": q_token_budget_mix,
    "q_corpus_shuffle": q_corpus_shuffle,
    "q_temperature_mix": q_temperature_mix,
}

ROWS_ONLY_QUERIES: set[str] = set()

_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"

_SYNTH_PII_SQL = """
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
           || CASE WHEN doc_id % 3 = 0
                   THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END
           || CASE WHEN doc_id % 2 = 0
                   THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                   ELSE '' END
           AS text
    FROM documents
"""

_P = {name: pat for name, pat, _ in text.PII_PATTERNS}
_R = {name: repl for name, _, repl in text.PII_PATTERNS}

_CHUNK_SQL_TMPL = """
    WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
    n AS (SELECT doc_id, t,
                 GREATEST(CAST(ceil(len(t) / {c}.0) AS INTEGER), 1) AS nc
          FROM toks),
    ch AS (SELECT doc_id, t, unnest(range(nc)) AS i FROM n)
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_id,
           array_to_string(t[CAST(i * {c} + 1 AS INTEGER):CAST((i + 1) * {c} AS INTEGER)], ' ')
               AS chunk_text
    FROM ch
"""

ORACLE_SQL: dict[str, str] = {
    "q_pii_scrub": f"""
        WITH synth AS ({_SYNTH_PII_SQL}),
        c1 AS (SELECT doc_id,
                      CAST(len(regexp_extract_all(text, '{_P["email"]}')) AS INTEGER) AS n_email,
                      regexp_replace(text, '{_P["email"]}', '{_R["email"]}', 'g') AS t
               FROM synth),
        c2 AS (SELECT doc_id, n_email,
                      CAST(len(regexp_extract_all(t, '{_P["ssn"]}')) AS INTEGER) AS n_ssn,
                      regexp_replace(t, '{_P["ssn"]}', '{_R["ssn"]}', 'g') AS t
               FROM c1),
        c3 AS (SELECT doc_id, n_email, n_ssn,
                      CAST(len(regexp_extract_all(t, '{_P["phone"]}')) AS INTEGER) AS n_phone,
                      regexp_replace(t, '{_P["phone"]}', '{_R["phone"]}', 'g') AS t
               FROM c2)
        SELECT doc_id, n_email, n_ssn, n_phone,
               CAST(len(regexp_extract_all(t, '{_P["ipv4"]}')) AS INTEGER) AS n_ipv4,
               regexp_replace(t, '{_P["ipv4"]}', '{_R["ipv4"]}', 'g') AS scrubbed
        FROM c3
    """,
    "q_chunk_documents": _CHUNK_SQL_TMPL.format(toks=_TOKS, c=CHUNK_TOKENS),
    "q_temperature_mix": f"""
        WITH counts AS (
            SELECT source, CAST(COUNT(*) AS DOUBLE) AS n FROM documents
            GROUP BY source
        ),
        w AS (SELECT source, n, sqrt(n) AS wt FROM counts),
        tot AS (
            SELECT {D2D.format(x='SUM(CAST(wt AS DECIMAL(27,7)))')} AS W FROM w
        ),
        thr AS (
            SELECT source,
                   CAST(floor(
                       least(1.0, {TEMPERATURE_TARGET}.0 * wt / W / n) * 1000000.0
                   ) AS BIGINT) AS t
            FROM w, tot
        )
        SELECT d.doc_id, d.source, d.lang
        FROM documents d JOIN thr ON d.source = thr.source
        WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              % 1000000 < thr.t
    """,
    "q_token_budget_mix": f"""
        WITH t AS (SELECT doc_id, source,
                          CAST(len({_TOKS}) AS INTEGER) AS n_tokens
                   FROM documents),
        c AS (SELECT doc_id, source, n_tokens,
                     CAST(COALESCE(SUM(n_tokens) OVER (
                         PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS BIGINT) AS tokens_before
              FROM t)
        SELECT doc_id, source, n_tokens, tokens_before
        FROM c WHERE tokens_before < {TOKEN_BUDGET}
    """,
    "q_corpus_shuffle": f"""
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT)
                   AS position
        FROM (
            SELECT doc_id,
                   CAST('0x' || substr(md5('{SHUFFLE_SEED}:'
                        || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
            FROM documents
        )
    """,
    "q_chunk_dedup": f"""
        WITH ch AS ({_CHUNK_SQL_TMPL.format(toks=_TOKS, c=DEDUP_CHUNK_TOKENS)}),
        f AS (SELECT doc_id, chunk_id, md5(chunk_text) AS fp FROM ch),
        r AS (SELECT fp, doc_id, chunk_id,
                     row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk_id) AS rn,
                     count(*) OVER (PARTITION BY fp) AS n_copies
              FROM f)
        SELECT fp, doc_id, chunk_id, n_copies
        FROM r WHERE rn = 1
    """,
}
