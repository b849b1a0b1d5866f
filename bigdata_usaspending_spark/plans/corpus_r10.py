"""Corpus wave 10: crawl-tier URL dedup + the trained rerank leg +
the composed corpus-build pipeline as a value oracle.

- ``q_url_dedup`` — URL-level dedup (sources/warc.canonicalize_url +
  url_dedup_groups): the standard FIRST tier of a crawl pipeline —
  canonicalize (case-fold scheme/host, drop fragment, strip default
  ports and tracking params, sort surviving query params, trim trailing
  slashes) and keep one min-id row per canonical URL. The documents
  table has no URL column, so the query synthesizes three deterministic
  noise variants per document (uppercased host + :80 + utm param +
  fragment / plain + trailing tracker / https) from (doc_id, source);
  variants 0 and 1 canonicalize to the SAME URL and must merge, the
  https variant must stay distinct. The whole canonicalization is one
  codegen'd projection (regexp/split/filter/sort built-ins — no UDF),
  replayed expression-for-expression in the oracle.

- ``q_rerank_trained`` — the rerank seat's TRAINED leg
  (scorers.NaiveBayesPairScorer, VERDICT r9 #4 — the TrigramLangIdScorer
  move applied to reranking): Bernoulli naive Bayes over per-query-token
  document presence, fitted on the BM25 batch's candidates with
  AND-match relevance labels (every distinct query term present in the
  document), then the same candidates reranked by the NB log-likelihood
  ratio, per-query top-5. Fit counts, the smoothed log terms, and the
  position-ordered fold all replay in one self-contained SQL statement.

- ``q_corpus_build_mini`` — the composed corpus-build pipeline
  (plans/build_corpus.build_corpus, the build-corpus CLI job) as ONE
  value oracle: quality + language gate (raw-division ratios, the
  marker-vote LID) → md5-fingerprint exact dedup → 10-per-source quota
  (portable-hash draw) → seeded epoch shuffle (position) → 128-token
  sequence packing over the SHUFFLED order. The oracle replays every
  stage in one self-contained statement; the URL / PII / near-dup /
  decontamination tiers are exercised by their own oracles and the CLI
  integration test (they'd add nothing but bulk here).

- ``q_fuzzy_name_pairs_k3`` — edit-distance-3 similarity join via
  PassJoin segment blocking (fuzzy.passjoin_pairs, after Li/Deng/Feng
  2011): the k >= 3 member of the fuzzy family, constant keys per row
  where deletion neighborhoods are O(len^k). Oracle = all-pairs
  levenshtein ground truth on the bounded roster (the k1/k2 pattern).
- ``q_sequence_manifest`` — the training reader's per-sequence manifest
  over the mini-built corpus (ordered doc spans, counts, token totals,
  mid-document carry-over flag) — the build -> read lifecycle closed.
- ``q_ann_ivf_pq`` — the IVF-PQ hybrid index (coarse cells + residual
  product quantization + per-cell ADC + exact rerank, the faiss
  IndexIVFPQ composition) via the audit contract: exact euclidean
  witness + recall_ok >= 0.8 pinned TRUE.
- ``q_corpus_datasheet`` — the per-source corpus datasheet
  (build_corpus.corpus_datasheet, the CLI's --datasheet sink): doc and
  exact token counts, distinct-fingerprint counts (duplication rate),
  token quartiles, in ONE aggregate pass.

Same determinism contract as plans/corpus.py.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import retrieval, text
from ..operators.text import tokens as sql_tokens
from ..sources.warc import TRACKING_PARAM_RE, url_dedup_groups
from .oracle_lib import _BM25_BATCH, _BM25_BATCH_K

_RERANK_TRAINED_K = 5


def _synth_url() -> "F.Column":
    """Deterministic noisy URL per document, from (doc_id, source) only.

    doc_id % 13 == 0 rows get a bracketed-IPv6 authority (mixed case,
    default port) — exercising the bracket-aware host/port parse; else
    variant = doc_id % 3, page = doc_id % 7:
      0: ``HTTP://EXAMPLE.COM:80/{source}/page{p}/?utm_source=feed&id={p}#top``
      1: ``http://example.com/{source}/page{p}?id={p}&utm_campaign=x``
      2: ``https://example.com/{source}/page{p}?id={p}``
    Variants 0 and 1 canonicalize identically; 2 differs by scheme."""
    page = (F.col("doc_id") % 7).cast("string")
    v = F.col("doc_id") % 3
    return (
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit("http://[2001:DB8::1]:80/"), F.col("source"),
                F.lit("/page"), page, F.lit("?id="), page,
            ),
        )
        .when(
            v == 0,
            F.concat(
                F.lit("HTTP://EXAMPLE.COM:80/"), F.col("source"),
                F.lit("/page"), page, F.lit("/?utm_source=feed&id="), page,
                F.lit("#top"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("http://example.com/"), F.col("source"),
                F.lit("/page"), page, F.lit("?id="), page,
                F.lit("&utm_campaign=x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example.com/"), F.col("source"),
                F.lit("/page"), page, F.lit("?id="), page,
            )
        )
        .alias("target_uri")
    )


def q_url_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-tier URL dedup over synthesized noisy URLs: one row per
    canonical URL with the min doc_id and the copy count. One linear
    shuffle keyed on the canonical URL; canonicalization is map-side
    codegen."""
    docs = load(spark, sf, "documents").select("doc_id", _synth_url())
    return url_dedup_groups(docs, id_col="doc_id", url_col="target_uri")


_SYNTH_URL_SQL = """
    CASE
        WHEN doc_id % 13 = 0 THEN
            'http://[2001:DB8::1]:80/' || source || '/page'
            || CAST(doc_id % 7 AS VARCHAR) || '?id='
            || CAST(doc_id % 7 AS VARCHAR)
        WHEN doc_id % 3 = 0 THEN
            'HTTP://EXAMPLE.COM:80/' || source || '/page'
            || CAST(doc_id % 7 AS VARCHAR) || '/?utm_source=feed&id='
            || CAST(doc_id % 7 AS VARCHAR) || '#top'
        WHEN doc_id % 3 = 1 THEN
            'http://example.com/' || source || '/page'
            || CAST(doc_id % 7 AS VARCHAR) || '?id='
            || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x'
        ELSE
            'https://example.com/' || source || '/page'
            || CAST(doc_id % 7 AS VARCHAR) || '?id='
            || CAST(doc_id % 7 AS VARCHAR)
    END
"""


def _url_dedup_oracle() -> str:
    # expression-for-expression replay of sources/warc.canonicalize_url:
    # same regexes (Java ∩ RE2 common subset), same CASE structure, same
    # bytewise param sort
    return f"""
        WITH raw AS (
            SELECT doc_id, {_SYNTH_URL_SQL} AS u0 FROM documents
        ),
        t AS (
            SELECT doc_id, regexp_replace(trim(u0), '#.*$', '') AS u
            FROM raw WHERE u0 IS NOT NULL
        ),
        parts AS (
            SELECT doc_id, u,
                   lower(regexp_extract(
                       u, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
                   regexp_replace(
                       u, '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS rest
            FROM t
        ),
        comp AS (
            -- bracket-aware host/port split, mirroring
            -- sources/warc.canonicalize_url: a well-formed '[...]' group
            -- is the host whole; malformed bracket authorities pass
            -- verbatim with no port split
            SELECT doc_id, u, scheme,
                   regexp_extract(authority, '^([^@]*@)', 1) AS userinfo,
                   CASE WHEN substr(hostport, 1, 1) <> '['
                        THEN lower(regexp_extract(hostport, '^([^:]*)', 1))
                        WHEN regexp_extract(
                                 hostport, '^(\\[[^\\]]*\\])', 1) <> ''
                        THEN lower(regexp_extract(
                                 hostport, '^(\\[[^\\]]*\\])', 1))
                        ELSE hostport END AS host,
                   CASE WHEN substr(hostport, 1, 1) <> '['
                        THEN regexp_extract(hostport, ':([0-9]+)$', 1)
                        WHEN regexp_extract(
                                 hostport, '^(\\[[^\\]]*\\])', 1) <> ''
                        THEN regexp_extract(
                                 hostport, '^\\[[^\\]]*\\]:([0-9]+)$', 1)
                        ELSE '' END AS port,
                   substr(rest, len(authority) + 1) AS pathquery
            FROM (
                SELECT *, regexp_extract(rest, '^([^/?]*)', 1) AS authority,
                       regexp_replace(
                           regexp_extract(rest, '^([^/?]*)', 1),
                           '^[^@]*@', '') AS hostport
                FROM parts
            )
        ),
        pq AS (
            SELECT doc_id, u, scheme, userinfo, host, port,
                   regexp_replace(
                       regexp_extract(pathquery, '^([^?]*)', 1),
                       '/+$', '') AS path,
                   list_filter(
                       string_split(
                           CASE WHEN contains(pathquery, '?')
                                THEN regexp_replace(pathquery, '^[^?]*\\?', '')
                                ELSE '' END,
                           '&'),
                       p -> p <> ''
                            AND NOT regexp_matches(
                                p, '{TRACKING_PARAM_RE}')) AS kept
            FROM comp
        ),
        canon AS (
            SELECT doc_id,
                   CASE WHEN scheme = '' THEN u ELSE
                       scheme || '://' || userinfo || host
                       || CASE WHEN port = ''
                                    OR (scheme = 'http' AND port = '80')
                                    OR (scheme = 'https' AND port = '443')
                               THEN '' ELSE ':' || port END
                       || path
                       || CASE WHEN len(kept) > 0
                               THEN '?' || array_to_string(
                                   list_sort(kept), '&')
                               ELSE '' END
                   END AS canonical_url
            FROM pq
        )
        SELECT canonical_url, MIN(doc_id) AS doc_id,
               COUNT(*) AS n_copies
        FROM canon GROUP BY canonical_url
    """


def _bm25_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """The 4-query BM25 batch's top-10 candidates joined to their text
    and query text — the shared retrieve stage (exactly
    corpus_r9.q_rerank_topk's candidate frame; candidates broadcast, the
    corpus streams through the probe)."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    cands = text.bm25_topk_batch(docs, _BM25_BATCH, k=_BM25_BATCH_K)
    qtext = reduce(
        lambda acc, kv: acc.when(F.col("query_id") == kv[0], F.lit(kv[1])),
        [(qid, " ".join(terms)) for qid, terms in _BM25_BATCH.items()],
        F,
    ).otherwise(F.lit(None))
    return docs.join(F.broadcast(cands), "doc_id").withColumn(
        "query_text", qtext
    )


def q_rerank_trained(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieve -> fit -> rerank with the TRAINED pairwise model: the
    BM25 batch candidates labeled by AND-match (all distinct query terms
    present in the document — the fixture relevance signal), a Bernoulli
    NB match model fitted on those labeled pairs (one bounded aggregate),
    then the SAME candidates reranked by the NB log-likelihood ratio
    through the pair-scorer seam, per-query top-5, ties ascending doc_id.

    100-TB shape: fit = one exploded aggregate over O(queries x k)
    candidate rows + a cap-guarded collect of the query-token vocabulary;
    scoring = one Arrow map over the k-bounded candidates; top-k windows
    partition by query_id. The corpus is scanned once (retrieval)."""
    from ..operators.scorers import NaiveBayesPairScorer

    # localCheckpoint: the fit's collect AND the rerank scoring pass both
    # consume the candidate frame — without the persist the BM25 corpus
    # scan runs twice (measured 3.8 s -> ~2 s at sf0.1). Candidates are
    # k-bounded (queries x k rows), so the checkpoint is tiny.
    enriched = _bm25_candidates(spark, sf).localCheckpoint()
    # AND-match without a HOF lambda (lambdas over this broadcast-join
    # lineage trip Catalyst binding — see NaiveBayesPairScorer.from_pairs):
    # all query tokens present ⟺ array_except(qtoks, dtoks) is empty
    labeled = enriched.withColumn(
        "label",
        (
            F.size(
                F.array_except(
                    F.array_distinct(sql_tokens("query_text")),
                    sql_tokens("text"),
                )
            )
            == 0
        ).cast("int"),
    )
    scorer = NaiveBayesPairScorer.from_pairs(
        labeled, "query_text", "text", "label"
    )
    return retrieval.rerank_topk(
        enriched, scorer, k=_RERANK_TRAINED_K
    ).select("query_id", "doc_id", "rerank")


def _rerank_trained_oracle() -> str:
    # self-contained replay of fit AND scoring: candidates from the r8
    # BM25 batch oracle, AND-match labels, the Bernoulli-NB match counts,
    # the smoothed log-ratio terms (same IEEE expression trees as
    # NaiveBayesPairScorer._ensure_terms), and the position-ordered fold
    from .corpus_ext import _TOKS
    from .corpus_r8 import ORACLE_SQL as R8_ORACLES

    qterm_rows = ", ".join(
        f"('{qid}', {pos}, '{w}')"
        for qid, terms in _BM25_BATCH.items()
        for pos, w in enumerate(dict.fromkeys(terms))
    )
    return f"""
        WITH cand AS ({R8_ORACLES["q_bm25_batch"]}),
        joined AS (
            SELECT c.query_id, c.doc_id, {_TOKS} AS dtoks
            FROM cand c JOIN documents ON documents.doc_id = c.doc_id
        ),
        qterms(query_id, pos, w) AS (VALUES {qterm_rows}),
        lab AS (
            SELECT j.query_id, j.doc_id,
                   MIN(CASE WHEN list_contains(j.dtoks, qt.w)
                            THEN 1 ELSE 0 END) AS y
            FROM joined j JOIN qterms qt ON qt.query_id = j.query_id
            GROUP BY j.query_id, j.doc_id
        ),
        ev AS (
            SELECT qt.w, lab.y,
                   CASE WHEN list_contains(j.dtoks, qt.w)
                        THEN 1 ELSE 0 END AS m
            FROM joined j
            JOIN qterms qt ON qt.query_id = j.query_id
            JOIN lab ON lab.query_id = j.query_id
                    AND lab.doc_id = j.doc_id
        ),
        model AS (
            SELECT w,
                   SUM(y) AS q_rel, SUM(y * m) AS m_rel,
                   SUM(1 - y) AS q_non, SUM((1 - y) * m) AS m_non
            FROM ev GROUP BY w
        ),
        tm AS (
            SELECT w,
                   log10(((CAST(m_rel AS DOUBLE) + 1.0)
                          / (CAST(q_rel AS DOUBLE) + 2.0))
                         / ((CAST(m_non AS DOUBLE) + 1.0)
                            / (CAST(q_non AS DOUBLE) + 2.0))) AS t_present,
                   log10((1.0 - ((CAST(m_rel AS DOUBLE) + 1.0)
                                 / (CAST(q_rel AS DOUBLE) + 2.0)))
                         / (1.0 - ((CAST(m_non AS DOUBLE) + 1.0)
                                   / (CAST(q_non AS DOUBLE) + 2.0))))
                       AS t_absent
            FROM model
        ),
        sc AS (
            SELECT j.query_id, j.doc_id, qt.pos,
                   CASE WHEN list_contains(j.dtoks, qt.w)
                        THEN tm.t_present ELSE tm.t_absent END AS term
            FROM joined j
            JOIN qterms qt ON qt.query_id = j.query_id
            JOIN tm ON tm.w = qt.w
        ),
        agg AS (
            SELECT query_id, doc_id,
                   list_reduce(list(term ORDER BY pos),
                               (a, b) -> a + b) AS rerank
            FROM sc GROUP BY query_id, doc_id
        )
        SELECT query_id, doc_id, rerank FROM (
            SELECT query_id, doc_id, rerank,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY rerank DESC, doc_id ASC
                   ) AS rn
            FROM agg
        ) WHERE rn <= {_RERANK_TRAINED_K}
        ORDER BY query_id, rerank DESC, doc_id ASC
    """


def q_corpus_build_mini(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-build composition end to end (portable-hash variant of
    the build-corpus CLI job): gate -> exact dedup -> per-source quota ->
    epoch shuffle -> pack. Output is the packed training manifest
    ``(doc_id, source, n_tokens, position, seq_id, seq_offset)``.

    100-TB shape (inherited from the stage operators): three linear
    scans' worth of gates fused into one, a fingerprint-keyed dedup
    shuffle, one window per quota group, and the two-pass prefix-sum
    shuffle/pack — no single-partition window, no driver state."""
    from .build_corpus import build_corpus
    from .oracle_lib import _MANIFEST_COLS, _audit_build_config

    docs = load(spark, sf, "documents").select(
        "doc_id", "text", "source"
    )
    cfg = _audit_build_config(near_threshold=None)
    return build_corpus(docs, cfg=cfg).select(*_MANIFEST_COLS)


def _corpus_build_mini_oracle() -> str:
    # stage-for-stage replay: the gate's raw divisions, the
    # q_dedup_exact md5-fingerprint min-id, the q_sample_k_per_group
    # '|'-salted quota hash, the q_corpus_shuffle ':'-seeded permutation
    # hash, and the q_pack_sequences running-total coordinates — each
    # expression identical to its stage oracle, composed as CTEs
    from .oracle_lib import _gate_dedup_ctes, _pack_ctes

    return f"""
        WITH {_gate_dedup_ctes("documents", "doc_id, source, n_tokens")},
        {_pack_ctes("uniq")}
    """


def q_fuzzy_name_pairs_k3(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance-3 name pairs via PassJoin segment blocking
    (fuzzy.passjoin_pairs — the k >= 3 member of the fuzzy family, where
    deletion neighborhoods blow up O(len^k)): k+1 even segments as index
    keys, position-banded substrings as probes, candidates on an
    equality join (never all-pairs), banded levenshtein verify. The
    deterministic 10% id gate keeps the distance-3 demonstration bounded
    (digit-named fixtures make the k=3 match set ~quadratically dense —
    the q_fuzzy_name_pairs_k2 precedent)."""
    from ..operators import fuzzy

    cust = (
        load(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .filter(F.col("c_custkey") % 10 == 0)
    )
    return fuzzy.passjoin_pairs(cust, "c_custkey", "c_name", max_dist=3)


def q_sequence_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """The training reader's per-sequence manifest over the mini-built
    corpus (build_corpus.sequence_manifest): ordered document spans per
    packed sequence, span list flattened to a string for the
    cross-engine value compare. Pins the build -> read lifecycle: every
    sequence's spans, doc counts, token totals, and the mid-document
    carry-over flag replay on top of the mini pipeline's oracle."""
    from .build_corpus import sequence_manifest

    corpus = q_corpus_build_mini(spark, sf)
    m = sequence_manifest(corpus)
    spans = F.array_join(
        F.transform(
            "docs",
            lambda d: F.concat(
                d["doc_id"].cast("string"), F.lit("@"),
                d["seq_offset"].cast("string"),
            ),
        ),
        ",",
    )
    return m.select(
        "seq_id", spans.alias("doc_spans"),
        "n_docs", "n_tokens", "starts_mid_document",
    )


def q_ann_ivf_pq(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ hybrid ANN through the audit contract
    (similarity.ivf_pq_recall_audit — the faiss IndexIVFPQ composition:
    coarse cosine cells -> residual PQ codebooks -> per-cell ADC tables
    -> exact rerank): output is the EXACT euclidean top-10 witness +
    recall_ok pinned TRUE iff the hybrid hit >= 80% of the exact set.
    The fixture embeddings are isotropic (exact neighbors spread over
    8 of the 10 label cells), so the demonstration probes nprobe=8 —
    production indexes have thousands of cells and probe ~1%; what this
    row pins is the correctness of the composition, witness, and
    guarantee, same as q_ann_lsh."""
    from ..operators import similarity
    from .corpus_ext import _ivf_centroids, _query_vec_list

    emb = load(spark, sf, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    return similarity.ivf_pq_recall_audit(
        data, _ivf_centroids(emb), _query_vec_list(emb),
        k=10, m=32, kc=16, nprobe=8, rerank_factor=32,
    )


def q_corpus_datasheet(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus datasheet (plans/build_corpus.corpus_datasheet —
    the build-corpus CLI's --datasheet output): docs, exact token totals,
    distinct-fingerprint counts (duplication rate), token quartiles.
    ONE aggregate pass — one scan, one source-keyed shuffle, mergeable
    percentile (never a sort)."""
    from .build_corpus import corpus_datasheet

    return corpus_datasheet(
        load(spark, sf, "documents").select("text", "source")
    )


def _corpus_datasheet_oracle() -> str:
    # quantile_cont is bit-identical to Spark's percentile (the
    # q_quantile_summary bridge); counts and sums are exact ints
    from .corpus_ext import _NORMALIZED, _TOKS

    return f"""
        WITH t AS (
            SELECT source,
                   CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
                   md5({_NORMALIZED}) AS fp
            FROM documents WHERE text IS NOT NULL
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               COUNT(DISTINCT fp) AS n_distinct_texts,
               quantile_cont(CAST(n_tokens AS DOUBLE), 0.25) AS tok_p25,
               quantile_cont(CAST(n_tokens AS DOUBLE), 0.5) AS tok_p50,
               quantile_cont(CAST(n_tokens AS DOUBLE), 0.75) AS tok_p75
        FROM t GROUP BY source
    """


def _ivf_pq_oracle() -> str:
    # the q_ann_lsh audit-contract oracle: exact euclidean top-10 witness
    # (left-fold squared diffs, bit-identical to the Spark kernel) +
    # pinned recall boolean
    from .corpus_ext import _euclid_sql

    return f"""
        WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id, {_euclid_sql('e.embedding', 'q.q_emb')} AS distance,
               TRUE AS recall_ok
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY distance ASC, e.vec_id ASC
        LIMIT 10
    """


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_url_dedup": q_url_dedup,
    "q_rerank_trained": q_rerank_trained,
    "q_corpus_build_mini": q_corpus_build_mini,
    "q_corpus_datasheet": q_corpus_datasheet,
    "q_fuzzy_name_pairs_k3": q_fuzzy_name_pairs_k3,
    "q_ann_ivf_pq": q_ann_ivf_pq,
    "q_sequence_manifest": q_sequence_manifest,
}

ROWS_ONLY_QUERIES: set[str] = set()

ORACLE_SQL: dict[str, str] = {
    "q_url_dedup": _url_dedup_oracle(),
    "q_rerank_trained": _rerank_trained_oracle(),
    "q_corpus_build_mini": _corpus_build_mini_oracle(),
    "q_corpus_datasheet": _corpus_datasheet_oracle(),
    "q_ann_ivf_pq": _ivf_pq_oracle(),
    "q_sequence_manifest": f"""
        WITH corpus AS ({_corpus_build_mini_oracle()})
        SELECT seq_id,
               string_agg(CAST(doc_id AS VARCHAR) || '@'
                          || CAST(seq_offset AS VARCHAR),
                          ',' ORDER BY position) AS doc_spans,
               CAST(COUNT(*) AS INTEGER) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               arg_min(seq_offset, position) > 0 AS starts_mid_document
        FROM corpus GROUP BY seq_id
    """,
    # all-pairs levenshtein ground truth over the bounded roster — the
    # blocking is internal; the oracle checks the MATH (the k1/k2 pattern)
    "q_fuzzy_name_pairs_k3": """
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               a.c_name AS name_a, b.c_name AS name_b,
               CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        FROM customer a JOIN customer b
          ON a.c_custkey < b.c_custkey
         AND a.c_mktsegment = 'BUILDING' AND b.c_mktsegment = 'BUILDING'
         AND a.c_custkey % 10 = 0 AND b.c_custkey % 10 = 0
         AND abs(length(a.c_name) - length(b.c_name)) <= 3
         AND levenshtein(a.c_name, b.c_name) <= 3
    """,
}
