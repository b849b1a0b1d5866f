"""Shared oracle-CTE builders and tuning constants for the plan waves.

Eleven rounds of ``corpus_r*.py`` waves grew cross-module private
imports threading three rounds deep (``_winnow_fps_ctes``, ``_ROBUST_K``,
``_corpus_build_incremental_oracle`` r12→r13→r14 — VERDICT r14 #7). The
shared pieces live here now, moved VERBATIM so every oracle string stays
byte-identical; the original wave modules re-import them so their own
query bodies (and external users like scripts/stress_sf*.py) are
untouched. New lifecycle queries import from here, never from another
wave.

The corpus-build audits (``q_corpus_build_mini`` / ``_near`` /
``_winnow`` / ``_scrub`` / ``_incremental`` / ``_takedown``) and the
index-lifecycle audits compose one recipe from here instead of each
restating it:

- build config: ``_audit_build_config(**near)`` (the shared gate /
  quota / pack / seed fields; each audit passes only its near-dup tier,
  ``_WINNOW_NEAR`` for the winnow tier) and ``_MANIFEST_COLS``;
- stage replay, one CTE step per build stage: ``_near_input_cte``
  (documents ∪ the % 17 variants), ``_gate_predicate`` /
  ``_exact_dedup_cte`` / ``_gate_dedup_ctes`` (gate + exact dedup),
  ``_components_ctes`` (pairs -> components -> drop non-roots),
  ``_against_index_ctes`` (the winnow against-index decision) and
  ``_pack_ctes`` (quota -> shuffle -> pack + the final SELECT);
- index-audit scaffold: ``_temp_index`` (the temp-index lifetime),
  ``_centroid_frame`` (label-mean centroids as a local frame),
  ``_commit_winnow_slice`` (the committed ``doc_id % 5 == 4`` winnow
  index), ``_winnow_take_down`` (tombstone + live-delta witness) and
  ``_winnow_corpus_build`` (the winnow-tier build, optionally against an
  index).

Everything in this module is DuckDB-replay plumbing, audit scaffolding
or tuning constants — no query registrations (those stay in their wave
modules so the registry order and the per-round docstrings keep their
history).
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..io import local_frame


# --- retrieval-family shared parameters (rounds 7-9) ---------------------

_BM25_TERMS = ["merge", "window", "stream", "hash"]

# Overlapping vocabularies on purpose: the union-vocab sharing (8 distinct
# tf columns serving 11 query-term slots) is the thing being exercised.
_BM25_BATCH: dict[str, list[str]] = {
    "join_tuning": ["merge", "join", "hash"],
    "scan_perf": ["scan", "filter", "column"],
    "streaming": ["stream", "window", "batch"],
    "rare_mix": ["dup", "vector"],
}
_BM25_BATCH_K = 10
_LM_LAMBDA = 0.7


def _bm25_batch_oracle(
    queries: "dict[str, list[str]] | None" = None,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = _BM25_BATCH_K,
) -> str:
    """Self-contained DuckDB replay of ``text.bm25_topk_batch`` for any
    bounded query set / k1 / b / k — parameterized in round 9 so the
    grouped-fusion oracle can compose two parameterizations of it."""
    from .corpus_ext import _TOKS

    batch = _BM25_BATCH if queries is None else queries
    vocab = sorted({t for terms in batch.values() for t in terms})
    vocab_index = {t: i for i, t in enumerate(vocab)}
    tf_cols = ",\n               ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(vocab)
    )
    df_cols = ",\n               ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(vocab))
    )
    # mirror _bm25_score_expr's tree exactly: driver-computed idf is a
    # libm ln both sides; left-assoc product/divide; left-to-right term
    # sum in each query's OWN term order; identical double literals
    avgdl = "(CAST(s.sdl AS DOUBLE) / CAST(s.n AS DOUBLE))"
    branches = []
    for qid, terms in batch.items():
        term_exprs = []
        for t in terms:
            i = vocab_index[t]
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
        branches.append(
            f"SELECT '{qid}' AS query_id, d.doc_id, {score} AS bm25 FROM d, s"
        )
    scored = "\n            UNION ALL\n            ".join(branches)
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
        ),
        scored AS (
            {scored}
        )
        SELECT query_id, doc_id, bm25 FROM (
            SELECT query_id, doc_id, bm25,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY bm25 DESC, doc_id ASC
                   ) AS rn
            FROM scored WHERE bm25 > 0
        ) WHERE rn <= {k}
        ORDER BY query_id, bm25 DESC, doc_id ASC
    """


# --- mini corpus-build tuning constants (round 10) -----------------------

_MINI_SEED = 3
_MINI_QUOTA = 10
_MINI_BLOCK = 128
_MINI_MIN_TOKENS = 8
_MINI_MAX_PUNCT = 0.2

# the packed training manifest the corpus-build audits return (scrub
# also carries the scrubbed text)
_MANIFEST_COLS = (
    "doc_id", "source", "n_tokens", "position", "seq_id", "seq_offset"
)


def _audit_build_config(**near) -> "CorpusBuildConfig":
    """The corpus-build config every corpus-build audit runs: English
    only, the ``_MINI_*`` gate/quota/pack/seed values, no PII scrub,
    portable hashes (the oracle-replayable bridge). ``near`` carries the
    near-dup tier fields, the one thing the audits vary."""
    from .build_corpus import CorpusBuildConfig

    return CorpusBuildConfig(
        langs=("en",),
        min_tokens=_MINI_MIN_TOKENS,
        max_punct_ratio=_MINI_MAX_PUNCT,
        quota_per_source=_MINI_QUOTA,
        block_size=_MINI_BLOCK,
        seed=_MINI_SEED,
        scrub_pii=False,
        portable=True,
        **near,
    )


def _near_docs(spark: SparkSession, sf: str) -> DataFrame:
    """documents plus one synthesized near-dup per doc_id % 17 == 0 row:
    id + 1_000_000, text + one trailing token. Appending a token keeps
    Jaccard over distinct 3-gram shingles at (n-2)/(n-1) or higher —
    above 0.8 for every gated doc (>= 8 tokens) — so the LSH tier must
    merge each variant into its source's component and drop it (min-id
    original survives)."""
    docs = load(spark, sf, "documents").select(
        "doc_id", "text", "source"
    )
    variants = docs.filter(
        ((F.col("doc_id") % 17) == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the")).alias("text"),
        F.col("source"),
    )
    return docs.unionByName(variants)


# --- winnow-fingerprint CTE builders + thresholds (rounds 12-13) ---------

_ROBUST_K = 8
_ROBUST_W = 4


def _robust_fps_ctes(src: str) -> str:
    """The §5 robust-winnowing replay as a reusable recursive CTE chain
    ending in ``rfp (doc_id, pos, fp)`` — composable over any
    ``(doc_id, text)`` source CTE (q_winnow_robust and the span
    localization oracle share it). Fold over window start indices j
    (0-based; window j+1 covers gram positions j+1 .. j+w): carry (last
    selected position, selections); keep ``last`` while it is in-window
    and still a minimum, else append the rightmost minimal position
    (len - position of the min in the reversed window + 1, offset by
    j). Must be spliced into a ``WITH RECURSIVE`` clause."""
    from .corpus_ext import _NORMALIZED, _basehash_sql

    k, w = _ROBUST_K, _ROBUST_W
    gram_hash = _basehash_sql(f"substr(s, i, {k})")
    return f"""t AS (
            SELECT doc_id, {_NORMALIZED} AS s FROM {src}
            WHERE text IS NOT NULL
        ),
        g AS (
            SELECT doc_id,
                   CASE WHEN length(s) >= {k}
                        THEN list_transform(
                                 range(1, length(s) - {k} + 2),
                                 i -> {gram_hash})
                        ELSE CAST([] AS BIGINT[]) END AS grams
            FROM t
        ),
        base AS (
            SELECT doc_id, grams,
                   greatest(len(grams) - {w} + 1, 1) AS nwin
            FROM g WHERE len(grams) >= 1
        ),
        r AS (
            SELECT doc_id, grams, nwin,
                   0 AS j, 0 AS last, CAST([] AS INTEGER[]) AS sel
            FROM base
            UNION ALL
            SELECT doc_id, grams, nwin, j + 1,
                   CASE WHEN keep THEN last ELSE newpos END,
                   CASE WHEN keep THEN sel
                        ELSE list_append(sel, newpos) END
            FROM (
                SELECT doc_id, grams, nwin, j, last, sel,
                       (last > j AND grams[last] = m) AS keep,
                       CAST(j + len(win)
                            - list_position(list_reverse(win), m) + 1
                            AS INTEGER) AS newpos
                FROM (
                    SELECT *,
                           list_slice(grams, j + 1, j + {w}) AS win,
                           list_min(list_slice(grams, j + 1, j + {w})) AS m
                    FROM r WHERE j < nwin
                )
            )
        ),
        fin AS (SELECT doc_id, grams, sel FROM r WHERE j = nwin),
        rfp AS (
            SELECT doc_id, CAST(p AS INTEGER) AS pos, grams[p] AS fp
            FROM (SELECT doc_id, grams, unnest(sel) AS p FROM fin)
        )"""


_WINNOW_BUILD_THRESHOLD = 0.5
_WINNOW_BUILD_MAX_DF = 50

# the winnow near-dup tier of the winnow / scrub / incremental /
# takedown corpus-build audits (``_audit_build_config(**_WINNOW_NEAR)``)
_WINNOW_NEAR = {
    "near_threshold": _WINNOW_BUILD_THRESHOLD,
    "near_method": "winnow",
    "winnow_k": _ROBUST_K,
    "winnow_w": _ROBUST_W,
    "near_max_df": _WINNOW_BUILD_MAX_DF,
}


def _winnow_pairs_ctes(
    k: int, w: int, threshold: float, max_df: int, src: str
) -> str:
    """The dedup.winnow_pairs replay as a reusable CTE chain ending in
    ``win_pairs (id_a, id_b, jaccard)`` — composable over any
    ``(doc_id, text)`` source CTE (the q_dedup_winnow stages with the
    source parameterized, the _minhash_pairs_ctes pattern). Capped
    semantics replay exactly: fingerprints above ``max_df`` docs drop
    from candidate generation AND shared counts while set sizes stay
    full (underestimate). The operator's length-ratio prune needs no
    replay: capped shared counts never exceed min(nf), so pruned pairs
    are exactly those the threshold filter removes anyway."""
    from .corpus_ext import _NORMALIZED, _basehash_sql

    gram_hash = _basehash_sql(f"substr(s, i, {k})")
    return f"""wt AS (
            SELECT doc_id, {_NORMALIZED} AS s FROM {src}
            WHERE text IS NOT NULL
        ),
        wg AS (
            SELECT doc_id,
                   CASE WHEN length(s) >= {k}
                        THEN list_transform(
                                 range(1, length(s) - {k} + 2),
                                 i -> {gram_hash})
                        ELSE CAST([] AS BIGINT[]) END AS grams
            FROM wt
        ),
        wf AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(grams) - {w} + 1, 1) + 1),
                       j -> list_min(list_slice(grams, j, j + {w} - 1))
                   )) AS fps
            FROM wg WHERE len(grams) >= 1
        ),
        wheavy AS (
            SELECT fp FROM (
                SELECT fp, count(*) AS dfc
                FROM (SELECT unnest(fps) AS fp FROM wf) GROUP BY fp
            ) WHERE dfc > {max_df}
        ),
        we AS (
            SELECT id, nf, f FROM (
                SELECT doc_id AS id, len(fps) AS nf, unnest(fps) AS f
                FROM wf
            ) WHERE f NOT IN (SELECT fp FROM wheavy)
        ),
        wi AS (
            SELECT a.id AS id_a, b.id AS id_b, a.nf AS nf_a, b.nf AS nf_b,
                   count(*) AS c
            FROM we a JOIN we b ON a.f = b.f AND a.id < b.id
            GROUP BY 1, 2, 3, 4
        ),
        win_pairs AS (
            SELECT id_a, id_b, jaccard FROM (
                SELECT id_a, id_b,
                       CAST(c AS DOUBLE)
                       / CAST(nf_a + nf_b - c AS DOUBLE) AS jaccard
                FROM wi
            ) WHERE jaccard >= {threshold}
        )"""


_SPAN_THRESHOLD = 0.5
_SPAN_MAX_DF = 50


def _winnow_spans_incremental_oracle() -> str:
    # the robust positioned chain over sample ∪ variants, restricted to
    # (index doc, batch doc) pairs: anchors/spans from cap-surviving
    # fingerprints, jaccard/n_shared from the FULL distinct-value sets
    # (the value-exact verify), inner-joined so only pairs with >= 1
    # uncapped anchor report — exactly the operator's contract
    k = _ROBUST_K
    return f"""
        WITH RECURSIVE sample AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id % 7 = 0 AND text IS NOT NULL
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text || ' the' AS text
            FROM documents WHERE doc_id % 7 = 0 AND text IS NOT NULL
        ),
        {_robust_fps_ctes(src="sample")},
        vals AS (SELECT DISTINCT doc_id, fp FROM rfp),
        nf AS (SELECT doc_id, count(*) AS nf FROM vals GROUP BY doc_id),
        heavy AS (
            SELECT fp FROM (
                SELECT fp, count(*) AS dfc FROM vals GROUP BY fp
            ) WHERE dfc > {_SPAN_MAX_DF}
        ),
        e AS (SELECT * FROM rfp WHERE fp NOT IN (SELECT fp FROM heavy)),
        anc AS (
            SELECT a.doc_id AS id_index, b.doc_id AS id_batch,
                   a.pos AS pos_i, b.pos AS pos_b
            FROM e a JOIN e b ON a.fp = b.fp
            WHERE a.doc_id < 1000000 AND b.doc_id >= 1000000
        ),
        agg AS (
            SELECT id_index, id_batch,
                   CAST(count(*) AS BIGINT) AS n_anchors,
                   min(pos_i) AS i_start,
                   max(pos_i) + {k - 1} AS i_end,
                   min(pos_b) AS b_start,
                   max(pos_b) + {k - 1} AS b_end
            FROM anc GROUP BY 1, 2
        ),
        inter AS (
            SELECT i.doc_id AS id_index, b.doc_id AS id_batch,
                   count(*) AS n_shared
            FROM vals i JOIN vals b ON i.fp = b.fp
            WHERE i.doc_id < 1000000 AND b.doc_id >= 1000000
            GROUP BY 1, 2
        )
        SELECT id_index, id_batch, jaccard, n_shared, n_anchors,
               i_start, i_end, b_start, b_end
        FROM (
            SELECT g.id_index, g.id_batch,
                   CAST(x.n_shared AS DOUBLE)
                   / CAST(ni.nf + nb.nf - x.n_shared AS DOUBLE) AS jaccard,
                   CAST(x.n_shared AS INTEGER) AS n_shared,
                   g.n_anchors, g.i_start, g.i_end, g.b_start, g.b_end
            FROM agg g
            JOIN inter x ON g.id_index = x.id_index
                        AND g.id_batch = x.id_batch
            JOIN nf ni ON g.id_index = ni.doc_id
            JOIN nf nb ON g.id_batch = nb.doc_id
        ) WHERE jaccard >= {_SPAN_THRESHOLD}
    """


def _winnow_fps_ctes(k: int, w: int, src: str, prefix: str) -> str:
    """Plain winnowed fingerprint SETS as a prefixed, reusable CTE chain
    ending in ``{prefix}fps (doc_id, fps)`` — the wt/wg/wf steps of
    corpus_r12._winnow_pairs_ctes with the names parameterized so TWO
    sides (committed index, new batch) can coexist in one statement."""
    from .corpus_ext import _NORMALIZED, _basehash_sql

    gram_hash = _basehash_sql(f"substr(s, i, {k})")
    p = prefix
    return f"""{p}t AS (
            SELECT doc_id, {_NORMALIZED} AS s FROM {src}
            WHERE text IS NOT NULL
        ),
        {p}g AS (
            SELECT doc_id,
                   CASE WHEN length(s) >= {k}
                        THEN list_transform(
                                 range(1, length(s) - {k} + 2),
                                 i -> {gram_hash})
                        ELSE CAST([] AS BIGINT[]) END AS grams
            FROM {p}t
        ),
        {p}fps AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(grams) - {w} + 1, 1) + 1),
                       j -> list_min(list_slice(grams, j, j + {w} - 1))
                   )) AS fps
            FROM {p}g WHERE len(grams) >= 1
        )"""


# --- corpus-build stage replay (rounds 10-14) ---------------------------
# One CTE step per build stage; each corpus-build oracle composes them in
# stage order. Every step returns its CTEs with the first line unindented
# and the rest at the 8-space CTE indent of the composing statement.


def _near_input_cte(extra: str = "") -> str:
    """``input``: documents plus the ``_near_docs`` trailing-token
    variants (id + 1_000_000 per doc_id % 17 == 0 row); ``extra`` appends
    further UNION ALL branches."""
    return f"""input AS (
            SELECT doc_id, text, source FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text || ' the' AS text, source
            FROM documents WHERE doc_id % 17 = 0 AND text IS NOT NULL{extra}
        )"""


def _gate_predicate() -> str:
    """The quality + language gate's WHERE body: raw-division punctuation
    ratio, token floor, the marker-vote LID."""
    from .corpus_ext import _LANGID_CASE, _TOKS

    return f"""text IS NOT NULL
              AND CAST(len({_TOKS}) AS INTEGER) >= {_MINI_MIN_TOKENS}
              AND (CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '',
                                              'g')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE)) <= {_MINI_MAX_PUNCT!r}
              AND {_LANGID_CASE} = 'en'"""


def _exact_dedup_cte(cols: str) -> str:
    """``uniq``: the md5-fingerprint min-id exact dedup over ``gated``,
    keeping ``cols``."""
    from .corpus_ext import _NORMALIZED

    return f"""uniq AS (
            SELECT {cols} FROM (
                SELECT {cols},
                       row_number() OVER (
                           PARTITION BY md5({_NORMALIZED})
                           ORDER BY doc_id ASC
                       ) AS rn
                FROM gated
            ) WHERE rn = 1
        )"""


def _gate_dedup_ctes(
    src: str = "input", cols: str = "doc_id, source, text, n_tokens"
) -> str:
    """``gated`` (gate over ``src``, with the token count) then ``uniq``."""
    from .corpus_ext import _TOKS

    return f"""gated AS (
            SELECT doc_id, source, text,
                   CAST(len({_TOKS}) AS INTEGER) AS n_tokens
            FROM {src}
            WHERE {_gate_predicate()}
        ),
        {_exact_dedup_cte(cols)}"""


def _components_ctes(pairs: str, src: str) -> str:
    """``edges`` / ``reach`` / ``losers`` / ``kept``: recursive min-label
    connected components over the ``pairs`` CTE's (id_a, id_b), then
    ``src`` minus every non-root member."""
    return f"""edges AS (
            SELECT id_a AS src, id_b AS dst FROM {pairs}
            UNION
            SELECT id_b, id_a FROM {pairs}
        ),
        reach(id, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e2.src, r.lbl FROM edges e2 JOIN reach r ON e2.dst = r.id
        ),
        losers AS (
            SELECT id FROM (
                SELECT id, min(lbl) AS component FROM reach GROUP BY id
            ) WHERE id <> component
        ),
        kept AS (
            SELECT doc_id, source, n_tokens FROM {src}
            WHERE doc_id NOT IN (SELECT id FROM losers)
        )"""


def _against_index_ctes(committed: str, batch: str, hits: str) -> str:
    """The winnow against-index decision: plain-winnow fingerprint sets of
    the ``committed`` and ``batch`` sources (``cfps`` / ``bfps``),
    candidates sharing >= 1 fingerprint below the COMBINED
    document-frequency cap, then the FULL-set verify (value-exact — the
    winnow_dedup_against_index contract). Ends in ``hits (doc_id)``: the
    batch docs with a verified committed match."""
    return f"""{_winnow_fps_ctes(_ROBUST_K, _ROBUST_W, committed, "c")},
        {_winnow_fps_ctes(_ROBUST_K, _ROBUST_W, batch, "b")},
        iheavy AS (
            SELECT f FROM (
                SELECT doc_id, unnest(fps) AS f FROM cfps
                UNION ALL
                SELECT doc_id, unnest(fps) AS f FROM bfps
            ) GROUP BY f HAVING count(*) > {_WINNOW_BUILD_MAX_DF}
        ),
        icand AS (
            SELECT DISTINCT b.id AS bid, c.id AS cid
            FROM (SELECT doc_id AS id, unnest(fps) AS f FROM bfps) b
            JOIN (SELECT doc_id AS id, unnest(fps) AS f FROM cfps) c
              ON b.f = c.f
            WHERE b.f NOT IN (SELECT f FROM iheavy)
        ),
        {hits} AS (
            SELECT DISTINCT bid AS doc_id FROM (
                SELECT x.bid,
                       CAST(len(list_intersect(bf.fps, cf.fps)) AS DOUBLE)
                       / CAST(len(list_distinct(
                             list_concat(bf.fps, cf.fps))) AS DOUBLE)
                           AS jac
                FROM icand x
                JOIN bfps bf ON bf.doc_id = x.bid
                JOIN cfps cf ON cf.doc_id = x.cid
            ) WHERE jac >= {_WINNOW_BUILD_THRESHOLD}
        )"""


def _pack_ctes(src: str, cols: str = "doc_id, source, n_tokens") -> str:
    """``quota`` / ``pos`` / ``packed`` plus the final SELECT: the
    '|'-salted per-source quota hash, the ':'-seeded permutation hash and
    the running-total sequence coordinates over ``src``, carrying
    ``cols``."""
    return f"""quota AS (
            SELECT {cols} FROM (
                SELECT {cols},
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY CAST(('0x' || substr(md5(
                                        CAST(doc_id AS VARCHAR)
                                        || '|{_MINI_SEED}'
                                    ), 1, 15)) AS BIGINT) ASC,
                                    doc_id ASC
                       ) AS _rk
                FROM {src}
            ) WHERE _rk <= {_MINI_QUOTA}
        ),
        pos AS (
            SELECT {cols},
                   CAST(row_number() OVER (ORDER BY h, doc_id) - 1
                        AS BIGINT) AS position
            FROM (
                SELECT *, CAST('0x' || substr(md5('{_MINI_SEED}:'
                               || CAST(doc_id AS VARCHAR)), 1, 15)
                               AS BIGINT) AS h
                FROM quota
            )
        ),
        packed AS (
            SELECT {cols}, position,
                   SUM(n_tokens) OVER (ORDER BY position
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS start
            FROM pos
        )
        SELECT {cols}, position,
               CAST(floor(start / {_MINI_BLOCK}) AS BIGINT) AS seq_id,
               CAST(start % {_MINI_BLOCK} AS BIGINT) AS seq_offset
        FROM packed"""


def _corpus_build_incremental_oracle(
    committed_pred: str = "doc_id % 5 = 4",
) -> str:
    # the _corpus_build_winnow_oracle chain with the AGAINST-INDEX stage
    # spliced between exact dedup and the in-batch pair tier.
    # ``committed_pred`` parameterizes the committed slice so round-14's
    # takedown capstone replays the SAME chain over the REDUCED
    # committed set.
    return f"""
        WITH RECURSIVE {_near_input_cte()},
        committed AS (
            SELECT doc_id, text FROM documents
            WHERE {committed_pred} AND text IS NOT NULL
        ),
        {_gate_dedup_ctes()},
        {_against_index_ctes("committed", "uniq", "idx_hits")},
        uniq2 AS (
            SELECT doc_id, source, text, n_tokens FROM uniq
            WHERE doc_id NOT IN (SELECT doc_id FROM idx_hits)
        ),
        {_winnow_pairs_ctes(_ROBUST_K, _ROBUST_W, _WINNOW_BUILD_THRESHOLD,
                            _WINNOW_BUILD_MAX_DF, src="uniq2")},
        {_components_ctes("win_pairs", "uniq2")},
        {_pack_ctes("kept")}
    """


# --- index-audit scaffold (rounds 11-15) ---------------------------------


@contextmanager
def _temp_index(prefix: str) -> Iterator[str]:
    """A per-call temp directory for an audit's persisted index, removed
    when the block exits. A returned frame that still reads the index
    must be checkpointed (or collected) inside the block."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _centroid_frame(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """The label-mean IVF centroids of ``emb`` collected once into a
    one-slice local frame (``io.local_rows_of`` gives the rows back)."""
    from .corpus_ext import _ivf_centroids

    return local_frame(
        spark, _ivf_centroids(emb).collect(),
        "cell int, centroid array<double>",
    )


def _commit_winnow_slice(docs: DataFrame, path: str) -> DataFrame:
    """The committed corpus of the winnow-index audits — the
    ``doc_id % 5 == 4`` rows of the documents frame ``docs`` that have
    text — written as a positioned winnow index at ``path`` (a rebuild
    writes it again); returns the slice."""
    from ..operators import dedup

    committed = docs.filter(
        (F.col("doc_id") % 5 == 4) & F.col("text").isNotNull()
    ).select("doc_id", "text")
    dedup.winnow_pos_index_write(
        committed, path, k=_ROBUST_K, w=_ROBUST_W, portable=True
    )
    return committed


def _winnow_take_down(
    spark: SparkSession, path: str, removed: DataFrame
) -> "tuple[dict, int, bool]":
    """Tombstone ``removed``'s doc_ids in the winnow index at ``path``.
    Returns the remove report, the live docs after, and whether every
    removed doc that was fingerprinted left the live view (the report's
    exact witness equals the live-doc delta)."""
    from ..operators import dedup

    docs_before = dedup.winnow_index_stats(spark, path)["docs"]
    rep = dedup.winnow_index_remove(spark, path, removed.select("doc_id"))
    docs_after = dedup.winnow_index_stats(spark, path)["docs"]
    witnessed = (
        rep["matched_live"] == docs_before - docs_after
        and rep["requested"] == removed.count()
    )
    return rep, docs_after, witnessed


def _winnow_corpus_build(
    spark: SparkSession, sf: str, dedup_index: "str | None" = None
) -> DataFrame:
    """The winnow-tier corpus build over ``_near_docs`` (optionally
    against the committed index at ``dedup_index``): the packed
    manifest."""
    from .build_corpus import build_corpus

    return build_corpus(
        _near_docs(spark, sf), cfg=_audit_build_config(**_WINNOW_NEAR),
        dedup_index=dedup_index,
    ).select(*_MANIFEST_COLS)
