"""Corpus wave 11: the persisted IVF-PQ index lifecycle, the composed
corpus build with its near-dup LSH tier live, and fuzzy dim matching.

- ``q_ann_ivf_pq_incremental`` — the persisted IVF-PQ index lifecycle
  (similarity.ivf_pq_index_write / ivf_pq_index_add / ivf_pq_index_topk,
  the faiss write_index / IndexIVFPQ.add analog, VERDICT r10 #3):
  residual codebooks train on the INITIAL corpus (vec_id % 5 != 1), the
  index persists partitioned by cell, the held-out batch is added with
  the SAVED model state (no retraining), and the probe runs over the
  two-generation partitioned layout. Audit contract (the q_ann_lsh /
  q_ann_ivf_pq pattern): output is the EXACT euclidean top-10 witness
  over initial ∪ batch + recall_ok pinned TRUE iff the persisted-index
  probe hit >= 80% of the exact set.

- ``q_corpus_build_near`` — the composed corpus-build pipeline with the
  minhash-LSH near-dup tier ON (VERDICT r10 #4: q_corpus_build_mini runs
  near_threshold=None, so the composition never exercised banded LSH
  inside the chain). Same stage-for-stage CTE replay as the mini oracle,
  plus the near-dup stages: banded minhash signatures → band-equality
  candidate pairs → exact Jaccard verify → star-contraction connected
  components → drop non-root members. The documents fixture has no true
  near-dups above the threshold, so the tier must be exercised by
  synthesized variants: every doc_id % 17 == 0 document contributes a
  SECOND row (doc_id + 1_000_000) whose text gets one extra trailing
  token — high-Jaccard with its source and merged by the LSH tier, with
  the min-id original surviving.

- ``q_semantic_dedup_incremental`` — incremental SemDeDup against the
  persisted IVF index (similarity.semantic_dedup_against_index): the
  semantic member of the incremental-dedup family. Batch vectors are
  assigned with the SAVED centroids, cosine-compared only against index
  vectors in their cells (partition-pruned scan, batch broadcast) and
  earlier same-cell batch rows; survivors returned. Full value oracle:
  decimal centroid means, rank-window assignment, cell-blocked fold
  cosines, pairwise min-id drops — every stage replayed.

- ``q_fuzzy_dim_match`` — entity resolution of a dirty fact-side name
  column against a canonical dimension via the two-table PassJoin
  (fuzzy.passjoin_join, VERDICT r10 #5 — the reference's geo-dim
  matching problem done fuzzily): customer names with synthesized typos
  (dropped char / swapped-in char) joined back to the clean customer
  roster at edit distance <= 3. Segment blocking on the CLEAN side,
  substring probes on the dirty side — never all-pairs. Oracle =
  all-pairs levenshtein ground truth on the bounded roster.

Reference parity note: the reference's only persisted artifacts are
Cassandra tables and saved PipelineModels (app/ml_app.py:68-74); it
has no ANN/index or crawl surface; these extend SURVEY §7.4's
training-data pipeline plan with public faiss/PassJoin constructions.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import similarity
from .oracle_lib import _temp_index


def q_ann_ivf_pq_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted IVF-PQ index lifecycle (write → add → probe) through the
    audit contract. Same index parameters as q_ann_ivf_pq (m=32, kc=16,
    nprobe=8 of the 10 isotropic fixture cells, rerank_factor=32); the
    codebooks see only the initial 80% of the corpus, the probe must
    still recall >= 80% of the exact top-10 over the full two-generation
    index. The index materializes under a per-call temp dir and is
    removed before returning — the witness is checkpointed, so the
    returned frame never re-reads it."""
    from .corpus_ext import _ivf_centroids, _query_vec_list

    emb = load(spark, sf, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    initial = data.filter(F.col("vec_id") % 5 != 1)
    batch = data.filter(F.col("vec_id") % 5 == 1)
    with _temp_index("ivfpq_index_") as tmp:
        return similarity.ivf_pq_index_lifecycle_audit(
            initial, batch, _ivf_centroids(emb), _query_vec_list(emb), tmp,
            k=10, m=32, kc=16, nprobe=8, rerank_factor=32,
        )


def _ivf_pq_incremental_oracle() -> str:
    # the audit-contract oracle: exact euclidean top-10 witness over
    # initial ∪ batch (= all vec_id != 0) + pinned recall boolean —
    # identical to q_ann_ivf_pq's, because the persisted lifecycle must
    # recall the same exact set
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


_NEAR_THRESHOLD = 0.8


# shared across waves — moved verbatim to plans/oracle_lib (VERDICT r14 #7)
from .oracle_lib import _near_docs


def q_corpus_build_near(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-build composition with the minhash-LSH near-dup tier ON
    (VERDICT r10 #4): gate -> exact dedup -> banded-LSH near-dedup
    (candidate pairs -> exact-Jaccard verify -> connected components ->
    drop non-roots) -> per-source quota -> epoch shuffle -> pack. Same
    parameters as q_corpus_build_mini plus near_threshold=0.8; input is
    the documents table with synthesized near-dup variants so the tier
    has real work at every SF.

    100-TB shape adds the LSH stages to the mini pipeline's: the
    candidate shuffle is O(docs x bands) on band-signature keys (never
    all-pairs), verification joins hashed shingle sets only for
    candidates, and components run star-contraction rounds sized to the
    pair volume — no driver graph."""
    from .build_corpus import build_corpus
    from .oracle_lib import _MANIFEST_COLS, _audit_build_config

    cfg = _audit_build_config(near_threshold=_NEAR_THRESHOLD)
    return build_corpus(_near_docs(spark, sf), cfg=cfg).select(*_MANIFEST_COLS)


def _corpus_build_near_oracle() -> str:
    # the q_corpus_build_mini stage replay with the near-dup tier spliced
    # between exact dedup and quota: the q_dedup_minhash_lsh CTE chain
    # (affine minhash family, banded candidates, exact-Jaccard verify)
    # over the exact-dedup survivors, then the q_dedup_clusters recursive
    # min-label components, then drop non-root members
    from .corpus_ext import _minhash_pairs_ctes
    from .oracle_lib import (
        _components_ctes, _gate_dedup_ctes, _near_input_cte, _pack_ctes,
    )

    return f"""
        WITH RECURSIVE {_near_input_cte()},
        {_gate_dedup_ctes()},
        {_minhash_pairs_ctes(threshold=_NEAR_THRESHOLD, src="uniq")},
        {_components_ctes("lsh_pairs", "uniq")},
        {_pack_ctes("kept")}
    """


_SEMANTIC_INCR_THRESHOLD = 0.4


def q_semantic_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental SemDeDup against a persisted IVF index
    (similarity.semantic_dedup_against_index): the initial corpus
    (vec_id % 4 != 1) persists as an ivf_index_write layout, then the
    held-out batch probes it — assigned with the SAVED centroids,
    cosine-compared only against index vectors in its cells (partition-
    pruned scan, batch broadcast) and earlier same-cell batch rows.
    Output: the surviving batch (vec_id, cell) rows. The semantic member
    of the incremental-dedup family (exact/bloom/minhash/URL tiers),
    composed with the ANN index layout. The index materializes under a
    per-call temp dir; the survivors checkpoint before cleanup."""
    from ..operators import similarity
    from .corpus_ext import _ivf_centroids

    emb = load(spark, sf, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    initial = data.filter(F.col("vec_id") % 4 != 1)
    batch = data.filter(F.col("vec_id") % 4 == 1)
    with _temp_index("semdedup_idx_") as tmp:
        similarity.ivf_index_write(
            initial.select("vec_id", "embedding"), _ivf_centroids(emb), tmp
        )
        return similarity.semantic_dedup_against_index(
            spark, tmp, batch.select("vec_id", "embedding"),
            threshold=_SEMANTIC_INCR_THRESHOLD,
        ).localCheckpoint()


def _semantic_dedup_incremental_oracle() -> str:
    # full replay: decimal label-mean centroids, rank-window assignment
    # (the ivf_assign twin the q_dedup_semantic oracle pins), cell-blocked
    # exact cosine against the initial (index) side and earlier batch rows
    from .corpus_ext import _cosine_sql

    return f"""
        WITH px AS (
            SELECT label, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings
        ),
        means AS (
            SELECT label, pos,
                   CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(27,7))) AS VARCHAR)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
            FROM px GROUP BY label, pos
        ),
        cent AS (
            SELECT CAST(label AS INTEGER) AS cell, list(m ORDER BY pos) AS centroid
            FROM means GROUP BY label
        ),
        scores AS (
            SELECT e.vec_id, e.embedding, c.cell,
                   {_cosine_sql('e.embedding', 'c.centroid')} AS cs
            FROM embeddings e, cent c
            WHERE e.vec_id <> 0
        ),
        assigned AS (
            SELECT vec_id, embedding, cell FROM (
                SELECT vec_id, embedding, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cs DESC, cell ASC) AS rn
                FROM scores
            ) WHERE rn = 1
        ),
        idx AS (SELECT * FROM assigned WHERE vec_id % 4 <> 1),
        batch AS (SELECT * FROM assigned WHERE vec_id % 4 = 1),
        index_hits AS (
            SELECT DISTINCT b.vec_id
            FROM batch b JOIN idx i ON b.cell = i.cell
            WHERE {_cosine_sql('b.embedding', 'i.embedding')}
                  >= {_SEMANTIC_INCR_THRESHOLD}
        ),
        in_batch AS (
            SELECT DISTINCT y.vec_id
            FROM batch x JOIN batch y
              ON x.cell = y.cell AND x.vec_id < y.vec_id
            WHERE {_cosine_sql('x.embedding', 'y.embedding')}
                  >= {_SEMANTIC_INCR_THRESHOLD}
        )
        SELECT vec_id, cell FROM batch
        WHERE vec_id NOT IN (SELECT vec_id FROM index_hits)
          AND vec_id NOT IN (SELECT vec_id FROM in_batch)
    """


_WINNOW_K = 8
_WINNOW_W = 4
_WINNOW_THRESHOLD = 0.5


def q_dedup_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs by MOSS winnowing fingerprints
    (text.winnow_fingerprints + dedup.winnow_pairs): rolling character
    8-gram hashes, min-of-each-4-window selection, exact Jaccard over
    the selected sets — the rolling-hash member of the near-dup family
    (guarantee: any shared substring of length >= w+k-1 = 11 shares a
    fingerprint). Input includes the synthesized trailing-token variants
    (_near_docs) so near — not only exact — matches appear at every SF.
    The candidate join explodes only the winnowed density (~2/(w+1) of
    the k-grams), a small fraction of the shingle tier's shuffle;
    max_fingerprint_df=50 is the stop-gram cap the fixture's boilerplate
    density demands (the q_dedup_incremental_winnow verdict — without it
    hot fingerprints contribute df² candidate rows), with the pairs
    form's documented capped-Jaccard (underestimate) semantics replayed
    in the oracle."""
    from ..operators import dedup

    docs = _near_docs(spark, sf).select("doc_id", "text")
    return dedup.winnow_pairs(
        docs, "doc_id",
        k=_WINNOW_K, w=_WINNOW_W, threshold=_WINNOW_THRESHOLD,
        portable=True, max_fingerprint_df=_WINNOW_MAX_DF,
    )


def _dedup_winnow_oracle() -> str:
    # stage replay: normalization, rolling k-gram 60-bit hashes, window
    # minima (single boundary window below w grams), distinct selection,
    # the combined-df stop-gram cap, then the ngram_jaccard inverted-join
    # verify — the pairs form's capped semantics: shared counts exclude
    # capped fingerprints while set sizes stay full (underestimate)
    from .corpus_ext import _NORMALIZED, _basehash_sql

    gram_hash = _basehash_sql(f"substr(s, i, {_WINNOW_K})")
    return f"""
        WITH input AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text || ' the' AS text
            FROM documents WHERE doc_id % 17 = 0 AND text IS NOT NULL
        ),
        t AS (
            SELECT doc_id, {_NORMALIZED} AS s FROM input
            WHERE text IS NOT NULL
        ),
        g AS (
            SELECT doc_id,
                   CASE WHEN length(s) >= {_WINNOW_K}
                        THEN list_transform(
                                 range(1, length(s) - {_WINNOW_K} + 2),
                                 i -> {gram_hash})
                        ELSE CAST([] AS BIGINT[]) END AS grams
            FROM t
        ),
        f AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(grams) - {_WINNOW_W} + 1, 1) + 1),
                       j -> list_min(list_slice(grams, j, j + {_WINNOW_W} - 1))
                   )) AS fps
            FROM g WHERE len(grams) >= 1
        ),
        heavy AS (
            SELECT fp FROM (
                SELECT fp, count(*) AS dfc
                FROM (SELECT unnest(fps) AS fp FROM f) GROUP BY fp
            ) WHERE dfc > {_WINNOW_MAX_DF}
        ),
        e AS (
            SELECT id, nf, f FROM (
                SELECT doc_id AS id, len(fps) AS nf, unnest(fps) AS f FROM f
            ) WHERE f NOT IN (SELECT fp FROM heavy)
        ),
        i AS (
            SELECT a.id AS id_a, b.id AS id_b, a.nf AS nf_a, b.nf AS nf_b,
                   count(*) AS c
            FROM e a JOIN e b ON a.f = b.f AND a.id < b.id
            GROUP BY 1, 2, 3, 4
        )
        SELECT id_a, id_b, jaccard FROM (
            SELECT id_a, id_b,
                   CAST(c AS DOUBLE) / CAST(nf_a + nf_b - c AS DOUBLE)
                       AS jaccard
            FROM i
        ) WHERE jaccard >= {_WINNOW_THRESHOLD}
    """


_WINNOW_MAX_DF = 50


def q_dedup_incremental_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental rolling-hash near dedup against a persisted winnowing
    index (dedup.winnow_dedup_against_index): docs with doc_id % 3 == 0
    play the indexed corpus, the rest arrive as a batch; survivors are
    batch docs with no fingerprint-Jaccard >= 0.5 match in the corpus.
    The winnowing member of the incremental family — fingerprint-keyed
    probe + FULL-SET exact verify, every join broadcasting the batch
    side, index scan-only. max_fingerprint_df=50 is the stop-gram cap:
    the fixture's small vocabulary makes 8-char grams ultra-common (max
    df 1145 of 1667 index docs), so uncapped candidates degenerate
    toward all-pairs — the boilerplate problem every real crawl has.
    Fully oracle-checked via the portable hash bridge (the cap and the
    full-set verify replay exactly)."""
    from ..operators import dedup

    docs = load(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    # localCheckpoint stands in for the PERSISTED index the contract
    # names: the probe has three index consumers (df cap, candidates,
    # verify) and a production index is a parquet scan, not a live
    # fingerprinting lineage re-executed per consumer
    index = dedup.winnow_index(
        corpus, "doc_id", k=_WINNOW_K, w=_WINNOW_W, portable=True
    ).localCheckpoint()
    return dedup.winnow_dedup_against_index(
        batch, index, "doc_id",
        k=_WINNOW_K, w=_WINNOW_W,
        threshold=_WINNOW_THRESHOLD, portable=True,
        max_fingerprint_df=_WINNOW_MAX_DF,
    ).select("doc_id", "source")


def _dedup_incremental_winnow_oracle() -> str:
    # the winnow stage replay over documents, split %3: combined-df
    # stop-gram cap on candidate generation, candidates = pairs sharing
    # an UNCAPPED fingerprint, then the FULL-SET exact-Jaccard verify
    # (list_intersect over the complete fps arrays — the operator's
    # value-exact verify); batch docs with no fingerprints always survive
    from .corpus_ext import _NORMALIZED, _basehash_sql

    gram_hash = _basehash_sql(f"substr(s, i, {_WINNOW_K})")
    return f"""
        WITH t AS (
            SELECT doc_id, {_NORMALIZED} AS s FROM documents
            WHERE text IS NOT NULL
        ),
        g AS (
            SELECT doc_id,
                   CASE WHEN length(s) >= {_WINNOW_K}
                        THEN list_transform(
                                 range(1, length(s) - {_WINNOW_K} + 2),
                                 i -> {gram_hash})
                        ELSE CAST([] AS BIGINT[]) END AS grams
            FROM t
        ),
        f AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(grams) - {_WINNOW_W} + 1, 1) + 1),
                       j -> list_min(list_slice(grams, j, j + {_WINNOW_W} - 1))
                   )) AS fps
            FROM g WHERE len(grams) >= 1
        ),
        heavy AS (
            SELECT fp FROM (
                SELECT fp, count(*) AS dfc
                FROM (SELECT unnest(fps) AS fp FROM f) GROUP BY fp
            ) WHERE dfc > {_WINNOW_MAX_DF}
        ),
        e_i AS (
            SELECT doc_id AS iid, unnest(fps) AS fp
            FROM f WHERE doc_id % 3 = 0
        ),
        e_b AS (
            SELECT doc_id AS bid, unnest(fps) AS fp
            FROM f WHERE doc_id % 3 <> 0
        ),
        cand AS (
            SELECT DISTINCT bid, iid
            FROM e_b JOIN e_i USING (fp)
            WHERE fp NOT IN (SELECT fp FROM heavy)
        ),
        matched AS (
            SELECT DISTINCT c.bid
            FROM cand c
            JOIN f fb ON fb.doc_id = c.bid
            JOIN f fi ON fi.doc_id = c.iid
            WHERE CAST(len(list_intersect(fb.fps, fi.fps)) AS DOUBLE)
                  / CAST(len(fb.fps) + len(fi.fps)
                         - len(list_intersect(fb.fps, fi.fps)) AS DOUBLE)
                  >= {_WINNOW_THRESHOLD}
        )
        SELECT d.doc_id, d.source FROM documents d
        WHERE d.doc_id % 3 <> 0
          AND d.doc_id NOT IN (SELECT bid FROM matched)
    """


def _dirty_names(cust: DataFrame) -> DataFrame:
    """Deterministic typo'd copy of the roster's names — the dirty fact
    side of the entity-resolution demo. custkey % 3 picks the corruption
    (all plain substring surgery, replayable verbatim in SQL):
      0: 3rd char deleted                (edit distance 1)
      1: 5th char replaced with 'x'      (edit distance 1)
      2: first three chars -> 'zzz'      (edit distance 3)"""
    name = F.col("c_name")
    v = F.col("c_custkey") % 3
    dirty = (
        F.when(
            v == 0,
            F.concat(F.substring(name, 1, 2), F.substring(name, 4, 1000)),
        )
        .when(
            v == 1,
            F.concat(
                F.substring(name, 1, 4), F.lit("x"), F.substring(name, 6, 1000)
            ),
        )
        .otherwise(F.concat(F.lit("zzz"), F.substring(name, 4, 1000)))
    )
    return cust.select(
        F.col("c_custkey").alias("dirty_id"), dirty.alias("dirty_name")
    )


def q_fuzzy_dim_match(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution against a canonical dimension via the two-table
    PassJoin (fuzzy.passjoin_join, VERDICT r10 #5): the clean customer
    roster indexes its k+1 even segments, the dirty (typo'd) name column
    probes with position-banded substrings, candidates meet on an
    equality join — never all-pairs — and a banded levenshtein verify
    makes the match exact at edit distance <= 3. The same deterministic
    10%-of-BUILDING roster as q_fuzzy_name_pairs_k3 keeps the
    demonstration bounded; the oracle is all-pairs ground truth."""
    from ..operators import fuzzy

    cust = (
        load(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .filter(F.col("c_custkey") % 10 == 0)
    )
    return fuzzy.passjoin_join(
        cust.select("c_custkey", "c_name"),
        _dirty_names(cust),
        "c_custkey", "c_name", "dirty_id", "dirty_name",
        max_dist=3,
    )


_DIRTY_NAME_SQL = """
    CASE c_custkey % 3
        WHEN 0 THEN substr(c_name, 1, 2) || substr(c_name, 4, 1000)
        WHEN 1 THEN substr(c_name, 1, 4) || 'x' || substr(c_name, 6, 1000)
        ELSE 'zzz' || substr(c_name, 4, 1000)
    END
"""


def _fuzzy_dim_match_oracle() -> str:
    # all-pairs levenshtein ground truth over the bounded roster — the
    # blocking is internal; the oracle checks the MATH (the
    # q_fuzzy_name_pairs_k3 pattern, two-table form)
    return f"""
        WITH roster AS (
            SELECT c_custkey, c_name FROM customer
            WHERE c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0
        ),
        dirty AS (
            SELECT c_custkey AS dirty_id, {_DIRTY_NAME_SQL} AS dirty_name
            FROM roster
        )
        SELECT r.c_custkey, d.dirty_id, r.c_name, d.dirty_name,
               CAST(levenshtein(r.c_name, d.dirty_name) AS INTEGER) AS dist
        FROM roster r JOIN dirty d
          ON levenshtein(r.c_name, d.dirty_name) <= 3
    """


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_ann_ivf_pq_incremental": q_ann_ivf_pq_incremental,
    "q_corpus_build_near": q_corpus_build_near,
    "q_fuzzy_dim_match": q_fuzzy_dim_match,
    "q_semantic_dedup_incremental": q_semantic_dedup_incremental,
    "q_dedup_winnow": q_dedup_winnow,
    "q_dedup_incremental_winnow": q_dedup_incremental_winnow,
}

ROWS_ONLY_QUERIES: set[str] = set()

ORACLE_SQL: dict[str, str] = {
    "q_ann_ivf_pq_incremental": _ivf_pq_incremental_oracle(),
    "q_corpus_build_near": _corpus_build_near_oracle(),
    "q_fuzzy_dim_match": _fuzzy_dim_match_oracle(),
    "q_semantic_dedup_incremental": _semantic_dedup_incremental_oracle(),
    "q_dedup_winnow": _dedup_winnow_oracle(),
    "q_dedup_incremental_winnow": _dedup_incremental_winnow_oracle(),
}
