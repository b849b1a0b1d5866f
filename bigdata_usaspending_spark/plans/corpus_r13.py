"""Corpus wave 13: the persisted-index compaction lifecycle and the
OPQ-rotated capstone composition.

- ``q_ann_index_compact`` — the add-forever lifecycle's MERGE side
  (VERDICT r12 #6): build an IVF-PQ index, fragment it with three
  incremental adds (one file per touched cell PER add), probe, COMPACT
  (similarity.ann_index_compact — one shuffle partitioned on the cell
  column, crash-bounded Hadoop-FS swap), probe again. The audit pins
  ``compact_exact`` (post-compact hits bit-identical), ``files_reduced``
  (cell directories collapsed), ``rows_ok`` (no row lost) and
  ``recall_ok`` alongside the exact euclidean witness — the rollup
  sink's merge-on-read + compaction contract carried onto the ANN
  index.

- ``q_corpus_semantic_opq`` — the capstone composition through the
  round-12 OPQ surface (VERDICT r12 #7): curate documents (language +
  token gates, fully replayed), join survivors to their embeddings,
  build the dedup/decontamination ANN index WITH the rotated codebooks
  (opq_train_driver -> rotated ivf_pq_index_write with the rotation
  persisted -> RAW ivf_pq_index_add of the held-out half), then
  semantically DECONTAMINATE: the query vector's exact euclidean top-k
  over the survivor corpus is removed, the persisted rotated probe
  audits that the full lifecycle (rotate-on-add, rotate-on-probe) finds
  >= 80% of that exact set. The approximate result never leaves the
  plan; the decisions the output depends on are the exact
  (SQL-replayable) set — the audit-contract pattern every ANN family
  query in this corpus uses.

Reference parity note: the reference's only persisted artifacts are
Cassandra tables and saved PipelineModels (app/ml_app.py:68-74); it
has no index-maintenance or embedding surface; these extend SURVEY
§7.4's training-data pipeline plan with the faiss-style lifecycle
(merge/compact; IndexPreTransform) re-expressed Spark-first.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from .oracle_lib import _centroid_frame, _temp_index


_COMPACT_K = 5
_OPQ_CAP_K = 5
_OPQ_MIN_TOKENS = 8


def q_ann_index_compact(spark: SparkSession, sf: str) -> DataFrame:
    """Compaction lifecycle audit: initial build (vec_id % 4 != 0), THREE
    fragmented adds (the % 4 == 0 remainder split 3 ways), probe, compact,
    probe. Emits the exact euclidean top-5 witness over the whole corpus
    plus four pinned booleans:

    - ``compact_exact`` — the post-compact probe returned bit-identical
      (vec_id, l2sq) rows (file order is immaterial: probe orderings are
      total on (score, id));
    - ``files_reduced`` — the rewrite collapsed the add fragments
      (files_before > files_after);
    - ``rows_ok`` — the compacted layout holds exactly the corpus row
      count (the staged-copy verification that runs BEFORE the swap);
    - ``recall_ok`` — the probed index (either side of the compact) hit
      >= 80% of the exact set.

    100-TB shape: the compact is ONE shuffle keyed on the partition
    column — cost proportional to the index, run at add-cadence; probes
    before and after read nprobe cell directories, the after-side at one
    file per directory (the point)."""
    from ..io import hadoop_data_file_count
    from ..operators import similarity
    from .corpus_ext import _query_vec_list

    emb = load(spark, sf, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    initial = data.filter(F.col("vec_id") % 4 != 0)
    qvec = _query_vec_list(emb)
    with _temp_index("compact_idx_") as tmp:
        similarity.ivf_pq_index_build(
            initial, _centroid_frame(spark, emb), tmp, m=16, k=16
        )
        for i in range(3):
            similarity.ivf_pq_index_add(
                spark, tmp,
                data.filter(
                    (F.col("vec_id") % 4 == 0)
                    & ((F.col("vec_id") / 4).cast("long") % 3 == i)
                ),
            )
        files_before = hadoop_data_file_count(spark, f"{tmp}/vectors.parquet")

        def probe():
            return [
                (r.vec_id, r.l2sq)
                for r in similarity.ivf_pq_index_topk(
                    spark, tmp, qvec,
                    k=_COMPACT_K, nprobe=10, rerank_factor=64,
                ).collect()  # k-bounded
            ]

        before = probe()
        stats = similarity.ann_index_compact(spark, tmp)
        after = probe()
        n_rows = data.count()
        compact_exact = after == before
        files_reduced = (
            stats["files_before"] == files_before
            and stats["files_after"] < files_before
        )
        rows_ok = stats["rows"] == n_rows
        exact, _, recall_ok = similarity.exact_topk_witness(
            data, qvec, [v for v, _ in after], _COMPACT_K
        )
        return exact.select(
            "vec_id", "distance",
            F.lit(bool(compact_exact)).alias("compact_exact"),
            F.lit(bool(files_reduced)).alias("files_reduced"),
            F.lit(bool(rows_ok)).alias("rows_ok"),
            F.lit(recall_ok).alias("recall_ok"),
        ).orderBy(F.asc("distance"), F.asc("vec_id"))


def _ann_index_compact_oracle() -> str:
    # audit-contract oracle: the exact euclidean top-5 witness plus the
    # four pinned booleans (the lifecycle guarantees, not the lifecycle)
    from .corpus_ext import _euclid_sql

    return f"""
        WITH data AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings WHERE vec_id <> 0
        ),
        q AS (
            SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
            FROM embeddings WHERE vec_id = 0
        )
        SELECT d.vec_id, {_euclid_sql('d.emb', 'q.q_emb')} AS distance,
               TRUE AS compact_exact, TRUE AS files_reduced,
               TRUE AS rows_ok, TRUE AS recall_ok
        FROM data d, q
        ORDER BY distance ASC, d.vec_id ASC
        LIMIT {_COMPACT_K}
    """


def q_corpus_semantic_opq(spark: SparkSession, sf: str) -> DataFrame:
    """Capstone composition through the OPQ surface: curation gates ->
    survivor embeddings -> OPQ-rotated persisted IVF-PQ dedup index ->
    semantic decontamination.

    1. GATE (replayed): keep English documents with >= 8 whitespace
       tokens (the corpus-build language/length gates).
    2. JOIN (replayed): survivors pick up their embedding rows
       (vec_id = doc_id; the fixture's 1:1 contract).
    3. INDEX (audited): the survivor corpus splits % 5; the larger side
       trains the OPQ rotation + residual codebooks
       (similarity.opq_train_driver, deterministic alternation) and
       becomes an ivf_pq_index_write layout built in the ROTATED space
       with the rotation persisted; the % 5 == 0 side is added RAW —
       rotated on the way in by the saved matrix (the faiss
       IndexPreTransform pairing). This is the index a production
       pipeline would keep for ongoing semantic dedup of new batches.
    4. DECONTAMINATE (replayed decisions, audited probe): the exact
       euclidean top-5 survivors nearest the query vector (vec_id 0) are
       the contamination set — removed from the corpus; the persisted
       ROTATED probe (RAW query in) must find >= 80% of that exact set
       (``recall_ok``), and ``rotation_persisted`` pins that the
       pre-transform actually loaded — the guarantee isn't vacuous.

    Output: the contamination witness rows (doc_id, distance) with
    ``n_clean`` (surviving corpus size after removal) and the two
    booleans. Every value the output carries replays exactly in SQL;
    the rotated lifecycle contributes the audited guarantee."""
    from ..operators import similarity
    from .corpus_ext import _query_vec_list

    docs = load(spark, sf, "documents")
    emb = load(spark, sf, "embeddings")
    survivors = (
        docs.filter(
            (F.col("lang") == "en")
            & (
                F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
                >= _OPQ_MIN_TOKENS
            )
            & (F.col("doc_id") != 0)
        )
        .select("doc_id")
        .join(emb, on=F.col("doc_id") == F.col("vec_id"), how="inner")
        .select("vec_id", "embedding", "label")
        .localCheckpoint()  # three consumers: split, exact witness, count
    )
    initial = survivors.filter(F.col("vec_id") % 5 != 0)
    batch = survivors.filter(F.col("vec_id") % 5 == 0)
    qvec = _query_vec_list(emb)
    with _temp_index("sem_opq_idx_") as tmp:
        rot, _cb0, _audit = similarity.opq_train_driver(
            similarity._bounded_train_frame(initial, "vec_id", 65_536),
            m=32, k=16, iters=2,
        )
        rotated = similarity.opq_rotate(initial, rot).localCheckpoint()
        similarity.ivf_pq_index_build(
            rotated, _centroid_frame(spark, rotated), tmp, m=32, k=16,
            rotation=rot,
        )
        similarity.ivf_pq_index_add(spark, tmp, batch)  # RAW batch
        hit = {
            r.vec_id
            for r in similarity.ivf_pq_index_topk(
                spark, tmp, qvec, k=_OPQ_CAP_K, nprobe=10, rerank_factor=64
            ).collect()  # k-bounded, RAW query
        }
        rotation_persisted = (
            similarity._open_ann_index(spark, tmp).rotation is not None
        )
        exact, exact_ids, recall_ok = similarity.exact_topk_witness(
            survivors, qvec, hit, _OPQ_CAP_K
        )
        n_clean = survivors.count() - len(exact_ids)
        return exact.select(
            F.col("vec_id").alias("doc_id"), "distance",
            F.lit(int(n_clean)).cast("long").alias("n_clean"),
            F.lit(recall_ok).alias("recall_ok"),
            F.lit(bool(rotation_persisted)).alias("rotation_persisted"),
        ).orderBy(F.asc("distance"), F.asc("doc_id"))


def _corpus_semantic_opq_oracle() -> str:
    # stage replay: the gates, the embedding join, the exact
    # decontamination witness and the clean-count all reproduce; the
    # rotated-lifecycle guarantees arrive as pinned booleans
    from .corpus_ext import _euclid_sql

    return f"""
        WITH surv AS (
            SELECT e.vec_id,
                   list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM documents d
            JOIN embeddings e ON e.vec_id = d.doc_id
            WHERE d.lang = 'en'
              AND len(string_split_regex(trim(lower(d.text)), '\\s+'))
                  >= {_OPQ_MIN_TOKENS}
              AND d.doc_id <> 0
        ),
        q AS (
            SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
            FROM embeddings WHERE vec_id = 0
        ),
        witness AS (
            SELECT s.vec_id AS doc_id,
                   {_euclid_sql('s.emb', 'q.q_emb')} AS distance
            FROM surv s, q
            ORDER BY distance ASC, doc_id ASC
            LIMIT {_OPQ_CAP_K}
        )
        SELECT w.doc_id, w.distance,
               (SELECT count(*) FROM surv) - (SELECT count(*) FROM witness)
                   AS n_clean,
               TRUE AS recall_ok, TRUE AS rotation_persisted
        FROM witness w
        ORDER BY w.distance ASC, w.doc_id ASC
    """


def q_gopher_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """MassiveText/Gopher repetition gate in its CHARACTER-fraction form
    (text.ngram_char_fractions; Rae et al. 2021 Table A1): per document
    the top-2-gram char fraction, the duplicate-5-gram char fraction and
    the keep flag at the paper's 0.20 / 0.15 thresholds — the repetition
    filter the occurrence-fraction q_repeated_passages family doesn't
    cover. Every value replays exactly: normalized-length denominators,
    count x gram-length numerators, deterministic (count DESC, gram ASC)
    top tie-break, raw IEEE divisions."""
    from ..operators import text

    docs = load(spark, sf, "documents").filter(
        F.col("text").isNotNull()
    )
    return text.ngram_char_fractions(docs).orderBy("doc_id")


def _gopher_repetition_oracle() -> str:
    return """
        WITH b AS (
            SELECT doc_id,
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                       AS norm
            FROM documents WHERE text IS NOT NULL
        ),
        t AS (
            SELECT doc_id, norm, length(norm) AS chars,
                   string_split(norm, ' ') AS toks
            FROM b
        ),
        g2 AS (
            SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
            FROM t, UNNEST(CASE WHEN len(toks) >= 2
                                THEN range(1, len(toks))
                                ELSE [] END) AS u(i)
        ),
        c2 AS (
            SELECT doc_id, g, count(*) AS c
            FROM g2 GROUP BY doc_id, g
        ),
        top2 AS (
            SELECT doc_id, c * length(g) AS top_chars
            FROM (
                SELECT doc_id, g, c,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY c DESC, g ASC) AS rn
                FROM c2
            ) WHERE rn = 1
        ),
        g5 AS (
            SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS g
            FROM t, UNNEST(CASE WHEN len(toks) >= 5
                                THEN range(1, len(toks) - 3)
                                ELSE [] END) AS u(i)
        ),
        c5 AS (
            SELECT doc_id, g, count(*) AS c
            FROM g5 GROUP BY doc_id, g
        ),
        dup5 AS (
            SELECT doc_id, SUM(c * length(g)) AS dup_chars
            FROM c5 WHERE c > 1 GROUP BY doc_id
        ),
        frac AS (
            SELECT t.doc_id,
                   CAST(len(t.toks) AS INTEGER) AS n_tokens,
                   CASE WHEN t.chars > 0
                        THEN CAST(COALESCE(top2.top_chars, 0) AS DOUBLE)
                             / CAST(t.chars AS DOUBLE)
                        ELSE 0.0 END AS top_ngram_char_frac,
                   CASE WHEN t.chars > 0
                        THEN CAST(COALESCE(dup5.dup_chars, 0) AS DOUBLE)
                             / CAST(t.chars AS DOUBLE)
                        ELSE 0.0 END AS dup_ngram_char_frac
            FROM t
            LEFT JOIN top2 ON t.doc_id = top2.doc_id
            LEFT JOIN dup5 ON t.doc_id = dup5.doc_id
        )
        SELECT doc_id, n_tokens, top_ngram_char_frac, dup_ngram_char_frac,
               (top_ngram_char_frac <= 0.20 AND dup_ngram_char_frac <= 0.15)
                   AS keep
        FROM frac
        ORDER BY doc_id
    """


def q_winnow_index_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """The persisted winnow-pos-index LIFECYCLE through the value gate
    (the q_ann_opq_index pattern applied to the text index): BUILD the
    index over the even half of the 1-in-7 committed sample
    (winnow_pos_index_write — saved k/w/portable meta), ADD the odd half
    with the EXACTLY-ONCE batch form (winnow_index_add_batch, batch_id
    0 — prefix-renamed files + the add manifest), then probe the
    persisted two-generation layout with the trailing-token variants
    (winnow_index_spans, parameters loaded from the meta). The span
    evidence itself is VALUE-EXACT (the q_winnow_spans_incremental
    oracle — the index content is the same committed sample, however it
    got there), and three lifecycle booleans pin what pytest alone used
    to carry: ``add_committed`` (the manifest advanced),
    ``replay_skipped`` (re-applying batch 0 is a no-op), and
    ``saved_params_ok`` (the probe ran with the index's saved
    fingerprint parameters)."""
    from .. import index_store
    from ..operators import dedup
    from .oracle_lib import _ROBUST_K, _ROBUST_W, _SPAN_MAX_DF, _SPAN_THRESHOLD

    docs = (
        load(spark, sf, "documents")
        .filter((F.col("doc_id") % 7 == 0) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the")).alias("text"),
    )
    gen1 = docs.filter(F.col("doc_id") % 14 == 0)
    gen2 = docs.filter(F.col("doc_id") % 14 != 0)
    with _temp_index("widx_lifecycle_") as tmp:
        dedup.winnow_pos_index_write(
            gen1, tmp, k=_ROBUST_K, w=_ROBUST_W, portable=True
        )
        applied = dedup.winnow_index_add_batch(spark, tmp, gen2, 0)
        replay_skipped = not dedup.winnow_index_add_batch(spark, tmp, gen2, 0)
        spans = dedup.winnow_index_spans(
            spark, tmp, variants,
            threshold=_SPAN_THRESHOLD, max_fingerprint_df=_SPAN_MAX_DF,
        )
        meta = index_store.read_meta(spark, tmp)
        manifest = index_store.read_manifest(spark, tmp)
        add_committed = bool(applied) and manifest == {"batch_id": 0}
        saved_params_ok = (
            meta["k"], meta["w"], meta["portable"],
        ) == (_ROBUST_K, _ROBUST_W, True)
        return spans.select(
            "*",
            F.lit(bool(add_committed)).alias("add_committed"),
            F.lit(bool(replay_skipped)).alias("replay_skipped"),
            F.lit(bool(saved_params_ok)).alias("saved_params_ok"),
        ).localCheckpoint()  # before the temp layout is removed


def _winnow_index_lifecycle_oracle() -> str:
    # the q_winnow_spans_incremental value oracle (the persisted index
    # holds exactly the committed 1-in-7 sample) + the three pinned
    # lifecycle booleans
    from .oracle_lib import _winnow_spans_incremental_oracle

    return f"""
        SELECT s.*, TRUE AS add_committed, TRUE AS replay_skipped,
               TRUE AS saved_params_ok
        FROM ({_winnow_spans_incremental_oracle()}) s
    """


# shared across waves — moved verbatim to plans/oracle_lib (VERDICT r14 #7)
from .oracle_lib import _corpus_build_incremental_oracle


def q_corpus_build_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus build as INCREMENTAL INGESTION: a committed corpus
    (the 1-in-5 ``doc_id % 5 == 4`` slice) persists as a positioned
    winnow index, and the batch build runs with ``dedup_index`` pointed
    at it — after exact dedup, batch docs that near-dup ANY committed
    doc drop by probe inversion (committed side scan-only, never
    re-fingerprinted) BEFORE the in-batch winnow tier spends work on
    them. The batch input is the q_corpus_build_winnow corpus (documents
    ∪ trailing-token variants), so every committed doc's batch twin is
    an exact-text hit against the index (Jaccard 1.0) and the committed
    docs' variants hit it too — the tier does 1-in-5-scale real work at
    every SF. Full stage replay: gate -> exact dedup -> AGAINST-INDEX
    drop (capped candidates, value-exact verify) -> winnow pairs ->
    components -> drop non-roots -> quota -> shuffle -> pack."""
    from .oracle_lib import _commit_winnow_slice, _winnow_corpus_build

    with _temp_index("corpus_incr_idx_") as tmp:
        _commit_winnow_slice(load(spark, sf, "documents"), tmp)
        corpus = _winnow_corpus_build(spark, sf, dedup_index=tmp)
        return corpus.localCheckpoint()  # before the temp index is removed


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_ann_index_compact": q_ann_index_compact,
    "q_corpus_semantic_opq": q_corpus_semantic_opq,
    "q_gopher_repetition": q_gopher_repetition,
    "q_winnow_index_lifecycle": q_winnow_index_lifecycle,
    "q_corpus_build_incremental": q_corpus_build_incremental,
}

ORACLE_SQL: dict[str, str] = {
    "q_ann_index_compact": _ann_index_compact_oracle(),
    "q_corpus_semantic_opq": _corpus_semantic_opq_oracle(),
    "q_gopher_repetition": _gopher_repetition_oracle(),
    "q_winnow_index_lifecycle": _winnow_index_lifecycle_oracle(),
    "q_corpus_build_incremental": _corpus_build_incremental_oracle(),
}

ROWS_ONLY_QUERIES: set[str] = set()
