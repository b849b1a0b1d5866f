"""Corpus wave 15: the persisted-index REBUILD lifecycle — the faiss
retrain-and-rebuild analog (distribution drift outgrows an adds-only
index; the rebuild must leave NO stale maintenance state behind), on
both index families.

- ``q_ann_index_rebuild`` — build plain-IVF over the corpus, advance
  the STREAMING add-manifest with a committed batch (batch_id=3),
  tombstone the ``vec_id % 7 == 3`` slice, then REBUILD over the same
  directory. The rebuild must clear BOTH stale components: pending
  tombstones (a removed id would silently hide its rebuilt vector) and
  the add manifest (a fresh stream over the rebuilt index restarts
  batch_id at 0 and the exactly-once replay guard would silently
  discard its early batches — this round's fix). A fresh stream's
  batch 0 then ADDS the query's own vector; the closing all-cells probe
  is the exact cosine top-5 over the FULL corpus (removed slice back,
  batch-0 vector present — its self-match tops the list), replayed
  value-exactly in SQL. Audit booleans pin the lifecycle:
  ``stale_tombstones_cleared``, ``stale_manifest_cleared``,
  ``fresh_stream_applied``, ``rebuilt_live_exact``.

- ``q_winnow_index_rebuild`` — the text-index twin: commit the
  ``doc_id % 5 == 4`` slice, advance the manifest (batch_id=3),
  tombstone the ``% 10 == 9`` half, REBUILD, then a fresh stream's
  batch 0 adds the ``% 5 == 0`` slice. The against-index decision over
  trailing-token variants of (committed ∪ ``% 5 == 1``) docs then
  replays value-exactly over committed ∪ added — every committed OR
  batch-0-added doc suppresses its variant (proving batch 0 landed:
  a pre-fix replay-skip would leak the added docs' variants), the
  never-committed ``% 5 == 1`` variants survive.

- ``q_ann_index_drift`` — the WHEN of the rebuild lifecycle: IVF adds
  never move centroids, so the operator needs a measurable signal that
  the data has outgrown the trained cells. ``ann_index_drift`` assigns
  an ingest sample into the index's saved cell space and PSIs its
  occupancy against the LIVE per-cell histogram (tombstone-aware).
  Two scenarios in one audit: a same-distribution sample (PSI under
  the 0.25 rebuild threshold) and a single-label re-crawl (occupancy
  concentrates in that label's cell — PSI far over it); both PSI
  doubles fold over cell-sorted terms and quantize to the 12-decimal
  grid so the whole gate — assignment, histograms, fold, threshold
  boolean — replays in SQL.

Reference parity note: the reference's only persisted artifacts are
Cassandra tables and saved PipelineModels (app/ml_app.py:68-74); it
has no index-maintenance surface; these extend SURVEY §7.4's
training-data pipeline with the rebuild leg of the faiss/Iceberg
index-lifecycle semantics re-expressed Spark-first.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..io import local_frame, local_rows_of
from .oracle_lib import _centroid_frame, _commit_winnow_slice, _temp_index


_REBUILD_K = 5


def q_ann_index_rebuild(spark: SparkSession, sf: str) -> DataFrame:
    """Rebuild lifecycle audit on the vector index (see module
    docstring). 100-TB shape: the rebuild is the build's own one-pass
    assign + partitioned write (model state collected once, bounded);
    clearing the stale components is two O(1) file deletes — rebuild
    cost is the build cost, never a function of accumulated maintenance
    history."""
    from .. import index_store
    from ..operators import similarity
    from .corpus_ext import _query_vec_list

    emb = load(spark, sf, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    fresh0 = emb.filter(F.col("vec_id") == 0)
    victims = data.filter(F.col("vec_id") % 7 == 3)
    qvec = _query_vec_list(emb)
    with _temp_index("rebuild_idx_") as tmp:
        centroids = _centroid_frame(spark, emb)
        n_cells = len(local_rows_of(centroids))  # already on the driver
        n_data = data.count()
        # the pre-rebuild history: build, a committed streaming add
        # (manifest advances to 3), a takedown left pending
        similarity.ivf_index_write(data, centroids, tmp)
        similarity.ann_index_add_batch(spark, tmp, fresh0, 3)
        similarity.ann_index_remove(spark, tmp, victims.select("vec_id"))

        # REBUILD over the same directory — stale tombstones AND the
        # stale add manifest must both go
        similarity.ivf_index_write(data, centroids, tmp)
        stats = similarity.ann_index_stats(spark, tmp)
        stale_tombstones_cleared = (
            stats["tombstones"] == 0 and stats["vectors"] == n_data
        )
        stale_manifest_cleared = index_store.read_manifest(spark, tmp) is None
        # a fresh stream over the rebuilt index restarts at batch 0 —
        # it must APPLY, not replay-skip against the dead stream's
        # manifest (this round's fix)
        fresh_stream_applied = bool(
            similarity.ann_index_add_batch(spark, tmp, fresh0, 0)
        )
        rebuilt_live_exact = (
            similarity.ann_index_stats(spark, tmp)["vectors"] == n_data + 1
        )
        # nprobe covers every cell -> the probe is the exact cosine
        # top-k over the live set: the full corpus (removed slice back,
        # batch-0 vector present — its self-match tops the list)
        probe = similarity.ivf_index_topk(
            spark, tmp, qvec, k=_REBUILD_K, nprobe=n_cells
        )
        out = local_frame(
            spark,
            [(r.vec_id, r.cosine) for r in probe.collect()],  # k-bounded
            "vec_id long, cosine double",
        )
        return out.select(
            "vec_id", "cosine",
            F.lit(bool(stale_tombstones_cleared)).alias(
                "stale_tombstones_cleared"
            ),
            F.lit(bool(stale_manifest_cleared)).alias(
                "stale_manifest_cleared"
            ),
            F.lit(bool(fresh_stream_applied)).alias("fresh_stream_applied"),
            F.lit(bool(rebuilt_live_exact)).alias("rebuilt_live_exact"),
        ).orderBy(F.desc("cosine"), F.asc("vec_id"))


def _ann_index_rebuild_oracle() -> str:
    # the closing probe with nprobe = all cells is exact: its rows ARE
    # the cosine top-5 over the FULL corpus (rebuild restored the
    # removed slice; the fresh stream's batch 0 added vec_id 0, whose
    # self-match tops the list) — plus the pinned lifecycle booleans
    from .corpus_ext import _cosine_sql

    return f"""
        WITH q AS (
            SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0
        )
        SELECT e.vec_id,
               {_cosine_sql('e.embedding', 'q.q_emb')} AS cosine,
               TRUE AS stale_tombstones_cleared,
               TRUE AS stale_manifest_cleared,
               TRUE AS fresh_stream_applied,
               TRUE AS rebuilt_live_exact
        FROM embeddings e, q
        ORDER BY cosine DESC, e.vec_id ASC
        LIMIT {_REBUILD_K}
    """


def q_winnow_index_rebuild(spark: SparkSession, sf: str) -> DataFrame:
    """Rebuild lifecycle audit on the text index (see module docstring):
    after the rebuild, a fresh stream's batch 0 must APPLY (not
    replay-skip against the dead stream's manifest), and the
    against-index decision must see exactly committed ∪ batch-0 docs —
    no stale suppression, no lost adds."""
    from .. import index_store
    from ..operators import dedup
    from .oracle_lib import _WINNOW_BUILD_MAX_DF, _WINNOW_BUILD_THRESHOLD

    docs = load(spark, sf, "documents").filter(F.col("text").isNotNull())
    added = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    batch = (
        docs.filter(
            (F.col("doc_id") % 5 == 4) | (F.col("doc_id") % 5 == 1)
        )
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" the")).alias("text"),
        )
    )
    with _temp_index("widx_rebuild_") as tmp:
        # pre-rebuild history: build, a committed streaming add
        # (manifest -> 3), a takedown left pending
        committed = _commit_winnow_slice(docs, tmp)
        dedup.winnow_index_add_batch(spark, tmp, added, 3)
        dedup.winnow_index_remove(
            spark, tmp,
            committed.filter(F.col("doc_id") % 10 == 9).select("doc_id"),
        )

        # REBUILD over the same directory
        _commit_winnow_slice(docs, tmp)
        stats0 = dedup.winnow_index_stats(spark, tmp)
        docs_committed = stats0["docs"]
        stale_tombstones_cleared = stats0["tombstones"] == 0
        stale_manifest_cleared = (
            index_store.read_manifest(spark, tmp) is None
        )
        fresh_stream_applied = bool(
            dedup.winnow_index_add_batch(spark, tmp, added, 0)
        )
        # the fresh batch landed: live docs = committed + added
        rebuilt_live_exact = (
            dedup.winnow_index_stats(spark, tmp)["docs"] > docs_committed
        )
        survivors = dedup.winnow_index_dedup(
            spark, tmp, batch,
            threshold=_WINNOW_BUILD_THRESHOLD,
            max_fingerprint_df=_WINNOW_BUILD_MAX_DF,
        ).select("doc_id")
        return (
            survivors.select(
                "doc_id",
                F.lit(bool(stale_tombstones_cleared)).alias(
                    "stale_tombstones_cleared"
                ),
                F.lit(bool(stale_manifest_cleared)).alias(
                    "stale_manifest_cleared"
                ),
                F.lit(bool(fresh_stream_applied)).alias(
                    "fresh_stream_applied"
                ),
                F.lit(bool(rebuilt_live_exact)).alias("rebuilt_live_exact"),
            )
            .orderBy(F.asc("doc_id"))
            .localCheckpoint()  # before the temp index is removed
        )


def _winnow_index_rebuild_oracle() -> str:
    # the against-index decision over committed ∪ batch-0-added docs
    # (the q_winnow_index_remove splice with the committed side GROWN
    # by the fresh stream's batch instead of reduced by a takedown):
    # candidates share >= 1 fingerprint under the combined
    # document-frequency cap, the verify re-intersects the FULL sets,
    # survivors are batch docs with no verified hit
    from .oracle_lib import _against_index_ctes

    return f"""
        WITH live AS (
            SELECT doc_id, text FROM documents
            WHERE (doc_id % 5 = 4 OR doc_id % 5 = 0)
              AND text IS NOT NULL
        ),
        batch AS (
            SELECT doc_id + 1000000 AS doc_id, text || ' the' AS text
            FROM documents
            WHERE (doc_id % 5 = 4 OR doc_id % 5 = 1)
              AND text IS NOT NULL
        ),
        {_against_index_ctes("live", "batch", "hits")}
        SELECT b.doc_id,
               TRUE AS stale_tombstones_cleared,
               TRUE AS stale_manifest_cleared,
               TRUE AS fresh_stream_applied,
               TRUE AS rebuilt_live_exact
        FROM batch b
        WHERE b.doc_id NOT IN (SELECT doc_id FROM hits)
        ORDER BY b.doc_id ASC
    """


_DRIFT_THRESHOLD = 0.25


def q_ann_index_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Drift gate audit (see module docstring): build the index, leave a
    takedown pending (drift must measure the LIVE set probes see), then
    gate two ingest samples — one from the index's own distribution,
    one with every component negated (the coarse-space flip). 100-TB
    shape per ann_index_drift's docstring: two bounded ≤cells
    aggregates + a cell-sorted fold, no driver state beyond the model
    load."""
    from ..operators import similarity

    emb = load(spark, sf, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    with _temp_index("drift_idx_") as tmp:
        similarity.ivf_index_write(data, _centroid_frame(spark, emb), tmp)
        similarity.ann_index_remove(
            spark, tmp, data.filter(F.col("vec_id") % 7 == 3).select("vec_id")
        )
        stable = emb.filter(F.col("vec_id") % 3 == 2).select(
            "vec_id", "embedding"
        )
        # the skewed re-crawl: every new vector from ONE label's cluster
        # — occupancy concentrates in that label's cell and the gate
        # must trip
        drifted = emb.filter(
            (F.col("label") == 0) & (F.col("vec_id") != 0)
        ).select("vec_id", "embedding")
        out = (
            similarity.ann_index_drift(
                spark, tmp, stable, psi_threshold=_DRIFT_THRESHOLD
            )
            .select(F.lit("stable").alias("scenario"), "*")
            .unionByName(
                similarity.ann_index_drift(
                    spark, tmp, drifted, psi_threshold=_DRIFT_THRESHOLD
                ).select(F.lit("drifted").alias("scenario"), "*")
            )
            .orderBy("scenario")
        )
        return out.localCheckpoint()  # before the temp index is removed


def _ann_index_drift_oracle() -> str:
    # full replay: label-mean centroids, rank-window cell assignment of
    # (a) the live set (build minus the pending takedown slice) and
    # (b) each sample, per-cell histograms over the centroid spine, and
    # the cell-sorted PSI fold with its threshold boolean — no pinning
    from .corpus_ext import _cosine_sql

    def assign(src: str, name: str) -> str:
        return f"""{name} AS (
            SELECT cell, count(*) AS n FROM (
                SELECT vec_id, cell FROM (
                    SELECT s.vec_id, c.cell,
                           row_number() OVER (
                               PARTITION BY s.vec_id
                               ORDER BY {_cosine_sql('s.embedding',
                                                     'c.centroid')} DESC,
                                        c.cell ASC
                           ) AS rn
                    FROM {src} s, cent c
                ) WHERE rn = 1
            ) GROUP BY cell
        )"""

    def psi_row(label: str, qsrc: str, qraw: str) -> str:
        # every assigned row lands in exactly one cell, so the share
        # denominators are plain row counts of the assignment inputs
        return f"""
            SELECT scenario, n_cells, n_skipped, psi,
                   psi >= {_DRIFT_THRESHOLD} AS rebuild_recommended
            FROM (
            SELECT '{label}' AS scenario,
                   CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(SUM(CASE WHEN term IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_skipped,
                   -- ln is only within-1-ulp across engines; the
                   -- operator quantizes PSI to the 12-decimal grid
                   CAST(round(
                       CASE WHEN COUNT(term) = 0 THEN 0.0
                            ELSE list_reduce(list(term ORDER BY cell)
                                     FILTER (WHERE term IS NOT NULL),
                                     (acc, v) -> acc + v)
                       END, 12) AS DOUBLE) AS psi
            FROM (
                SELECT c.cell,
                       CASE WHEN COALESCE(b.n, 0) > 0
                             AND COALESCE(q.n, 0) > 0 THEN
                           (CAST(q.n AS DOUBLE)
                            / CAST((SELECT count(*) FROM {qraw}) AS DOUBLE)
                            - CAST(b.n AS DOUBLE)
                            / CAST((SELECT count(*) FROM live) AS DOUBLE))
                           * ln((CAST(q.n AS DOUBLE)
                                 / CAST((SELECT count(*) FROM {qraw})
                                        AS DOUBLE))
                                / (CAST(b.n AS DOUBLE)
                                   / CAST((SELECT count(*) FROM live)
                                          AS DOUBLE)))
                       END AS term
                FROM cent c
                LEFT JOIN basecells b ON b.cell = c.cell
                LEFT JOIN {qsrc} q ON q.cell = c.cell
            ) )"""

    return f"""
        WITH px AS (
            SELECT label, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings
        ),
        means AS (
            SELECT label, pos,
                   CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(27,7)))
                             AS VARCHAR) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS m
            FROM px GROUP BY label, pos
        ),
        cent AS (
            SELECT CAST(label AS INTEGER) AS cell,
                   list(m ORDER BY pos) AS centroid
            FROM means GROUP BY label
        ),
        live AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id <> 0 AND vec_id % 7 <> 3
        ),
        stab AS (
            SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 2
        ),
        drif AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE label = 0 AND vec_id <> 0
        ),
        {assign('live', 'basecells')},
        {assign('stab', 'stabcells')},
        {assign('drif', 'drifcells')}
        {psi_row('drifted', 'drifcells', 'drif')}
        UNION ALL
        {psi_row('stable', 'stabcells', 'stab')}
        ORDER BY scenario
    """


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_ann_index_rebuild": q_ann_index_rebuild,
    "q_winnow_index_rebuild": q_winnow_index_rebuild,
    "q_ann_index_drift": q_ann_index_drift,
}

ORACLE_SQL: dict[str, str] = {
    "q_ann_index_rebuild": _ann_index_rebuild_oracle(),
    "q_winnow_index_rebuild": _winnow_index_rebuild_oracle(),
    "q_ann_index_drift": _ann_index_drift_oracle(),
}

ROWS_ONLY_QUERIES: set[str] = set()
