"""Corpus wave 14: the persisted-index TOMBSTONE-REMOVE lifecycle — the
faiss ``remove_ids`` analog (the takedown leg a production training-data
pipeline must honor), on both index families.

- ``q_ann_index_remove`` — build a plain-IVF index over the whole
  corpus, REMOVE the ``vec_id % 7 == 3`` slice
  (similarity.ann_index_remove: an O(removed) tombstone append every
  probe surface anti-joins immediately), probe, COMPACT (the physical
  delete — removed rows leave the disk, the tombstone set clears),
  probe again. The probe runs with nprobe covering every cell, so the
  probed top-5 IS the exact cosine top-5 over the surviving set — the
  output rows are the probe's own values, replayed exactly in SQL, not
  a separate witness. Audit booleans pin the lifecycle guarantees:
  ``remove_witnessed`` (every requested id was live — the takedown
  found its targets), ``removed_hidden`` (no tombstoned id in the
  probe), ``readd_refused`` (a tombstoned id cannot be re-added until
  the physical delete), ``compact_exact`` (probe bit-identical across
  the swap), ``physically_dropped`` (the compacted layout holds exactly
  corpus − removed rows).

- ``q_winnow_index_remove`` — the text-index twin: a committed corpus
  (the ``doc_id % 5 == 4`` slice) persists as a positioned winnow
  index; its trailing-token variants arrive as a batch and the
  against-index dedup suppresses each variant via its committed twin.
  REMOVING the ``doc_id % 10 == 9`` committed half
  (dedup.winnow_index_remove) must RELEASE exactly those docs'
  variants — a taken-down doc's content is no longer in the corpus, so
  it must not veto a re-crawl. The surviving batch ids replay
  value-exactly in SQL as the against-index decision over the REDUCED
  committed set (the q_corpus_build_incremental splice with the removed
  half subtracted); the same audit booleans pin the lifecycle.

Reference parity note: the reference's only persisted artifacts are
Cassandra tables and saved PipelineModels (app/ml_app.py:68-74); it
has no index-maintenance surface; these extend SURVEY §7.4's
training-data pipeline with the deletion-vector / merge-on-read delete
pattern (Iceberg/Delta semantics, faiss remove_ids) re-expressed
Spark-first without a table format.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..io import local_frame, local_rows_of
from .oracle_lib import (
    _centroid_frame,
    _commit_winnow_slice,
    _temp_index,
    _winnow_take_down,
)


_REMOVE_K = 5


def q_ann_index_remove(spark: SparkSession, sf: str) -> DataFrame:
    """Tombstone-remove lifecycle audit on the vector index (see module
    docstring). 100-TB shape: the remove is one O(removed) append + one
    semi-join count; every probe between remove and compact pays one
    AQE-broadcast anti-join against the (compaction-bounded) tombstone
    set; the compact is the same single cell-keyed shuffle the add-side
    maintenance already runs — removal rides it for free."""
    from ..operators import similarity
    from .corpus_ext import _query_vec_list

    emb = load(spark, sf, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    victims = data.filter(F.col("vec_id") % 7 == 3)
    qvec = _query_vec_list(emb)
    with _temp_index("remove_idx_") as tmp:
        centroids = _centroid_frame(spark, emb)
        similarity.ivf_index_write(data, centroids, tmp)
        n_cells = len(local_rows_of(centroids))  # already on the driver
        # one pass for both counts (the victim predicate is a subset of
        # the data scan — two separate count jobs read the table twice)
        counts = data.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("vec_id") % 7 == 3).cast("long")).alias("v"),
        ).collect()[0]
        n_victims = int(counts["v"] or 0)
        n_data = int(counts["n"])

        def probe():
            # nprobe covers every cell -> the probe is the exact cosine
            # top-k over the LIVE set (brute force per probed cell)
            return [
                (r.vec_id, r.cosine)
                for r in similarity.ivf_index_topk(
                    spark, tmp, qvec, k=_REMOVE_K, nprobe=n_cells
                ).collect()  # k-bounded
            ]

        rep = similarity.ann_index_remove(
            spark, tmp, victims.select("vec_id")
        )
        remove_witnessed = (
            rep["requested"] == n_victims
            and rep["matched_live"] == n_victims
        )
        pre = probe()
        removed_hidden = all(v % 7 != 3 for v, _ in pre)
        readd_refused = False
        try:
            similarity.ivf_index_add(spark, tmp, victims.limit(1))
        except ValueError as exc:
            readd_refused = "tombstoned" in str(exc)
        stats = similarity.ann_index_compact(spark, tmp)
        post = probe()
        compact_exact = post == pre
        # parquet count == footer-stats sum: read driver-side (round 16)
        from ..io import model_row_count

        physically_dropped = (
            stats["removed_rows"] == n_victims
            and model_row_count(spark, f"{tmp}/vectors.parquet")
            == n_data - n_victims
        )
        out = local_frame(
            spark, [(v, c) for v, c in post], "vec_id long, cosine double"
        )
        return out.select(
            "vec_id", "cosine",
            F.lit(bool(remove_witnessed)).alias("remove_witnessed"),
            F.lit(bool(removed_hidden)).alias("removed_hidden"),
            F.lit(bool(readd_refused)).alias("readd_refused"),
            F.lit(bool(compact_exact)).alias("compact_exact"),
            F.lit(bool(physically_dropped)).alias("physically_dropped"),
        ).orderBy(F.desc("cosine"), F.asc("vec_id"))


def _ann_index_remove_oracle() -> str:
    # the probe with nprobe = all cells is exact: its rows ARE the
    # cosine top-5 over the surviving (non-removed) corpus — replayed
    # here directly, plus the five pinned lifecycle booleans
    from .corpus_ext import _cosine_sql

    return f"""
        WITH q AS (
            SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0
        )
        SELECT e.vec_id,
               {_cosine_sql('e.embedding', 'q.q_emb')} AS cosine,
               TRUE AS remove_witnessed, TRUE AS removed_hidden,
               TRUE AS readd_refused, TRUE AS compact_exact,
               TRUE AS physically_dropped
        FROM embeddings e, q
        WHERE e.vec_id <> 0 AND e.vec_id % 7 <> 3
        ORDER BY cosine DESC, e.vec_id ASC
        LIMIT {_REMOVE_K}
    """


def q_winnow_index_remove(spark: SparkSession, sf: str) -> DataFrame:
    """Tombstone-remove lifecycle audit on the text index (see module
    docstring): removal must release the removed docs' near-dup
    suppression — the surviving batch ids are the value-exact
    against-index decision over the REDUCED committed set."""
    from ..operators import dedup
    from .oracle_lib import _WINNOW_BUILD_MAX_DF, _WINNOW_BUILD_THRESHOLD

    with _temp_index("widx_remove_") as tmp:
        committed = _commit_winnow_slice(load(spark, sf, "documents"), tmp)
        removed = committed.filter(F.col("doc_id") % 10 == 9)
        batch = committed.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" the")).alias("text"),
        )
        rep, docs_after, remove_witnessed = _winnow_take_down(
            spark, tmp, removed
        )
        # each decision re-fingerprints the batch inside the pipeline;
        # measured FASTER at sf0.1 than hoisting one eager/lazy
        # batch-fps checkpoint across both (32.4 s vs 41.3/36.5 s —
        # the hash fuses into the candidate-join stage, the checkpoint
        # pays a blocking materialization)
        def decide():
            return dedup.winnow_index_dedup(
                spark, tmp, batch,
                threshold=_WINNOW_BUILD_THRESHOLD,
                max_fingerprint_df=_WINNOW_BUILD_MAX_DF,
            ).select("doc_id")

        pre = decide().localCheckpoint()
        readd_refused = False
        try:
            dedup.winnow_pos_index_add(spark, tmp, removed.limit(1))
        except ValueError as exc:
            readd_refused = "tombstoned" in str(exc)
        stats = dedup.winnow_index_compact(spark, tmp)
        from ..io import model_row_count

        physically_dropped = (
            stats["removed_rows"] == rep["matched_live"]
            and model_row_count(spark, f"{tmp}/fps.parquet")
            == docs_after
        )
        post = {r.doc_id for r in decide().collect()}
        compact_exact = {r.doc_id for r in pre.collect()} == post
        return pre.select(
            "doc_id",
            F.lit(bool(remove_witnessed)).alias("remove_witnessed"),
            F.lit(bool(readd_refused)).alias("readd_refused"),
            F.lit(bool(compact_exact)).alias("compact_exact"),
            F.lit(bool(physically_dropped)).alias("physically_dropped"),
        ).orderBy(F.asc("doc_id"))


def _winnow_index_remove_oracle() -> str:
    # the against-index decision (q_corpus_build_incremental's splice)
    # over the REDUCED committed set: candidates share >= 1 fingerprint
    # under the combined document-frequency cap, the verify
    # re-intersects the FULL sets (value-exact), survivors are batch
    # docs with no verified hit — plus the pinned lifecycle booleans
    from .oracle_lib import _against_index_ctes

    return f"""
        WITH committed AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id % 5 = 4 AND text IS NOT NULL
        ),
        reduced AS (
            SELECT doc_id, text FROM committed WHERE doc_id % 10 <> 9
        ),
        batch AS (
            SELECT doc_id + 1000000 AS doc_id, text || ' the' AS text
            FROM committed
        ),
        {_against_index_ctes("reduced", "batch", "idx_hits")}
        SELECT b.doc_id,
               TRUE AS remove_witnessed, TRUE AS readd_refused,
               TRUE AS compact_exact, TRUE AS physically_dropped
        FROM batch b
        WHERE b.doc_id NOT IN (SELECT doc_id FROM idx_hits)
        ORDER BY b.doc_id ASC
    """


def q_corpus_build_takedown(spark: SparkSession, sf: str) -> DataFrame:
    """The takedown CAPSTONE: removals flow through the WHOLE pipeline,
    not just the index probe. Same composition as
    q_corpus_build_incremental (committed 1-in-5 corpus persisted as a
    winnow-pos index; the batch build runs with ``dedup_index`` pointed
    at it), but BETWEEN the commit and the batch build the
    ``doc_id % 10 == 9`` committed half is TAKEN DOWN
    (winnow_index_remove). The against-index tier must stop dropping
    those docs' batch twins — a removed doc's content is no longer in
    the corpus, so its re-crawl lands in the output, flows through the
    in-batch near tier, the quota, the shuffle and the packing, and
    every downstream (position, seq_id, seq_offset) shifts accordingly.
    Full stage replay: the q_corpus_build_incremental oracle chain with
    the committed slice REDUCED — one predicate swap proves the whole
    downstream recomputation. ``takedown_witnessed`` pins that the
    remove's exact witness matched the live-index delta."""
    from .oracle_lib import _winnow_corpus_build

    with _temp_index("corpus_takedown_idx_") as tmp:
        committed = _commit_winnow_slice(load(spark, sf, "documents"), tmp)
        _, _, takedown_witnessed = _winnow_take_down(
            spark, tmp, committed.filter(F.col("doc_id") % 10 == 9)
        )
        return (
            _winnow_corpus_build(spark, sf, dedup_index=tmp)
            .withColumn(
                "takedown_witnessed", F.lit(bool(takedown_witnessed))
            )
            .localCheckpoint()  # before the temp index is removed
        )


def _corpus_build_takedown_oracle() -> str:
    # the q_corpus_build_incremental stage-replay chain with the
    # committed slice REDUCED by the takedown predicate — the removed
    # docs' batch twins re-enter and every downstream stage recomputes
    from .oracle_lib import _corpus_build_incremental_oracle

    inner = _corpus_build_incremental_oracle(
        committed_pred="doc_id % 5 = 4 AND doc_id % 10 <> 9"
    )
    return f"""
        SELECT o.*, TRUE AS takedown_witnessed
        FROM ({inner}) o
    """


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_ann_index_remove": q_ann_index_remove,
    "q_winnow_index_remove": q_winnow_index_remove,
    "q_corpus_build_takedown": q_corpus_build_takedown,
}

ORACLE_SQL: dict[str, str] = {
    "q_ann_index_remove": _ann_index_remove_oracle(),
    "q_winnow_index_remove": _winnow_index_remove_oracle(),
    "q_corpus_build_takedown": _corpus_build_takedown_oracle(),
}

ROWS_ONLY_QUERIES: set[str] = set()
