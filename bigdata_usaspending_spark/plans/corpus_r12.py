"""Corpus wave 12: robust winnowing and the winnow-tier corpus build.

- ``q_winnow_robust`` — ROBUST winnowing (Schleimer/Wilkerson/Aiken,
  SIGMOD 2003 §5) as positioned fingerprints: each w-window selects its
  minimum k-gram hash, ties broken by KEEPING the previous window's
  selection while it is still a minimum, else the RIGHTMOST minimal
  position. Values equal plain winnowing's distinct minima; the
  positional selection is what collapses repetitive text (a run of equal
  hashes selects ~1 fingerprint per w grams instead of one per window —
  the boilerplate-churn reduction) and enables MOSS-style match
  localization. The oracle replays the tie-break exactly with a
  recursive CTE folding over window indices.

- ``q_corpus_build_winnow`` — the composed corpus-build pipeline with
  the ROLLING-HASH near-dup tier (cfg.near_method="winnow", VERDICT r11
  #3): gate -> exact dedup -> winnowing-fingerprint pairs (stop-gram
  capped) -> connected components -> drop non-roots -> quota -> shuffle
  -> pack. The tier real crawls prefer when shingle-Jaccard minhash is
  too slow: deterministic recall (any shared substring >= w+k-1 chars
  shares a fingerprint), candidate volume the winnowed ~2/(w+1) density.
  Full stage-replay CTE oracle — the q_corpus_build_near chain with the
  winnow pair stages spliced in where the minhash CTEs were.

Reference parity note: the reference's only persisted artifacts are
Cassandra tables and saved PipelineModels (app/ml_app.py:68-74); it
has no dedup/corpus surface; these extend SURVEY §7.4's training-data
pipeline plan with the public MOSS construction.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..io import local_frame


# shared across waves — moved verbatim to plans/oracle_lib (VERDICT r14 #7)
from .oracle_lib import (
    _ROBUST_K,
    _ROBUST_W,
    _SPAN_MAX_DF,
    _SPAN_THRESHOLD,
    _WINNOW_BUILD_MAX_DF,
    _WINNOW_BUILD_THRESHOLD,
    _centroid_frame,
    _robust_fps_ctes,
    _temp_index,
    _winnow_pairs_ctes,
    _winnow_spans_incremental_oracle,
)


def q_winnow_robust(spark: SparkSession, sf: str) -> DataFrame:
    """Robust-winnowing positioned fingerprints over a deterministic
    1-in-7 document sample: one row per selected (doc_id, pos, fp) —
    the full tie-break trace, value-checked position by position against
    the oracle's recursive-CTE replay. The sample keeps the exploded
    output bounded while every selection that IS emitted is exact.

    The sampled scan arrives as ONE small-file partition, which would
    serialize the per-window fold (interpreted HOF, the CPU-heavy stage)
    on a single core — _ensure_parallelism spreads it, the
    dedup-family contract (11.6 -> ~1 s at sf0.1, measured round 12)."""
    from ..operators.dedup import _ensure_parallelism
    from ..operators.text import winnow_fingerprints

    docs = _ensure_parallelism(
        load(spark, sf, "documents")
        .filter((F.col("doc_id") % 7 == 0) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    # explode IN the same select as the fold: staging the array through
    # an intermediate Project made the plan ~17x slower at sf0.1 (7.2 vs
    # 0.4 s warm, measured round 12 — the staged Generate evaluates the
    # fold expression far less efficiently than the collapsed form)
    return docs.select(
        "doc_id",
        F.explode(
            winnow_fingerprints(
                "text", k=_ROBUST_K, w=_ROBUST_W, portable=True, robust=True
            )
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.pos").alias("pos"),
        F.col("s.fp").alias("fp"),
    )


def _winnow_robust_oracle() -> str:
    return f"""
        WITH RECURSIVE sample AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
        ),
        {_robust_fps_ctes(src="sample")}
        SELECT doc_id, pos, fp FROM rfp
    """


def q_corpus_build_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-build composition with the rolling-hash near-dup tier
    (near_method="winnow", VERDICT r11 #3): gate -> exact dedup ->
    winnowing-fingerprint pairs (k=8, w=4, capped-Jaccard >= 0.5,
    stop-gram cap 50) -> connected components -> drop non-roots -> quota
    -> shuffle -> pack. Same parameters and synthesized near-dup input as
    q_corpus_build_near, so the two tiers are directly comparable: the
    trailing-token variants share all but a tail's worth of selected
    fingerprints with their sources and must be merged and dropped.

    100-TB shape vs the minhash tier: the candidate shuffle is the
    winnowed density (~2/(w+1) of the k-grams) instead of docs x bands
    signature rows, recall is DETERMINISTIC (any shared substring >=
    w+k-1 chars shares a fingerprint — no banding probability), and the
    stop-gram cap bounds candidates <= cap x exploded rows on
    boilerplate-heavy crawls."""
    from .oracle_lib import _winnow_corpus_build

    return _winnow_corpus_build(spark, sf)


def _corpus_build_winnow_oracle() -> str:
    # the q_corpus_build_near stage replay with the winnow pair chain
    # spliced in where the minhash CTEs were: gate, exact dedup, winnow
    # pairs over the survivors, recursive min-label components, drop
    # non-roots, quota, seeded shuffle, pack
    from .oracle_lib import (
        _components_ctes, _gate_dedup_ctes, _near_input_cte, _pack_ctes,
    )

    return f"""
        WITH RECURSIVE {_near_input_cte()},
        {_gate_dedup_ctes()},
        {_winnow_pairs_ctes(_ROBUST_K, _ROBUST_W, _WINNOW_BUILD_THRESHOLD,
                            _WINNOW_BUILD_MAX_DF, src="uniq")},
        {_components_ctes("win_pairs", "uniq")},
        {_pack_ctes("kept")}
    """


def q_winnow_match_spans(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS-style match-span localization (dedup.winnow_match_spans) over
    the 1-in-7 document sample plus synthesized trailing-token variants:
    for every verified near-dup pair, WHERE the shared content sits —
    per-pair distinct-shared-fingerprint Jaccard, anchor counts, and the
    covering character spans in each doc's normalized text. The payoff of
    robust winnowing's positioned selection (q_winnow_robust): the same
    anchors a plagiarism/overlap report needs, fully value-checked
    against the recursive-CTE tie-break replay + SQL anchor joins."""
    from ..operators import dedup

    docs = (
        load(spark, sf, "documents")
        .filter((F.col("doc_id") % 7 == 0) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the")).alias("text"),
    )
    return dedup.winnow_match_spans(
        docs.unionByName(variants), "doc_id",
        k=_ROBUST_K, w=_ROBUST_W, threshold=_SPAN_THRESHOLD,
        portable=True, max_fingerprint_df=_SPAN_MAX_DF,
    )


def _winnow_match_spans_oracle() -> str:
    # the robust positioned-fps chain over sample ∪ variants, then the
    # span replay: doc-df stop-gram cap, anchor join on fingerprint
    # VALUES, per-pair aggregate (distinct shared values for Jaccard,
    # raw anchor count, min/max positions + k - 1 for the covering
    # spans), threshold filter
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
        nf AS (
            SELECT doc_id, count(DISTINCT fp) AS nf FROM rfp GROUP BY doc_id
        ),
        heavy AS (
            SELECT fp FROM (
                SELECT fp, count(*) AS dfc
                FROM (SELECT DISTINCT doc_id, fp FROM rfp) GROUP BY fp
            ) WHERE dfc > {_SPAN_MAX_DF}
        ),
        e AS (SELECT * FROM rfp WHERE fp NOT IN (SELECT fp FROM heavy)),
        anc AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fp,
                   a.pos AS pos_a, b.pos AS pos_b
            FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        ),
        agg AS (
            SELECT id_a, id_b,
                   count(DISTINCT fp) AS n_shared,
                   CAST(count(*) AS BIGINT) AS n_anchors,
                   min(pos_a) AS a_start,
                   max(pos_a) + {k - 1} AS a_end,
                   min(pos_b) AS b_start,
                   max(pos_b) + {k - 1} AS b_end
            FROM anc GROUP BY id_a, id_b
        )
        SELECT id_a, id_b, jaccard, n_shared, n_anchors,
               a_start, a_end, b_start, b_end
        FROM (
            SELECT g.id_a, g.id_b,
                   CAST(g.n_shared AS DOUBLE)
                   / CAST(na.nf + nb.nf - g.n_shared AS DOUBLE) AS jaccard,
                   g.n_shared, g.n_anchors,
                   g.a_start, g.a_end, g.b_start, g.b_end
            FROM agg g
            JOIN nf na ON g.id_a = na.doc_id
            JOIN nf nb ON g.id_b = nb.doc_id
        ) WHERE jaccard >= {_SPAN_THRESHOLD}
    """


def q_winnow_span_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document span scrubbing (dedup.winnow_span_scrub) over the
    match-spans fixture (1-in-7 sample + trailing-token variants): every
    variant loses the covering span it shares with its lower-id source
    but KEEPS its distinct tail — the passage-level alternative to
    dropping the whole near-dup. Full value oracle: the span chain
    replayed (the q_winnow_match_spans CTEs) then a per-position
    anti-join rebuilds each scrubbed string character by character."""
    from ..operators import dedup

    docs = (
        load(spark, sf, "documents")
        .filter((F.col("doc_id") % 7 == 0) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the")).alias("text"),
    )
    return dedup.winnow_span_scrub(
        docs.unionByName(variants), "doc_id",
        k=_ROBUST_K, w=_ROBUST_W, threshold=_SPAN_THRESHOLD,
        portable=True, max_fingerprint_df=_SPAN_MAX_DF,
    )


def _winnow_span_scrub_oracle() -> str:
    # the q_winnow_match_spans chain (robust fps -> anchors -> verified
    # spans), then the scrub replay: per-position coverage anti-join,
    # string_agg in position order, losers keyed by id_b
    from .corpus_ext import _NORMALIZED

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
        nf AS (
            SELECT doc_id, count(DISTINCT fp) AS nf FROM rfp GROUP BY doc_id
        ),
        heavy AS (
            SELECT fp FROM (
                SELECT fp, count(*) AS dfc
                FROM (SELECT DISTINCT doc_id, fp FROM rfp) GROUP BY fp
            ) WHERE dfc > {_SPAN_MAX_DF}
        ),
        e AS (SELECT * FROM rfp WHERE fp NOT IN (SELECT fp FROM heavy)),
        anc AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fp,
                   a.pos AS pos_a, b.pos AS pos_b
            FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        ),
        agg AS (
            SELECT id_a, id_b,
                   count(DISTINCT fp) AS n_shared,
                   min(pos_b) AS b_start,
                   max(pos_b) + {k - 1} AS b_end
            FROM anc GROUP BY id_a, id_b
        ),
        vs AS (
            SELECT g.id_b, g.b_start, g.b_end
            FROM agg g
            JOIN nf na ON g.id_a = na.doc_id
            JOIN nf nb ON g.id_b = nb.doc_id
            WHERE CAST(g.n_shared AS DOUBLE)
                  / CAST(na.nf + nb.nf - g.n_shared AS DOUBLE)
                  >= {_SPAN_THRESHOLD}
        ),
        nrm AS (
            SELECT doc_id, {_NORMALIZED} AS s FROM sample
        ),
        chars AS (
            SELECT doc_id, CAST(p AS INTEGER) AS pos, substr(s, p, 1) AS ch
            FROM (SELECT doc_id, s, unnest(range(1, length(s) + 1)) AS p
                  FROM nrm)
        ),
        covered AS (
            SELECT DISTINCT c.doc_id, c.pos
            FROM chars c JOIN vs d
              ON c.doc_id = d.id_b
             AND c.pos BETWEEN d.b_start AND d.b_end
        ),
        kept AS (
            SELECT c.doc_id, string_agg(c.ch, '' ORDER BY c.pos) AS scrubbed
            FROM chars c
            LEFT JOIN covered v ON c.doc_id = v.doc_id AND c.pos = v.pos
            WHERE v.pos IS NULL
            GROUP BY c.doc_id
        ),
        ncut AS (
            SELECT doc_id, count(*) AS n_cut FROM covered GROUP BY doc_id
        ),
        nsp AS (
            SELECT id_b AS doc_id, count(*) AS n_spans FROM vs GROUP BY id_b
        )
        SELECT n.doc_id,
               coalesce(k2.scrubbed, '') AS scrubbed,
               CAST(coalesce(c.n_cut, 0) AS INTEGER) AS n_cut,
               CAST(coalesce(p.n_spans, 0) AS INTEGER) AS n_spans
        FROM nrm n
        LEFT JOIN kept k2 ON n.doc_id = k2.doc_id
        LEFT JOIN ncut c ON n.doc_id = c.doc_id
        LEFT JOIN nsp p ON n.doc_id = p.doc_id
    """


def q_winnow_spans_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental match-span localization (dedup.winnow_spans_against_
    index): the trailing-token variants arrive as a NEW batch and are
    localized against a persisted positioned index (winnow_pos_index) of
    the committed 1-in-7 sample — the append-only form of
    q_winnow_match_spans. The corpus side is only scanned (probe
    inversion: anchors join broadcast(batch positions), the verify joins
    the index sets against broadcast evidence); jaccard / n_shared are
    VALUE-EXACT under the stop-gram cap (full distinct-value sets
    re-intersected at verify) while anchors and covering spans come from
    uncapped fingerprints — the incremental family's cap contract."""
    from ..operators import dedup

    docs = (
        load(spark, sf, "documents")
        .filter((F.col("doc_id") % 7 == 0) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the")).alias("text"),
    )
    # materialize the index (production reads it from parquet): the live
    # robust-fold lineage would otherwise re-execute per consumer AND
    # evaluate inside the probe's staged Generate — the interpreted-HOF
    # explode trap documented on q_winnow_robust (14 -> ~3 s at sf0.1)
    index = dedup.winnow_pos_index(
        docs, "doc_id", k=_ROBUST_K, w=_ROBUST_W, portable=True
    ).localCheckpoint()
    return dedup.winnow_spans_against_index(
        variants, index, "doc_id",
        k=_ROBUST_K, w=_ROBUST_W, threshold=_SPAN_THRESHOLD,
        portable=True, max_fingerprint_df=_SPAN_MAX_DF,
    )


_PRUNE_SHIFT = 40.0


def _clustered_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic clustered synth over the embeddings fixture: shift
    each vector by +40 in coordinate ``label`` — ten well-separated
    clusters (pairwise centroid distance ~56, intra-cluster jitter < 1)
    with the original values as jitter. The fixture's isotropic
    embeddings never trigger lower-bound pruning (every cell's bound
    sits below any shortlist threshold — measured round 12); this synth
    is the production geometry where it must: a far cell's query
    residual is ~40 units from every codebook entry, so its ADC lower
    bound exceeds any near-cluster threshold. float32 widens to binary64
    losslessly, so the +40.0 arithmetic replays bit-exactly in SQL."""
    emb = load(spark, sf, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + F.when(i == F.col("label").cast("int"), F.lit(_PRUNE_SHIFT))
            .otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )


def q_ann_ivf_pq_pruned(spark: SparkSession, sf: str) -> DataFrame:
    """The residual-aware pruned IVF-PQ probe (adc_prune, VERDICT r11
    #6) through the audit contract, on geometry where pruning MUST bite:
    ten well-separated clusters (_clustered_embeddings), query near the
    label-0 cluster, nprobe = all 10 cells. Output is the EXACT
    euclidean top-10 witness plus three pinned booleans the oracle
    expects TRUE: ``recall_ok`` (pruned probe hit >= 80% of the exact
    top-5 set), ``prune_exact`` (pruned hits bit-equal to the full-nprobe
    probe — the exactness guarantee), and ``prune_effective`` (the probe
    actually skipped >= 1 cell directory, so the guarantee was exercised,
    not vacuous). Index materializes under a per-call temp dir; the
    witness checkpoints before cleanup."""
    from ..operators import similarity

    shifted = _clustered_embeddings(spark, sf)
    data = shifted.filter(F.col("vec_id") != 0)
    qrow = shifted.filter(F.col("vec_id") == 0).select("embedding").first()
    qvec = [float(x) for x in qrow[0]]
    qvec[0] += _PRUNE_SHIFT  # move the query into the label-0 cluster
    # localize the centroid aggregate ONCE: mean_centroids re-scans the
    # corpus per consumer otherwise (assign kernel, residual join, index
    # write = 3 executions of the same aggregate — round 16, guide §1.2)
    cents0 = similarity.mean_centroids(
        data.select(F.col("label").alias("cell"), "embedding")
    )
    centroids = local_frame(spark, cents0.collect(), cents0.schema)
    with _temp_index("ivfpq_pruned_") as tmp:
        similarity.ivf_pq_index_build(data, centroids, tmp, m=32, k=32)
        full = similarity.ivf_pq_index_topk(
            spark, tmp, qvec, k=5, nprobe=10, rerank_factor=16
        ).collect()  # k-bounded
        stats: dict = {}
        pruned = similarity.ivf_pq_index_topk(
            spark, tmp, qvec, k=5, nprobe=10, rerank_factor=16,
            adc_prune=True, prune_phase1=2, probe_stats=stats,
        ).collect()  # k-bounded
        prune_exact = [(r[0], r[1]) for r in pruned] == [
            (r[0], r[1]) for r in full
        ]
        prune_effective = bool(stats.get("pruned_cells"))
        exact, _, recall_ok = similarity.exact_topk_witness(
            data, qvec, [r[0] for r in pruned], 5
        )
        return exact.select(
            "vec_id", "distance",
            F.lit(recall_ok).alias("recall_ok"),
            F.lit(bool(prune_exact)).alias("prune_exact"),
            F.lit(bool(prune_effective)).alias("prune_effective"),
        ).orderBy(F.asc("distance"), F.asc("vec_id"))


def _ann_ivf_pq_pruned_oracle() -> str:
    # audit-contract oracle: exact euclidean top-10 witness over the
    # shifted (clustered) vectors — the +40-at-coordinate-`label` synth
    # replayed via posexplode/re-aggregate — plus the three pinned
    # booleans (recall floor, pruned == full, pruning exercised)
    from .corpus_ext import _euclid_sql

    return f"""
        WITH shifted AS (
            SELECT vec_id,
                   list(CAST(x AS DOUBLE)
                        + CASE WHEN pos = label + 1
                               THEN {_PRUNE_SHIFT!r} ELSE 0.0 END
                        ORDER BY pos) AS emb
            FROM (
                SELECT vec_id, label, unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS pos
                FROM embeddings
            )
            GROUP BY vec_id, label
        ),
        q AS (
            SELECT list_transform(
                       range(1, len(emb) + 1),
                       i -> emb[i] + CASE WHEN i = 1
                                          THEN {_PRUNE_SHIFT!r}
                                          ELSE 0.0 END
                   ) AS q_emb
            FROM shifted WHERE vec_id = 0
        )
        SELECT s.vec_id, {_euclid_sql('s.emb', 'q.q_emb')} AS distance,
               TRUE AS recall_ok, TRUE AS prune_exact,
               TRUE AS prune_effective
        FROM shifted s, q
        WHERE s.vec_id <> 0
        ORDER BY distance ASC, s.vec_id ASC
        LIMIT 5
    """


def q_ann_ivf_pq_adaptive(spark: SparkSession, sf: str) -> DataFrame:
    """Per-query ADAPTIVE nprobe (Best-Bin-First, _adaptive_pruned_tables)
    through the audit contract on the clustered synth: the probe ranks
    ALL TEN cells and scans by the ADC lower bound until no unscanned
    cell can hold a shortlist row — no nprobe knob at all. Three pinned
    booleans the oracle expects TRUE: ``recall_ok`` (adaptive probe hit
    >= 80% of the exact top-5), ``adaptive_exact`` (bit-equal to the
    EXHAUSTIVE nprobe=10 probe — the guarantee is equivalence to the
    all-cells scan, strictly stronger than any fixed nprobe), and
    ``adaptive_effective`` (>= 1 cell directory was never read AND the
    scan converged in fewer rounds than cells — the bound actually
    bit)."""
    from ..operators import similarity

    shifted = _clustered_embeddings(spark, sf)
    data = shifted.filter(F.col("vec_id") != 0)
    qrow = shifted.filter(F.col("vec_id") == 0).select("embedding").first()
    qvec = [float(x) for x in qrow[0]]
    qvec[0] += _PRUNE_SHIFT  # move the query into the label-0 cluster
    # localized once + encoded-frame reuse — q_ann_ivf_pq_pruned's note
    cents0 = similarity.mean_centroids(
        data.select(F.col("label").alias("cell"), "embedding")
    )
    centroids = local_frame(spark, cents0.collect(), cents0.schema)
    with _temp_index("ivfpq_adaptive_") as tmp:
        similarity.ivf_pq_index_build(data, centroids, tmp, m=32, k=32)
        exhaustive = similarity.ivf_pq_index_topk(
            spark, tmp, qvec, k=5, nprobe=10, rerank_factor=16
        ).collect()  # k-bounded
        stats: dict = {}
        adaptive = similarity.ivf_pq_index_topk(
            spark, tmp, qvec, k=5, rerank_factor=16,
            adaptive_nprobe=True, prune_phase1=2, probe_stats=stats,
        ).collect()  # k-bounded
        adaptive_exact = [(r[0], r[1]) for r in adaptive] == [
            (r[0], r[1]) for r in exhaustive
        ]
        adaptive_effective = bool(stats.get("pruned_cells")) and len(
            stats.get("cells_scanned", [])
        ) < len(stats.get("cells_ranked", []))
        exact, _, recall_ok = similarity.exact_topk_witness(
            data, qvec, [r[0] for r in adaptive], 5
        )
        return exact.select(
            "vec_id", "distance",
            F.lit(recall_ok).alias("recall_ok"),
            F.lit(bool(adaptive_exact)).alias("adaptive_exact"),
            F.lit(bool(adaptive_effective)).alias("adaptive_effective"),
        ).orderBy(F.asc("distance"), F.asc("vec_id"))


def _ann_ivf_pq_adaptive_oracle() -> str:
    # audit-contract oracle: the q_ann_ivf_pq_pruned witness (exact
    # euclidean top-5 over the clustered synth) with the adaptive probe's
    # pinned booleans (recall floor, adaptive == exhaustive, bound bit)
    from .corpus_ext import _euclid_sql

    return f"""
        WITH shifted AS (
            SELECT vec_id,
                   list(CAST(x AS DOUBLE)
                        + CASE WHEN pos = label + 1
                               THEN {_PRUNE_SHIFT!r} ELSE 0.0 END
                        ORDER BY pos) AS emb
            FROM (
                SELECT vec_id, label, unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS pos
                FROM embeddings
            )
            GROUP BY vec_id, label
        ),
        q AS (
            SELECT list_transform(
                       range(1, len(emb) + 1),
                       i -> emb[i] + CASE WHEN i = 1
                                          THEN {_PRUNE_SHIFT!r}
                                          ELSE 0.0 END
                   ) AS q_emb
            FROM shifted WHERE vec_id = 0
        )
        SELECT s.vec_id, {_euclid_sql('s.emb', 'q.q_emb')} AS distance,
               TRUE AS recall_ok, TRUE AS adaptive_exact,
               TRUE AS adaptive_effective
        FROM shifted s, q
        WHERE s.vec_id <> 0
        ORDER BY distance ASC, s.vec_id ASC
        LIMIT 5
    """


_SCRUB_TAIL = " the train and the river run long today"


def _scrub_docs(spark: SparkSession, sf: str) -> DataFrame:
    """documents plus TWO synthesized near-dup variants: doc_id % 17
    gets a one-token tail (after the span cut almost nothing remains —
    the re-gate drops it), doc_id % 23 gets an eight-token English tail
    (the cut keeps a gate-passing remnant — the scrub tier's raison
    d'être: the doc that QUOTES a passage but is otherwise worth
    keeping). Both outcomes exercise in one build."""
    docs = load(spark, sf, "documents").select(
        "doc_id", "text", "source"
    )
    v17 = docs.filter(
        ((F.col("doc_id") % 17) == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the")).alias("text"),
        F.col("source"),
    )
    v23 = docs.filter(
        ((F.col("doc_id") % 23) == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_SCRUB_TAIL)).alias("text"),
        F.col("source"),
    )
    return docs.unionByName(v17).unionByName(v23)


def q_corpus_build_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-build composition with the near tier set to SCRUB
    (near_action="scrub"): gate -> exact dedup -> winnow match spans ->
    cut each higher-id member's covering-span union -> recount tokens ->
    re-apply the min_tokens gate -> quota -> shuffle -> pack. The
    passage-level build for shared-boilerplate corpora: a doc that
    merely quotes a committed passage survives with the quote cut, a doc
    that IS the passage re-gates out. Full stage-replay CTE oracle down
    to the per-char scrub and the recounted token stream."""
    from .build_corpus import build_corpus
    from .oracle_lib import _WINNOW_NEAR, _audit_build_config

    cfg = _audit_build_config(**_WINNOW_NEAR, near_action="scrub")
    return build_corpus(_scrub_docs(spark, sf), cfg=cfg).select(
        "doc_id", "text", "source", "n_tokens", "position", "seq_id",
        "seq_offset",
    )


def _corpus_build_scrub_oracle() -> str:
    # the q_corpus_build_winnow replay with the near tier swapped for the
    # scrub chain: gate, exact dedup, ROBUST positioned fps over the
    # survivors (the recursive tie-break CTE), capped anchor spans +
    # capped-count Jaccard verify (winnow_match_spans semantics), the
    # per-char union cut on each higher-id member, token recount +
    # min_tokens re-gate, then quota / seeded shuffle / pack over the
    # recounted stream
    from .corpus_ext import _NORMALIZED
    from .oracle_lib import (
        _MINI_MIN_TOKENS, _exact_dedup_cte, _gate_predicate, _near_input_cte,
        _pack_ctes,
    )

    k = _ROBUST_K
    toks_scrubbed = "string_split_regex(trim(lower(scrubbed)), '\\s+')"
    v23 = f"""
            UNION ALL
            SELECT doc_id + 2000000 AS doc_id,
                   text || '{_SCRUB_TAIL}' AS text, source
            FROM documents WHERE doc_id % 23 = 0 AND text IS NOT NULL"""
    return f"""
        WITH RECURSIVE {_near_input_cte(v23)},
        gated AS (
            SELECT doc_id, source, text
            FROM input
            WHERE {_gate_predicate()}
        ),
        {_exact_dedup_cte("doc_id, source, text")},
        {_robust_fps_ctes(src="uniq")},
        nf AS (
            SELECT doc_id, count(DISTINCT fp) AS nf FROM rfp GROUP BY doc_id
        ),
        heavy AS (
            SELECT fp FROM (
                SELECT fp, count(*) AS dfc
                FROM (SELECT DISTINCT doc_id, fp FROM rfp) GROUP BY fp
            ) WHERE dfc > {_WINNOW_BUILD_MAX_DF}
        ),
        e AS (SELECT * FROM rfp WHERE fp NOT IN (SELECT fp FROM heavy)),
        anc AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fp,
                   b.pos AS pos_b
            FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        ),
        agg AS (
            SELECT id_a, id_b,
                   count(DISTINCT fp) AS n_shared,
                   min(pos_b) AS b_start,
                   max(pos_b) + {k - 1} AS b_end
            FROM anc GROUP BY id_a, id_b
        ),
        vs AS (
            SELECT g.id_b, g.b_start, g.b_end
            FROM agg g
            JOIN nf na ON g.id_a = na.doc_id
            JOIN nf nb ON g.id_b = nb.doc_id
            WHERE CAST(g.n_shared AS DOUBLE)
                  / CAST(na.nf + nb.nf - g.n_shared AS DOUBLE)
                  >= {_WINNOW_BUILD_THRESHOLD}
        ),
        nrm AS (SELECT doc_id, source, {_NORMALIZED} AS s FROM uniq),
        chars AS (
            SELECT doc_id, CAST(p AS INTEGER) AS pos, substr(s, p, 1) AS ch
            FROM (SELECT doc_id, s, unnest(range(1, length(s) + 1)) AS p
                  FROM nrm)
        ),
        covered AS (
            SELECT DISTINCT c.doc_id, c.pos
            FROM chars c JOIN vs d
              ON c.doc_id = d.id_b
             AND c.pos BETWEEN d.b_start AND d.b_end
        ),
        keptstr AS (
            SELECT c.doc_id, string_agg(c.ch, '' ORDER BY c.pos) AS scrubbed
            FROM chars c
            LEFT JOIN covered v ON c.doc_id = v.doc_id AND c.pos = v.pos
            WHERE v.pos IS NULL
            GROUP BY c.doc_id
        ),
        scrub2 AS (
            SELECT n.doc_id, n.source,
                   coalesce(k2.scrubbed, '') AS scrubbed
            FROM nrm n LEFT JOIN keptstr k2 ON n.doc_id = k2.doc_id
        ),
        regated AS (
            SELECT doc_id, source, scrubbed AS text,
                   CAST(len({toks_scrubbed}) AS INTEGER) AS n_tokens
            FROM scrub2
            WHERE CAST(len({toks_scrubbed}) AS INTEGER)
                  >= {_MINI_MIN_TOKENS}
        ),
        {_pack_ctes("regated", "doc_id, text, source, n_tokens")}
    """


def q_decontaminate_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Passage-level decontamination (dedup.winnow_scrub_against_index):
    the trailing-token variants play a training batch that QUOTES
    committed benchmark docs (the 1-in-7 sample, persisted as a
    positioned winnow index) — each batch doc loses exactly the covering
    span it shares with any benchmark doc and keeps its distinct tail,
    instead of being dropped whole (the q_decontaminate drop tier's
    surgical sibling). Benchmark side scan-only; decisions value-exact
    under the stop-gram cap."""
    from ..operators import dedup

    docs = (
        load(spark, sf, "documents")
        .filter((F.col("doc_id") % 7 == 0) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the")).alias("text"),
    )
    # materialized like q_winnow_spans_incremental's (the persisted-index
    # production contract; avoids the live-lineage Generate trap)
    index = dedup.winnow_pos_index(
        docs, "doc_id", k=_ROBUST_K, w=_ROBUST_W, portable=True
    ).localCheckpoint()
    return dedup.winnow_scrub_against_index(
        variants, index, "doc_id",
        k=_ROBUST_K, w=_ROBUST_W, threshold=_SPAN_THRESHOLD,
        portable=True, max_fingerprint_df=_SPAN_MAX_DF,
    )


def _decontaminate_spans_oracle() -> str:
    # the incremental span chain (robust fps over sample ∪ variants,
    # capped anchors restricted to index x batch, exact-intersection
    # verify), then the scrub replay over the BATCH docs only (the
    # _winnow_span_scrub_oracle per-position anti-join)
    from .corpus_ext import _NORMALIZED

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
                   b.pos AS pos_b
            FROM e a JOIN e b ON a.fp = b.fp
            WHERE a.doc_id < 1000000 AND b.doc_id >= 1000000
        ),
        agg AS (
            SELECT id_index, id_batch,
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
        ),
        vs AS (
            SELECT g.id_batch AS doc_id, g.b_start, g.b_end
            FROM agg g
            JOIN inter x ON g.id_index = x.id_index
                        AND g.id_batch = x.id_batch
            JOIN nf ni ON g.id_index = ni.doc_id
            JOIN nf nb ON g.id_batch = nb.doc_id
            WHERE CAST(x.n_shared AS DOUBLE)
                  / CAST(ni.nf + nb.nf - x.n_shared AS DOUBLE)
                  >= {_SPAN_THRESHOLD}
        ),
        nrm AS (
            SELECT doc_id, {_NORMALIZED} AS s FROM sample
            WHERE doc_id >= 1000000
        ),
        chars AS (
            SELECT doc_id, CAST(p AS INTEGER) AS pos, substr(s, p, 1) AS ch
            FROM (SELECT doc_id, s, unnest(range(1, length(s) + 1)) AS p
                  FROM nrm)
        ),
        covered AS (
            SELECT DISTINCT c.doc_id, c.pos
            FROM chars c JOIN vs d
              ON c.doc_id = d.doc_id
             AND c.pos BETWEEN d.b_start AND d.b_end
        ),
        kept AS (
            SELECT c.doc_id, string_agg(c.ch, '' ORDER BY c.pos) AS scrubbed
            FROM chars c
            LEFT JOIN covered v ON c.doc_id = v.doc_id AND c.pos = v.pos
            WHERE v.pos IS NULL
            GROUP BY c.doc_id
        ),
        ncut AS (
            SELECT doc_id, count(*) AS n_cut FROM covered GROUP BY doc_id
        ),
        nsp AS (
            SELECT doc_id, count(*) AS n_spans FROM vs GROUP BY doc_id
        )
        SELECT n.doc_id,
               coalesce(k2.scrubbed, '') AS scrubbed,
               CAST(coalesce(c.n_cut, 0) AS INTEGER) AS n_cut,
               CAST(coalesce(p.n_spans, 0) AS INTEGER) AS n_spans
        FROM nrm n
        LEFT JOIN kept k2 ON n.doc_id = k2.doc_id
        LEFT JOIN ncut c ON n.doc_id = c.doc_id
        LEFT JOIN nsp p ON n.doc_id = p.doc_id
    """


_CHUNK_MAX = 64
_CHUNK_OVERLAP = 16


def q_chunk_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window chunking with provenance (text.chunk_spans): the
    RAG / context-window splitter over a 1-in-5 document sample —
    64-token windows advancing by 48 (16-token overlap; the
    OVERLAPPING generalization of corpus_llm.q_chunk_documents), each chunk
    carrying its 0-based start offset and length so a retriever can map
    hits back into the source doc. Pure per-row HOF + explode: scan
    arithmetic, the fan-out is the output."""
    from ..operators.text import chunk_spans

    return (
        load(spark, sf, "documents")
        .filter((F.col("doc_id") % 5 == 0) & F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(
                chunk_spans("text", _CHUNK_MAX, _CHUNK_OVERLAP)
            ).alias("c"),
        )
        .select(
            "doc_id", F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.start_tok").alias("start_tok"),
            F.col("c.n_tok").alias("n_tok"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )


def _chunk_overlap_oracle() -> str:
    # integer replay: nch = 1 + (max(n - MX, 0) + stride - 1) // stride,
    # chunk i covers tokens [i*stride, i*stride + least(MX, n - i*stride))
    from .corpus_ext import _TOKS

    mx, st = _CHUNK_MAX, _CHUNK_MAX - _CHUNK_OVERLAP
    return f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
            WHERE doc_id % 5 = 0 AND text IS NOT NULL
        ),
        c AS (
            SELECT doc_id, toks, len(toks) AS n,
                   1 + (greatest(len(toks) - {mx}, 0) + {st - 1}) // {st}
                   AS nch
            FROM t
        )
        SELECT doc_id,
               CAST(i AS INTEGER) AS chunk_id,
               CAST(i * {st} AS INTEGER) AS start_tok,
               CAST(least({mx}, n - i * {st}) AS INTEGER) AS n_tok,
               array_to_string(
                   list_slice(toks, i * {st} + 1,
                              i * {st} + least({mx}, n - i * {st})),
                   ' ') AS chunk_text
        FROM (SELECT doc_id, toks, n, unnest(range(0, nch)) AS i FROM c)
    """


def q_ann_opq(spark: SparkSession, sf: str) -> DataFrame:
    """OPQ — Optimized Product Quantization (Ge et al., CVPR 2013; the
    faiss OPQMatrix pre-transform) through the audit contract
    (similarity.opq_recall_audit): a deterministic RNG-free alternation
    learns an orthogonal rotation jointly with the PQ codebooks
    (Procrustes step + warm-started Lloyd — provably non-increasing in
    the shared quantization objective), the corpus is rotated scan-side
    and probed by the standard ADC + exact rerank. Output: the exact
    euclidean top-5 witness over the ORIGINAL vectors plus two pinned
    booleans the oracle expects TRUE — ``recall_ok`` (>= 80% of the
    exact set hit) and ``opq_mse_le_pq`` (training MSE after the learned
    rotation <= plain PQ's on the same sample and init, the
    monotonicity guarantee)."""
    from ..operators import similarity
    from .corpus_ext import _query_vec_list

    emb = load(spark, sf, "embeddings")
    return similarity.opq_recall_audit(
        emb.filter(F.col("vec_id") != 0), _query_vec_list(emb),
        k=5, m=16, kc=16, iters=2, rerank_factor=16,
    )


def _ann_opq_oracle() -> str:
    # audit-contract oracle: exact euclidean top-5 witness over the raw
    # fixture embeddings plus the two pinned booleans
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
               TRUE AS recall_ok, TRUE AS opq_mse_le_pq
        FROM data d, q
        ORDER BY distance ASC, d.vec_id ASC
        LIMIT 5
    """


def q_ann_opq_index(spark: SparkSession, sf: str) -> DataFrame:
    """The OPQ-rotated PERSISTED index lifecycle through the audit
    contract (faiss IndexPreTransform + write_index/add): train the
    rotation + residual codebooks on the initial corpus, build the whole
    IVF-PQ index in the rotated space with the rotation persisted
    alongside, ivf_pq_index_add a RAW later batch (rotated on the way in
    with the saved matrix), probe with the RAW query (rotated
    automatically), and emit the exact euclidean top-5 witness over
    initial ∪ batch in the ORIGINAL space plus two pinned booleans:
    ``recall_ok`` (>= 80% of the exact set hit through the rotated
    lifecycle) and ``rotation_persisted`` (the probe actually loaded a
    rotation — the pre-transform ran, the guarantee isn't vacuous)."""
    from ..operators import similarity
    from .corpus_ext import _query_vec_list

    emb = load(spark, sf, "embeddings")
    data = emb.filter((F.col("vec_id") != 0) & (F.col("vec_id") % 5 != 0))
    batch = emb.filter((F.col("vec_id") != 0) & (F.col("vec_id") % 5 == 0))
    qvec = _query_vec_list(emb)
    with _temp_index("opq_idx_") as tmp:
        rot, _cb0, _audit = similarity.opq_train_driver(
            similarity._bounded_train_frame(data, "vec_id", 65_536),
            m=32, k=16, iters=2,
        )
        rotated = similarity.opq_rotate(data, rot).localCheckpoint()
        centroids = _centroid_frame(spark, rotated)
        similarity.ivf_pq_index_build(
            rotated, centroids, tmp, m=32, k=16, rotation=rot
        )
        similarity.ivf_pq_index_add(spark, tmp, batch)  # RAW batch
        hit = {
            r.vec_id
            for r in similarity.ivf_pq_index_topk(
                spark, tmp, qvec, k=5, nprobe=10, rerank_factor=64
            ).collect()  # k-bounded, RAW query
        }
        rotation_persisted = (
            similarity._open_ann_index(spark, tmp).rotation is not None
        )
        exact, _, recall_ok = similarity.exact_topk_witness(
            data.unionByName(batch), qvec, hit, 5
        )
        return exact.select(
            "vec_id", "distance",
            F.lit(recall_ok).alias("recall_ok"),
            F.lit(bool(rotation_persisted)).alias("rotation_persisted"),
        ).orderBy(F.asc("distance"), F.asc("vec_id"))


def _ann_opq_index_oracle() -> str:
    # audit-contract oracle: exact euclidean top-5 witness over the raw
    # embeddings (the initial/batch split unions back to vec_id <> 0)
    # plus the two pinned booleans
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
               TRUE AS recall_ok, TRUE AS rotation_persisted
        FROM data d, q
        ORDER BY distance ASC, d.vec_id ASC
        LIMIT 5
    """


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_winnow_robust": q_winnow_robust,
    "q_corpus_build_winnow": q_corpus_build_winnow,
    "q_ann_ivf_pq_pruned": q_ann_ivf_pq_pruned,
    "q_winnow_match_spans": q_winnow_match_spans,
    "q_winnow_span_scrub": q_winnow_span_scrub,
    "q_winnow_spans_incremental": q_winnow_spans_incremental,
    "q_ann_ivf_pq_adaptive": q_ann_ivf_pq_adaptive,
    "q_chunk_overlap": q_chunk_overlap,
    "q_decontaminate_spans": q_decontaminate_spans,
    "q_corpus_build_scrub": q_corpus_build_scrub,
    "q_ann_opq": q_ann_opq,
    "q_ann_opq_index": q_ann_opq_index,
}

ROWS_ONLY_QUERIES: set[str] = set()

ORACLE_SQL: dict[str, str] = {
    "q_winnow_robust": _winnow_robust_oracle(),
    "q_corpus_build_winnow": _corpus_build_winnow_oracle(),
    "q_ann_ivf_pq_pruned": _ann_ivf_pq_pruned_oracle(),
    "q_winnow_match_spans": _winnow_match_spans_oracle(),
    "q_winnow_span_scrub": _winnow_span_scrub_oracle(),
    "q_winnow_spans_incremental": _winnow_spans_incremental_oracle(),
    "q_ann_ivf_pq_adaptive": _ann_ivf_pq_adaptive_oracle(),
    "q_chunk_overlap": _chunk_overlap_oracle(),
    "q_decontaminate_spans": _decontaminate_spans_oracle(),
    "q_corpus_build_scrub": _corpus_build_scrub_oracle(),
    "q_ann_opq": _ann_opq_oracle(),
    "q_ann_opq_index": _ann_opq_index_oracle(),
}
