"""Deduplication operators for large-scale training-data pipelines
(SURVEY.md §7.4 extensions; first-class 100-TB components).

Five strategies, cheapest-first:

- exact:          hash-groupBy on a normalized fingerprint. One shuffle on the
                  fingerprint; md5 keys are uniform -> no skew.
- ngram-jaccard:  word n-gram shingles -> explode -> shingle-equality
                  candidate join -> exact Jaccard filter. Shuffles on the
                  shingle; frequent-shingle skew is capped by dropping
                  shingles above a document-frequency ceiling (stop-shingles
                  contribute candidates quadratically but little signal).
- MinHash+LSH:    deterministic (a*h+b mod p) minhash signatures over
                  xxhash64 shingle hashes, banded into buckets, bucket-join
                  for candidates, exact Jaccard verify. All built-in
                  higher-order functions — no UDF, no all-pairs join.
- SimHash:        64-bit signature from per-token hash bit-votes; near-dup =
                  hamming(xor) <= k on pigeonhole-banded candidates.
- embedding:      cosine >= tau pairs within a blocking key (see
                  operators.similarity.cosine_pairs_blocked).

Everything below stays JVM-side (split/transform/aggregate/xxhash64/bit_count)
so the scan is codegen'd; the only shuffles are the candidate joins, which
are linear in (doc, band) pairs rather than quadratic in documents.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .. import index_store
from ..io import local_frame, local_rows_of, num_partitions
from .text import fingerprint, ngram_occurrences, tokens

# Mersenne prime 2^31-1 for the minhash affine family; base hashes are < p
# and coefficients small, so a*h+b stays far from long overflow (ANSI-safe).
_MINHASH_PRIME = (1 << 31) - 1


def portable_hash60(c: Column) -> Column:
    """60-bit deterministic hash reproducible in portable SQL: the integer
    value of the first 15 hex digits of md5. Any engine with md5 + a
    hex-string cast computes the identical bigint (DuckDB:
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``), which is what makes
    the minhash/simhash corpus queries oracle-checkable. The production
    default stays xxhash64 (one fused JVM op, full 64 bits, no hex
    round-trip) — ``portable=True`` trades ~2x hash cost for SQL portability
    and is only used by the correctness corpus."""
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("bigint")


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a CPU-heavy hashing stage across all cores when the input
    arrives underpartitioned.

    A small parquet file scans as ONE task (it never crosses
    files.maxPartitionBytes), which serializes the per-token md5/xxhash work
    that follows — measured at sf0.1 this single task was ~3 s of the
    simhash query while 31 cores idled. Repartition round-robin up to the
    scheduler parallelism ONLY in that case: at production scale the scan
    already has far more partitions than cores and this is a no-op, so no
    extra shuffle of the text corpus is ever introduced at 100 TB. Results
    are partitioning-independent (row-wise hashing then keyed joins)."""
    if df.isStreaming:
        # a streaming plan has no materializable RDD to probe, and its
        # micro-batches are partitioned by the source/trigger anyway —
        # the spread is the BATCH small-file fix; pass streams through
        # untouched (round 16: _bm25_per_doc now routes through here
        # and is shared by stream_bm25_score)
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    # io.num_partitions: this helper runs on every fingerprint/shingle
    # path, several times per composed build, so the probe must be cheap
    if num_partitions(df) < target:
        return df.repartition(target)
    return df


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """One row per distinct normalized text: canonical (min) id + copy count.
    Deterministic survivor selection, single shuffle on the fingerprint."""
    return (
        df.select(F.col(id_col), fingerprint(text_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep exactly one (min-id) row per distinct normalized text."""
    keep = exact_dedup_groups(df, id_col, text_col).select(id_col)
    return df.join(keep, on=id_col, how="semi")


def fingerprint_index(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The corpus's distinct fingerprint set — the persistent dedup index an
    incremental pipeline maintains (write it partitioned/bucketed by
    fingerprint so batch joins co-locate)."""
    return df.select(fingerprint(text_col)).distinct()


def dedup_against_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str = "text",
    broadcast_batch: bool = True,
) -> DataFrame:
    """Incremental exact dedup: survivors of a NEW batch against an existing
    corpus fingerprint index (``fingerprint_index`` output).

    At 100 TB you never re-dedup the whole corpus per ingest — you keep the
    fingerprint set as a table and dedup each batch against it: (1) drop
    batch docs whose fingerprint is already in the corpus, then (2) min-id
    within-batch dedup of what remains (a batch can carry internal
    duplicates the index has never seen). Union the survivors' fingerprints
    back into the index afterwards. The streaming twin (stream_dedup_keyed)
    applies the same key inside a watermark horizon; this is the
    batch/backfill form.

    Join strategy — the index is corpus-sized (billions of fingerprints at
    100 TB) while a batch is an ingest increment, so a plain
    ``batch ANTI index`` sort-merge join would shuffle the ENTIRE index for
    every batch. With ``broadcast_batch=True`` (default) the plan inverts
    the probe so the index is only ever scanned, never shuffled:

    1. ``hits = index SEMI broadcast(batch fingerprints)`` — one pass over
       the index with the batch's distinct fingerprint set (batch-sized,
       tiny) broadcast to every scan task; output is at most batch-sized.
    2. ``fresh = batch ANTI broadcast(hits)`` — batch keys not already in
       the corpus; the broadcast side is bounded by the batch again.

    Two BroadcastHashJoins, zero index-side Exchange (pinned by
    tests/test_plans.py::test_incremental_dedup_never_shuffles_index).
    Spark's runtime Bloom-filter injection
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``, on by default in
    session.RUNTIME_CONFS) covers the same pattern probabilistically for
    shuffle joins; the explicit inversion here is exact and also skips
    parquet row groups whose fingerprint min/max miss the broadcast set.
    Set ``broadcast_batch=False`` only for corpus-sized backfill "batches",
    where the shuffled sort-merge anti-join against a
    bucketed-by-fingerprint index is the right plan.
    """
    keyed = batch.select(F.col(id_col), fingerprint(text_col))
    if broadcast_batch:
        batch_fp = keyed.select("fingerprint").distinct()
        hits = index.join(F.broadcast(batch_fp), on="fingerprint", how="semi")
        fresh = keyed.join(F.broadcast(hits), on="fingerprint", how="anti")
    else:
        fresh = keyed.join(index, on="fingerprint", how="anti")
    keep = (
        fresh.groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return batch.join(keep, on=id_col, how="semi")


def dedup_against_index_bloom(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_bits: int = 1 << 23,
    num_hashes: int = 5,
    expected_keys: int | None = None,
    fp: float = 0.01,
) -> DataFrame:
    """Incremental exact dedup with a Bloom-prefiltered index probe — the
    middle regime between ``dedup_against_index``'s two strategies.

    ``broadcast_batch=True`` inverts the probe with an EXACT broadcast
    hash set, which stops working once the batch's distinct fingerprints
    outgrow the broadcast budget (~100M keys is gigabytes of hash map).
    ``broadcast_batch=False`` shuffles the corpus-sized index. This variant
    extends the probe inversion ~100x further: a Bloom bitmap over the
    batch keys is O(1.44 * n * log2(1/fp)) BITS — ~9.6 bits/key at 1% fp,
    so the default 2^23 bits (1 MiB) covers ~877k keys, and 100M keys fit
    in ~120 MiB (sketches.bloom_params) where the exact set would not fit
    at all. SIZE THE FILTER: pass ``expected_keys`` (approximate batch
    distinct count) and the bitmap is sized via bloom_params(n, fp) —
    an undersized filter stays EXACT (false positives die in the
    anti-join) but its hit set balloons toward the whole index, defeating
    the broadcast in step 3.

    1. bloom = bitmap over the batch's fingerprints (sketches.bloom_build:
       per-partition partials OR-reduced, one pass over the batch);
    2. hits = index rows passing the broadcast bitmap — a pure SCAN of the
       index, no shuffle; |hits| <= |batch ∩ index| + fp_rate * |index|;
    3. fresh = batch ANTI broadcast(hits) — false positives from (2) are
       index keys NOT in the batch, so they match nothing here and the
       result is EXACT (same rows as dedup_against_index, same oracle);
    4. min-id within-batch dedup of the fresh keys, as in the exact path.

    The index never shuffles; driver + broadcast traffic is one bitmap
    plus the batch-bounded hits set.
    """
    from .sketches import bloom_build, bloom_filter_rows, bloom_params

    if expected_keys is not None:
        num_bits, num_hashes = bloom_params(expected_keys, fp)
    keyed = batch.select(F.col(id_col), fingerprint(text_col))
    bloom = bloom_build(keyed, "fingerprint", num_bits, num_hashes)
    hits = bloom_filter_rows(index, "fingerprint", bloom)
    fresh = keyed.join(F.broadcast(hits), on="fingerprint", how="anti")
    keep = (
        fresh.groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return batch.join(keep, on=id_col, how="semi")


def near_dedup_pipeline(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    use_lsh: bool = True,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """The production dedup composition: exact-dedup FIRST, near-dup on the
    survivors, then re-expand survivors' pair relations to canonical ids.

    Why: a corpus with heavy exact duplication makes every all-pairs stage
    quadratic in copy count — at a 10x-duplicated 50k-doc stress run, raw
    ngram pairing took 51 s (250k pairs, 225k of them within exact-dup
    groups) while exact-first + LSH on the 5k survivors runs the same
    discovery in a few seconds. Exact dedup is one linear shuffle, so it is
    always the first pass at 100 TB.

    Returns near-dup pairs (id_a, id_b, jaccard) BETWEEN canonical
    survivors; members of the same exact-dup group are implied (jaccard 1.0
    by definition) and recoverable from exact_dedup_groups.
    """
    survivors = exact_dedup(df, id_col, text_col)
    pairs_fn = minhash_lsh_pairs if use_lsh else ngram_jaccard_pairs
    if use_lsh:
        return pairs_fn(survivors, id_col, text_col, n=n, threshold=threshold)
    return pairs_fn(
        survivors, id_col, text_col, n=n, threshold=threshold, max_shingle_df=max_shingle_df
    )


# --------------------------------------------------------------------------
# shingling
# --------------------------------------------------------------------------

def shingles_of(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (array<string>), empty when the document
    has fewer than n tokens.

    Implemented as ONE overlapping-match regex pass (lookahead capture) over
    the whitespace-normalized text. The obvious
    transform(sequence, i -> concat(element_at(tokens, i)...)) formulation
    re-evaluates split() per element inside the interpreted HOF — O(tokens^2)
    per document; the regex stays in codegen and is linear (measured ~10x on
    5k docs).
    """
    return F.array_distinct(ngram_occurrences(col, n)).alias("shingles")


def _stop_grams(max_df: int, key: str, *frames: DataFrame) -> DataFrame:
    """The stop-gram set behind every near-dup tier's ``max_*_df`` cap:
    the ``key`` values (shingle or fingerprint hashes) in more than
    ``max_df`` documents, counted over the union of ``frames``. Each
    frame must hold one row per (document, key) — callers whose rows
    repeat a key within a document (positions) ``distinct()`` first. What
    a capped key is removed from, and so whether capped Jaccard is an
    underestimate or value-exact, stays with each caller."""
    keys = functools.reduce(
        DataFrame.unionByName, [f.select(key) for f in frames]
    )
    return (
        keys.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(_over_cap(F.col("_df"), max_df))
        .select(key)
    )


def _over_cap(df, max_df: int):
    """THE stop-gram predicate: a document frequency above the cap. One
    expression for a Spark ``Column`` (_stop_grams) and a numpy count
    array (_winnow_probe's driver finish), so the two cap paths cannot
    drift apart."""
    return df > max_df


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All-pairs near-duplicates by exact n-gram Jaccard similarity.

    Candidate generation: explode distinct shingles and self-join on the
    64-bit shingle hash (cheaper shuffle key than the string; collision odds
    ~(n_shingles^2)/2^64). Only pairs sharing >= 1 shingle are compared —
    lossless for any threshold > 0 — and a length-ratio prune drops pairs
    where even a full overlap could not reach the threshold
    (j <= min/max), which is also lossless. ``max_shingle_df`` drops shingles
    present in more than that many documents (skew/blow-up cap at scale;
    documented recall trade-off).
    """
    sh = (
        _ensure_parallelism(df.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", shingles_of(text_col, n))
        .select(
            "_id",
            F.size("shingles").alias("_nsh"),
            F.explode(F.transform("shingles", lambda s: F.xxhash64(s))).alias("_sh"),
        )
    )
    # Lazy cache shared by both sides of the candidate self-join.
    # Re-measured round 15 with AQE's concurrent exchange materialization
    # in mind: eager (cache+count) LOST here — q_dedup_clusters 1.8→2.5 s,
    # q_corpus_build_mini 3.2→4.5 s — the extra materialization pass costs
    # more than the branch race on this light subtree. (Contrast
    # winnow_match_spans' positioned explode, where eager wins 2-3x.) The
    # cached blocks are owned by the Spark session: long-lived drivers
    # running many dedup passes should materialize and then unpersist.
    sh.cache()
    if max_shingle_df is not None:
        sh = sh.join(_stop_grams(max_shingle_df, "_sh", sh), on="_sh", how="anti")
    a = sh.select(F.col("_id").alias("id_a"), F.col("_nsh").alias("nsh_a"), "_sh")
    b = sh.select(F.col("_id").alias("id_b"), F.col("_nsh").alias("nsh_b"), "_sh")
    inter = (
        a.join(
            b,
            on=(
                (a["_sh"] == b["_sh"])
                & (F.col("id_a") < F.col("id_b"))
                # length-ratio prune: j <= min(nsh)/max(nsh) < threshold -> skip
                & (F.least("nsh_a", "nsh_b") >= F.lit(threshold) * F.greatest("nsh_a", "nsh_b"))
            ),
        )
        .groupBy("id_a", "id_b", "nsh_a", "nsh_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    # raw IEEE division of exact ints — reproducible bit-for-bit by any engine
    jac = F.col("_inter").cast("double") / (
        (F.col("nsh_a") + F.col("nsh_b") - F.col("_inter")).cast("double")
    )
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
    max_fingerprint_df: "int | None" = None,
    fps_df: "DataFrame | None" = None,
) -> DataFrame:
    """Near-duplicate pairs by winnowing-fingerprint Jaccard — the
    rolling-hash member of the near-dup family (text.winnow_fingerprints:
    MOSS character k-gram winnowing). Same candidate shape as
    ngram_jaccard_pairs — explode the per-document fingerprint set,
    equality-join on the fingerprint (only pairs sharing >= 1 selected
    hash are compared; lossless for threshold > 0), count shared, exact
    Jaccard over the distinct sets — but the exploded volume is the
    winnowed density (~2/(w+1) of the k-gram count), so the shuffle is a
    small fraction of the shingle tier's. Documents with an empty
    fingerprint set (shorter than ``k`` normalized chars) have no overlap
    defined and drop out, as in minhash_lsh_pairs.

    ``max_fingerprint_df`` is the stop-gram cap (ngram_jaccard_pairs'
    max_shingle_df applied to selected hashes): fingerprints present in
    more than that many documents are dropped before the self-join — a
    fingerprint shared by d documents contributes d² candidate rows, so
    boilerplate-heavy corpora degenerate toward all-pairs without it.
    Exactly the ngram precedent's contract: shared-fingerprint counts
    (and therefore Jaccard) exclude capped fingerprints while set sizes
    stay full, so capped similarity is an UNDERESTIMATE — a
    precision-safe recall trade-off (true near-dups share many rare
    fingerprints). The incremental form (winnow_dedup_against_index)
    re-joins the full sets at verify time and stays value-exact.

    ``fps_df`` (optional): a precomputed ``(_id, fps)`` fingerprint frame
    (winnow_index's shape) — the seam that lets a caller who already
    fingerprinted the batch (the streaming winnow tier runs pairs AND the
    index probe per micro-batch) avoid re-normalizing and re-hashing the
    text. The caller owns that frame's persistence (materialize it —
    localCheckpoint — before sharing it across consumers); the internal
    lazy cache is only taken on the self-fingerprinted path."""
    from .text import winnow_fingerprints

    if fps_df is not None:
        fps = fps_df.filter(F.size("fps") > 0).select(
            "_id",
            F.size("fps").alias("_nf"),
            F.explode("fps").alias("_f"),
        )
    else:
        fps = (
            _ensure_parallelism(
                df.select(F.col(id_col).alias("_id"), F.col(text_col))
            )
            .select(
                "_id",
                winnow_fingerprints(text_col, k=k, w=w, portable=portable),
            )
            .filter(F.size("fingerprints") > 0)
            .select(
                "_id",
                F.size("fingerprints").alias("_nf"),
                F.explode("fingerprints").alias("_f"),
            )
        )
        # lazy cache shared by both sides of the candidate self-join
        # (the ngram_jaccard_pairs re-measurement and ownership note
        # apply verbatim: eager lost — q_dedup_winnow 1.5→3.1 s)
        fps.cache()
    if max_fingerprint_df is not None:
        heavy = _stop_grams(max_fingerprint_df, "_f", fps)
        fps = fps.join(heavy, on="_f", how="anti")
    a = fps.select(F.col("_id").alias("id_a"), F.col("_nf").alias("nf_a"), "_f")
    b = fps.select(F.col("_id").alias("id_b"), F.col("_nf").alias("nf_b"), "_f")
    inter = (
        a.join(
            b,
            on=(
                (a["_f"] == b["_f"])
                & (F.col("id_a") < F.col("id_b"))
                # length-ratio prune: j <= min(nf)/max(nf) < threshold -> skip
                & (
                    F.least("nf_a", "nf_b")
                    >= F.lit(threshold) * F.greatest("nf_a", "nf_b")
                )
            ),
        )
        .groupBy("id_a", "id_b", "nf_a", "nf_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    jac = F.col("_inter").cast("double") / (
        (F.col("nf_a") + F.col("nf_b") - F.col("_inter")).cast("double")
    )
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def winnow_match_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
    max_fingerprint_df: "int | None" = None,
    pfps_df: "DataFrame | None" = None,
) -> DataFrame:
    """Near-duplicate pairs WITH matched-span localization — the MOSS
    offset-pair use case robust winnowing's positions exist for
    (text.winnow_fingerprints(robust=True); SIGMOD'03 §5): for every
    verified pair, where in each document the shared content sits.

    Pipeline: positioned robust fingerprints per doc → anchor join on
    the fingerprint VALUE (every shared selected k-gram hash is an
    anchor (pos_a, pos_b)) → per-pair aggregate. Jaccard verifies over
    DISTINCT fingerprint values, which robust selection provably shares
    with plain winnowing (tested), so the pair set at a given threshold
    matches winnow_pairs'; the positions add the span evidence on top.

    Output per pair: ``id_a, id_b, jaccard, n_shared`` (distinct shared
    fingerprint values), ``n_anchors`` (matched position pairs — a hash
    appearing at a positions in A and b in B contributes a*b anchors),
    and the covering character spans in each doc's NORMALIZED text:
    ``a_start/a_end`` and ``b_start/b_end`` (1-based, inclusive;
    min anchor position .. max anchor position + k - 1).

    ``max_fingerprint_df`` is the stop-gram cap (winnow_pairs' contract
    over document frequency): capped fingerprints leave candidate
    generation AND the shared/anchor counts while per-doc set sizes stay
    full — the same underestimate semantics, which also bounds the
    anchor cross-products boilerplate would otherwise explode.

    ``pfps_df`` (optional): a precomputed positioned frame
    (winnow_pos_index's ``(_id, pfps)`` shape) so callers that already
    fingerprinted the input — the streaming scrub tier runs the in-batch
    spans AND the index probe per micro-batch — skip the re-hash; the
    caller owns that frame's persistence, the internal lazy cache is
    only taken on the self-fingerprinted path.

    100-TB shape: the anchor join explodes the ROBUST positioned
    density — at most the plain winnowed density, and collapsed ~w-fold
    on repetitive text (the tie-break's point) — then one aggregate
    keyed on the pair; never all-pairs."""
    own_fps = pfps_df is None
    if own_fps:
        pfps_df = winnow_pos_index(df, id_col, text_col, k, w, portable)
    pos_fps = (
        pfps_df.filter(F.size("pfps") > 0)
        .select(
            "_id",
            # distinct VALUE count — the Jaccard denominator (== the
            # plain winnowed set size)
            F.size(_pos_vals("pfps")).alias("_nf"),
            F.explode("pfps").alias("_s"),
        )
        .select("_id", "_nf", F.col("_s.fp").alias("_f"),
                F.col("_s.pos").alias("_p"))
    )
    if own_fps:
        # lazy cache: both sides of the anchor self-join share it (the
        # ngram_jaccard_pairs ownership note applies). Re-measured round
        # 15 with an alternating A/B (fresh sessions, cache cleared
        # between runs): eager cache+count LOSES here too —
        # q_winnow_span_scrub 0.7 vs 1.6 s, q_winnow_match_spans 2.7 vs
        # 3.5 s — the blocking materialization outweighs the AQE branch
        # race at every site tested this round.
        pos_fps.cache()
    if max_fingerprint_df is not None:
        heavy = _stop_grams(
            max_fingerprint_df, "_f", pos_fps.select("_id", "_f").distinct()
        )
        pos_fps = pos_fps.join(heavy, on="_f", how="anti")
    a = pos_fps.select(
        F.col("_id").alias("id_a"), F.col("_nf").alias("nf_a"),
        "_f", F.col("_p").alias("pos_a"),
    )
    b = pos_fps.select(
        F.col("_id").alias("id_b"), F.col("_nf").alias("nf_b"),
        "_f", F.col("_p").alias("pos_b"),
    )
    anchors = a.join(
        b, on=(a["_f"] == b["_f"]) & (F.col("id_a") < F.col("id_b"))
    ).select(
        "id_a", "id_b", "nf_a", "nf_b",
        a["_f"].alias("_f"), "pos_a", "pos_b",
    )
    agg = anchors.groupBy("id_a", "id_b", "nf_a", "nf_b").agg(
        F.count_distinct("_f").alias("n_shared"),
        F.count(F.lit(1)).cast("long").alias("n_anchors"),
        F.min("pos_a").alias("a_start"),
        (F.max("pos_a") + F.lit(k - 1)).alias("a_end"),
        F.min("pos_b").alias("b_start"),
        (F.max("pos_b") + F.lit(k - 1)).alias("b_end"),
    )
    jac = F.col("n_shared").cast("double") / (
        (F.col("nf_a") + F.col("nf_b") - F.col("n_shared")).cast("double")
    )
    return agg.select(
        "id_a", "id_b", jac.alias("jaccard"), "n_shared", "n_anchors",
        "a_start", "a_end", "b_start", "b_end",
    ).filter(F.col("jaccard") >= threshold)


def winnow_span_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
    max_fingerprint_df: "int | None" = None,
    pfps_df: "DataFrame | None" = None,
) -> DataFrame:
    """Cross-document SPAN scrubbing — the near-dup family's surgical
    tier: instead of dropping the higher-id member of every verified
    near-dup pair (the drop tiers' contract), CUT the matched span out
    of it and keep the rest. The cross-document generalization of the
    repeated-passage scrub, built on winnow_match_spans' offset
    evidence; the passage-level dedup a training pipeline wants when
    documents share boilerplate or quoted blocks but are otherwise
    distinct.

    Semantics: spans come from winnow_match_spans (same k/w/threshold/
    cap contract); for every verified pair the HIGHER id's covering span
    (b_start..b_end, 1-based inclusive on the NORMALIZED text) is
    scrubbed — first-seen-wins, the min-id side stays intact. A doc
    scrubbed by several pairs loses the UNION of its spans (per-char
    coverage — overlaps need no interval merging, and the same union
    replays in SQL as a per-position anti-join). Output: ``(id,
    scrubbed, n_cut, n_spans)`` where ``scrubbed`` is the normalized
    text with covered characters removed (docs with no matched span
    return their normalized text whole, n_cut = 0), ``n_cut`` the
    characters removed, ``n_spans`` the contributing pairs.

    100-TB shape: the span tier inherits winnow_match_spans' bounds
    (anchor join on the robust positioned density, capped); the scrub
    itself is a per-row HOF over (text length x spans-per-doc) — scan
    arithmetic, no extra shuffle beyond the span aggregate's.

    ``pfps_df``: winnow_match_spans' precomputed-positioned-frame seam,
    passed through (round 16 — the composed builds' staging dial)."""
    spans = winnow_match_spans(
        df, id_col, text_col, k=k, w=w, threshold=threshold,
        portable=portable, max_fingerprint_df=max_fingerprint_df,
        pfps_df=pfps_df,
    )
    return _scrub_spans(
        df, id_col, text_col,
        spans.select(F.col("id_b").alias("_sid"), "b_start", "b_end"),
    )


@functools.lru_cache(maxsize=None)
def _scrub_spans_kernel():
    """Arrow-vectorized twin of the per-char span-union scrub (round-15
    optimization, guide §4.2): the former formulation was TWO interpreted
    per-character HOFs per row (F.exists over the span list for every
    position, once for the kept characters and once for n_cut) — O(len ×
    spans) CodegenFallback arithmetic that profiled as ~170 s of task
    time inside q_corpus_build_scrub at sf0.1. The kernel computes the
    identical per-char coverage with one bytearray mask per row.

    Value-identical by construction (pinned by
    tests/test_dedup.py::test_scrub_spans_kernel_matches_hof): covered
    positions are the 1-based i with any b_start <= i <= b_end (span
    positions never exceed the text — pos + k - 1 <= len — and overlaps
    need no merging under a per-char mask); null span list → text
    unchanged with n_cut 0; null text under a non-null span list → null
    scrubbed / null n_cut, exactly the when/otherwise chain's output."""

    @F.pandas_udf("struct<scrubbed:string,n_cut:int>")
    def _scrub(norm: pd.Series, spans: pd.Series) -> pd.DataFrame:
        out_s: list = []
        out_c: list = []
        for nrm, sp in zip(norm, spans):
            if sp is None:
                out_s.append(nrm)
                out_c.append(0)
                continue
            if nrm is None:
                out_s.append(None)
                out_c.append(None)
                continue
            n = len(nrm)
            if n < 1:
                out_s.append(nrm)
                out_c.append(0)
                continue
            mask = bytearray(n)
            for s in sp:
                a = s["b_start"]
                b = s["b_end"]
                if a < 1:
                    a = 1
                if b > n:
                    b = n
                if b >= a:
                    mask[a - 1:b] = b"\x01" * (b - a + 1)
            out_s.append(
                "".join(ch for ch, m in zip(nrm, mask) if not m)
            )
            out_c.append(sum(mask))
        return pd.DataFrame(
            {"scrubbed": out_s, "n_cut": pd.array(out_c, dtype="Int32")}
        )

    # guide §4.4: stop the optimizer duplicating the kernel under pushed
    # filters on its output (pure function — values unchanged)
    return _scrub.asNondeterministic()


def _scrub_spans(
    df: DataFrame, id_col: str, text_col: str, spans: DataFrame
) -> DataFrame:
    """The scrub stage of every span-scrub surface — winnow_span_scrub,
    winnow_scrub_against_index and the streaming scrub ledger, each
    feeding its own verified pairs: ``spans`` holds one ``(_sid,
    b_start, b_end)`` row per pair (``_sid`` the doc losing the span);
    each doc loses the per-char UNION of its spans and counts them in
    ``n_spans``. One aggregate on ``_sid``, then _scrub_covered_spans."""
    per_doc = spans.groupBy("_sid").agg(
        F.collect_list(F.struct("b_start", "b_end")).alias("_spans"),
        F.count(F.lit(1)).cast("int").alias("n_spans"),
    )
    return _scrub_covered_spans(df, id_col, text_col, per_doc)


def _scrub_covered_spans(
    df: DataFrame, id_col: str, text_col: str, per_doc: DataFrame
) -> DataFrame:
    """Cut the per-char UNION of each doc's covering spans (``per_doc``:
    ``_sid, _spans array<struct<b_start,b_end>>, n_spans`` — _scrub_spans'
    aggregate) out of its normalized text. Docs absent from ``per_doc``
    return whole with ``n_cut = 0``. Scan arithmetic per row
    (Arrow-vectorized — see _scrub_spans_kernel) — no shuffle of its
    own."""
    c = F.col(text_col)
    norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    out = (
        df.select(F.col(id_col), norm.alias("_norm"))
        .join(per_doc, on=F.col(id_col) == F.col("_sid"), how="left")
        .drop("_sid")
    )
    # stage the struct ONCE, extract fields in a second projection — two
    # direct field references would be two copies of the UDF expression
    staged = out.withColumn(
        "_res", _scrub_spans_kernel()(F.col("_norm"), F.col("_spans"))
    )
    return staged.select(
        F.col(id_col),
        F.col("_res")["scrubbed"].alias("scrubbed"),
        F.col("_res")["n_cut"].alias("n_cut"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
    )


def winnow_index(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    portable: bool = False,
) -> DataFrame:
    """The persistent rolling-hash near-dup index: one row per doc with
    its winnowed fingerprint set (``_id, fps``) — what an incremental
    pipeline stores (partitioned however ingest likes; the prober only
    ever scans it). Docs below ``k`` normalized characters have no
    overlap defined and are excluded, exactly as in winnow_pairs."""
    from .text import winnow_fingerprints

    return (
        _ensure_parallelism(
            df.select(F.col(id_col).alias("_id"), F.col(text_col))
        )
        .select(
            "_id",
            winnow_fingerprints(
                text_col, k=k, w=w, portable=portable, alias="fps"
            ),
        )
        .filter(F.size("fps") > 0)
    )


def winnow_dedup_against_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
    max_fingerprint_df: "int | None" = None,
    batch_fps: "DataFrame | None" = None,
) -> DataFrame:
    """Incremental rolling-hash near dedup: keep the batch docs that are
    not a verified near-duplicate (fingerprint Jaccard >= ``threshold``)
    of ANY corpus doc in a persisted ``winnow_index`` — the winnowing
    member of the incremental family (exact / bloom / minhash / URL /
    semantic). Candidates are pairs sharing >= 1 selected fingerprint
    (lossless for any threshold > 0, and winnowing guarantees a shared
    fingerprint for any shared substring of length >= w+k-1), then the
    exact-Jaccard verify makes precision exact.

    One scan of the index (_winnow_probe): the batch's fingerprint sets
    are collected on the driver, one ``mapInArrow`` pass over the index
    verifies every (index doc, batch doc) pair that shares a
    fingerprint, and the driver applies the cap to the verified pairs.
    The probe runs when this function is CALLED, so the matched ids are
    driver-side rows by the time it returns; the returned frame is
    ``batch`` minus those ids, an ``isin`` filter with no join. Batch
    docs with no fingerprints (below ``k`` normalized chars) and NULL
    ids always survive.

    ``max_fingerprint_df``: stop-gram cap over the COMBINED (index ∪
    batch) document frequency. A verified pair whose every shared
    fingerprint is above the cap does not match (a fingerprint in d
    docs is boilerplate, and would be d² candidate rows in a join).
    Jaccard is always over the FULL fingerprint sets, so every match —
    and thus the drop decision — is value-exact; the only trade-off is
    recall for pairs whose every shared fingerprint is capped (the
    family's documented one).

    ``batch_fps`` (optional): a precomputed ``(_id, fps)`` frame for the
    batch (winnow_index's shape; empty sets allowed — they drop out
    here) so callers that already fingerprinted the batch skip the
    re-hash."""
    matched = _winnow_matched_ids(
        batch, index, id_col, text_col, k, w, threshold, portable,
        max_fingerprint_df, batch_fps,
    )
    ids = [r[0] for r in local_rows_of(matched)]
    if not ids:
        return batch
    c = F.col(id_col)
    return batch.filter(c.isNull() | ~c.isin(ids))


def _winnow_matched_ids(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
    max_fingerprint_df: "int | None" = None,
    batch_fps: "DataFrame | None" = None,
) -> DataFrame:
    """The distinct ``id_col`` values of the batch docs that
    winnow_dedup_against_index drops — the verified near-duplicates of
    some index doc — as a sorted local frame: _winnow_probe over the
    value sets (``index`` may be ``(_id, fps)`` or positioned ``(_id,
    pfps)``; only its values are read)."""
    if batch_fps is None:
        batch_fps = winnow_index(batch, id_col, text_col, k, w, portable)
    pairs = _winnow_probe(
        batch_fps, index, False, k, threshold, max_fingerprint_df
    )
    ids = sorted({r.id_batch for r in local_rows_of(pairs)})
    return local_frame(
        batch.sparkSession, [(i,) for i in ids],
        StructType([StructField(id_col, batch_fps.schema["_id"].dataType)]),
    )


def _fp_arrays(arr) -> "tuple[np.ndarray, np.ndarray, np.ndarray | None]":
    """``(lens, values, positions)`` of an Arrow fingerprint column,
    flattened row-major: ``list<bigint>`` value sets (positions None) or
    positioned ``list<struct<fp, pos>>`` sets. A NULL list is empty."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    lens = pc.list_value_length(arr).fill_null(0).to_numpy(zero_copy_only=False)
    flat = arr.flatten()
    if not pa.types.is_struct(flat.type):
        return lens.astype(np.int64), flat.to_numpy(), None
    fp, pos = (pc.struct_field(flat, f).to_numpy() for f in ("fp", "pos"))
    return lens.astype(np.int64), fp, pos.astype(np.int64)


def _fp_groups(key: np.ndarray, pos: "np.ndarray | None"):
    """The distinct values of ``key`` (sorted) with their multiplicity
    and, when ``pos`` is given, their min and max position."""
    order = np.lexsort((key,) if pos is None else (pos, key))
    ks = key[order]
    new = np.ones(len(ks), dtype=bool)
    new[1:] = ks[1:] != ks[:-1]
    first = np.flatnonzero(new)
    last = np.r_[first[1:], len(ks)][: len(first)] - 1
    lo = hi = None
    if pos is not None:
        lo, hi = pos[order][first], pos[order][last]
    return ks[first], last - first + 1, lo, hi


def _distinct_per_row(rows: np.ndarray, vals: np.ndarray, n: int) -> np.ndarray:
    """The number of distinct values in each of ``n`` rows — the set
    sizes of a Jaccard (positioned rows repeat a value)."""
    order = np.lexsort((vals, rows))
    rs, vs = rows[order], vals[order]
    new = np.ones(len(rs), dtype=bool)
    new[1:] = (rs[1:] != rs[:-1]) | (vs[1:] != vs[:-1])
    return np.bincount(rs[new], minlength=n)


def _distinct_pairs(ids, codes: np.ndarray, nu: int):
    """The distinct ``(i, c)`` rows of ids and fingerprint codes, and
    the number of distinct ids per code (a positioned document
    frequency; NULL ids count once, as Spark's ``distinct`` does)."""
    import pyarrow as pa

    t = pa.table({"i": ids, "c": codes}).group_by(["i", "c"]).aggregate([])
    return t, np.bincount(t.column("c").to_numpy(), minlength=nu)


_PROBE_COLS = (
    ("_r", "long"), ("_iid", None), ("_b", "int"), ("_c", "int"),
    ("_n", "long"), ("_lo", "int"), ("_hi", "int"), ("_jac", "double"),
    ("_ns", "int"),
)


def _probe_rows(id_type, n: int, **cols):
    """One Arrow batch of _winnow_scan's output: each ``_PROBE_COLS``
    column from ``cols`` (an Arrow or numpy array, or a scalar for every
    row), NULL where absent. ``_b`` tags the row: a batch row index on a
    verified pair row (``_jac`` set) or an unverified candidate pair
    (``_jac`` NULL), -1 on an ``(_iid, _c)`` document-frequency row, -2
    on a ``(_c, _n)`` document-frequency count."""
    import pyarrow as pa

    arrow = {"long": pa.int64(), "int": pa.int32(), "double": pa.float64()}
    fields = [
        pa.field(c, id_type if t is None else arrow[t]) for c, t in _PROBE_COLS
    ]
    arrays = []
    for f in fields:
        v = cols.get(f.name)
        if v is None:
            arrays.append(pa.nulls(n, f.type))
        elif isinstance(v, pa.Array):
            arrays.append(v)
        else:
            arrays.append(pa.array(np.resize(v, n), f.type))
    return pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))


def _ranges(starts: np.ndarray, cnts: np.ndarray):
    """The flat indices of the ranges ``[starts[i], starts[i] +
    cnts[i])``, each with its range number ``i``."""
    owner = np.repeat(np.arange(len(cnts)), cnts)
    return owner, np.repeat(starts - np.cumsum(cnts) + cnts, cnts) + np.arange(
        cnts.sum()
    )


def _winnow_scan(batch: dict, threshold, positioned, max_df):
    """The ``mapInArrow`` function of _winnow_probe's one pass over the
    index ``(_id, fps|pfps)``. ``batch`` holds the batch side: ``uni``
    its sorted distinct fingerprints (a fingerprint's position in it is
    its code), ``key`` its sorted distinct ``row * len(uni) + code``
    groups, ``n`` each batch row's set size, ``csr``/``indptr`` the
    batch rows holding each code and ``df`` (under a cap) its document
    frequency per code.

    Candidate pairs come from the codes not already known to be capped
    — known when this Arrow batch's own index frequency plus the
    batch's exceeds the cap, a lower bound of the total — so a
    boilerplate fingerprint costs no pair expansion; each candidate's
    shared count then adds the capped codes both rows hold, so Jaccard
    stays over the full sets. A candidate below ``threshold`` is emitted
    as one ``(_iid, _b)`` row, so the driver can tell when a same-id
    sibling of a verified row owes that pair its anchors."""
    uni, bkey, n_b = batch["uni"], batch["key"], batch["n"]
    nu, nb = len(uni), len(n_b)
    lookup = pd.Index(uni)  # a hash probe, ~5x a searchsorted of uni

    def scan(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        # _r: a row key unique across partitions (partition id high bits)
        base = TaskContext.get().partitionId() << 40
        dfc = np.zeros(nu, dtype=np.int64)
        listed = []
        id_type = None
        for rb in batches:
            n, ids = rb.num_rows, rb.column(0)
            id_type = ids.type
            lens, vals, pos = _fp_arrays(rb.column(1))
            rows = np.repeat(np.arange(n), lens)
            code = lookup.get_indexer(vals)
            hit = code >= 0
            gkey, gcnt, glo, ghi = _fp_groups(
                rows[hit] * nu + code[hit], pos[hit] if positioned else None
            )
            g_row, g_code = gkey // nu, gkey % nu
            hot = np.zeros(nu, dtype=bool)
            if max_df is not None:
                if positioned:
                    t, local = _distinct_pairs(ids.take(g_row), g_code, nu)
                    listed.append(t)
                else:
                    local = np.bincount(g_code, minlength=nu)
                    dfc += local
                hot = _over_cap(local + batch["df"], max_df)
            live = np.flatnonzero(~hot[g_code])
            # one (index row, batch row, code) triple per shared live code
            owner, at = _ranges(
                batch["indptr"][g_code[live]],
                np.diff(batch["indptr"])[g_code[live]],
            )
            g_of, t_b = live[owner], batch["csr"][at]
            pairs, inv, n_sh = np.unique(
                g_row[g_of] * nb + t_b, return_inverse=True, return_counts=True
            )
            if not len(pairs):
                base += n
                continue
            if len(live) < len(gkey):  # add the shared capped codes
                hkey = bkey[hot[bkey % nu]]
                hptr = np.searchsorted(hkey // nu, np.arange(nb + 1))
                p_of, at = _ranges(hptr[pairs % nb], np.diff(hptr)[pairs % nb])
                want = (pairs // nb)[p_of] * nu + hkey[at] % nu
                found = gkey[np.minimum(np.searchsorted(gkey, want), len(gkey) - 1)]
                n_sh = n_sh + np.bincount(p_of[found == want], minlength=len(pairs))
            n_i = _distinct_per_row(rows, vals, n)
            jac = n_sh / (n_i[pairs // nb] + n_b[pairs % nb] - n_sh)
            ok = jac >= threshold
            sel = np.flatnonzero(ok[inv])
            if len(sel):
                g, p = g_of[sel], inv[sel]
                yield _probe_rows(
                    id_type, len(sel), _r=base + g_row[g],
                    _iid=ids.take(g_row[g]), _b=t_b[sel], _c=g_code[g],
                    _n=gcnt[g], _jac=jac[p], _ns=n_sh[p],
                    **({"_lo": glo[g], "_hi": ghi[g]} if positioned else {}),
                )
            if not ok.all():  # unverified candidates: one id row each
                miss = pairs[~ok]
                yield _probe_rows(
                    id_type, len(miss), _iid=ids.take(miss // nb), _b=miss % nb
                )
            base += n
        if listed:
            # positioned frequency = distinct ids: list them up to the
            # cap, past it only their count (the total is over it anyway)
            t = pa.concat_tables(listed)
            t, dfc = _distinct_pairs(t.column("i"), t.column("c"), nu)
            codes = t.column("c").to_numpy()
            keep = ~_over_cap(dfc, max_df)[codes]
            if keep.any():
                yield _probe_rows(
                    id_type, int(keep.sum()), _b=-1, _c=codes[keep],
                    _iid=t.column("i").filter(keep).combine_chunks(),
                )
            dfc[~_over_cap(dfc, max_df)] = 0
        hot = np.flatnonzero(dfc)
        if len(hot):
            yield _probe_rows(id_type, len(hot), _b=-2, _c=hot, _n=dfc[hot])

    return scan


def _winnow_probe(
    bfp: DataFrame,
    index: DataFrame,
    positioned: bool,
    k: int,
    threshold: float,
    max_df: "int | None",
) -> DataFrame:
    """THE committed-side winnow probe of both incremental tiers — the
    value-set drop tier (_winnow_matched_ids) and the positioned
    span/scrub/evidence tier (winnow_spans_against_index). Returns the
    verified (index row, batch row) pairs of the batch fingerprint frame
    ``bfp`` ``(_id, fps|pfps)`` against ``index`` ``(_id, fps|pfps)`` as
    a local frame ``(id_index, id_batch, jaccard, n_shared, n_anchors,
    i_start, i_end, b_start, b_end)``; the positions are NULL unless
    ``positioned``. It runs when called, in three steps:

    1. The batch's fingerprints are collected on the driver. A batch
       with none returns no pairs without touching the index.
    2. One ``mapInArrow`` pass over the index (_winnow_scan): each
       row's fingerprints are matched against the batch's set, every
       batch row sharing one is verified by exact Jaccard over the two
       full distinct sets, and only verified pairs are emitted — one
       row per shared fingerprint with its count and min/max position
       in the index row. With a cap, each partition also emits its
       document frequency of the batch's fingerprints: index rows per
       fingerprint for value sets, distinct index ids for positioned
       sets (the definitions the joins this replaced counted by).
    3. The driver adds the batch's own document frequency, applies the
       cap (_over_cap, the predicate _stop_grams uses) and, per
       ``(id_index, id_batch)``, sums ``n_anchors`` (Σ index count ×
       batch count) and takes the covering spans over the UNCAPPED
       shared fingerprints of the verified rows; an id pair with none
       is not reported. One row is returned per verified row pair.

    So a probe is two Spark jobs (the batch collect, the index pass)
    plus whatever the caller does with the bounded result. NULL ids
    never pair (the equi-joins this replaced never matched them) but do
    count towards document frequencies. Anchors aggregate per id pair
    over EVERY row holding the ids, as the joins did: when a row of a
    verified id pair has a same-id sibling that is only a candidate
    (a duplicated ``_id``), the pass also emits that candidate and a
    third job rescans the rows of those ids for their anchors."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import DoubleType, IntegerType, LongType

    spark = bfp.sparkSession
    out_schema = StructType([
        StructField("id_index", index.schema["_id"].dataType),
        StructField("id_batch", bfp.schema["_id"].dataType),
        StructField("jaccard", DoubleType()),
        StructField("n_shared", IntegerType()),
        StructField("n_anchors", LongType()),
        *(StructField(c, IntegerType())
          for c in ("i_start", "i_end", "b_start", "b_end")),
    ])
    btab = bfp.select("_id", bfp.columns[1]).toArrow()
    blens, bvals, bpos = _fp_arrays(btab.column(1))
    keep = np.flatnonzero(blens > 0)
    if not len(keep):
        return local_frame(spark, [], out_schema)
    bids = btab.column(0).take(keep)
    brow = np.repeat(np.arange(len(keep)), blens[keep])
    uni = np.unique(bvals)
    nu = len(uni)
    bkey, bcnt, blo, bhi = _fp_groups(
        brow * nu + np.searchsorted(uni, bvals), bpos if positioned else None
    )
    b_row, b_code = bkey // nu, bkey % nu
    by_code = np.lexsort((b_row, b_code))
    b_df = None
    if max_df is not None:  # rows for value sets, distinct ids positioned
        b_df = (_distinct_pairs(bids.take(b_row), b_code, nu)[1] if positioned
                else np.bincount(b_code, minlength=nu))
    id_ddl = index.schema["_id"].dataType.simpleString()
    ddl = ", ".join(f"{c} {id_ddl if t is None else t}" for c, t in _PROBE_COLS)
    side = {"uni": uni, "key": bkey, "df": b_df,
            "n": np.bincount(b_row, minlength=len(keep)),
            "csr": b_row[by_code],
            "indptr": np.searchsorted(b_code[by_code], np.arange(nu + 1))}
    fcol = "pfps" if "pfps" in index.columns else "fps"

    def scan(frame: DataFrame, thr: float):
        got = frame.select("_id", fcol).mapInArrow(
            _winnow_scan(side, thr, positioned, max_df), ddl
        ).toArrow()
        return got, _pair_rows(got, bids)

    got, found = scan(index, threshold)
    capped = np.zeros(nu, dtype=bool)
    if max_df is not None:
        # the index's: the -2 counts plus the distinct listed ids
        counts = got.filter(pc.equal(got.column("_b"), -2))
        listed = got.filter(pc.equal(got.column("_b"), -1))
        capped = _over_cap(
            np.bincount(counts.column("_c").to_numpy(), minlength=nu,
                        weights=counts.column("_n").to_numpy())
            + _distinct_pairs(listed.column("_iid"), listed.column("_c"), nu)[1]
            + b_df,
            max_df,
        )

    keys = ["_iid", "_bid"]
    verified = found.filter(pc.is_valid(found.column("_jac")))
    owed = (
        found.filter(pc.is_null(found.column("_jac"))).select(keys)
        .join(verified.select(keys), keys, join_type="left semi")
        .group_by(keys).aggregate([])
    )
    sources = verified
    if owed.num_rows:
        # an id pair verified by one row and a candidate of another row
        # with the same id (an index or batch holding a duplicated id):
        # the id pair's anchors are every row's, so rescan the rows of
        # those ids with every candidate verified
        ids = pc.unique(owed.column("_iid")).to_pylist()
        _, again = scan(index.filter(F.col("_id").isin(ids)), 0.0)
        sources = pa.concat_tables([
            t.join(owed, keys, join_type=how).select(found.column_names)
            for t, how in ((verified, "left anti"), (again, "left semi"))
        ])
    b, c = (sources.column(x).to_numpy().astype(np.int64) for x in ("_b", "_c"))
    bg = np.searchsorted(bkey, b * nu + c)  # the batch (row, code) group
    acols = {"_iid": sources.column("_iid"), "_bid": sources.column("_bid"),
             "n_anchors": sources.column("_n").to_numpy() * bcnt[bg]}
    aggs = [("n_anchors", "sum")]
    if positioned:
        acols.update(i_start=sources.column("_lo"), i_end=sources.column("_hi"),
                     b_start=blo[bg], b_end=bhi[bg])
        aggs += [("i_start", "min"), ("i_end", "max"),
                 ("b_start", "min"), ("b_end", "max")]
    per_pair = pa.table(acols).filter(~capped[c]).group_by(keys).aggregate(aggs)
    anchors = pa.table({
        **{x: per_pair.column(x) for x in keys},
        **{x: per_pair.column(f"{x}_{f}") for x, f in aggs},
    })
    out = (
        verified.select(["_r", "_b", *keys, "_jac", "_ns"])
        .group_by(["_r", "_b", *keys, "_jac", "_ns"]).aggregate([])
        .join(anchors, keys, join_type="inner")
        .sort_by([("_r", "ascending"), ("_b", "ascending")])
    )
    cols = [out.column(x).to_pylist() for x in (*keys, "_jac", "_ns", "n_anchors")]
    if positioned:
        for x in ("i_start", "i_end", "b_start", "b_end"):
            v = out.column(x).to_numpy().astype(np.int64)
            cols.append((v + (k - 1) if x.endswith("end") else v).tolist())
    else:
        cols += [[None] * out.num_rows] * 4
    return local_frame(spark, list(zip(*cols)), out_schema)


def _pair_rows(got, bids):
    """The pair rows (``_b >= 0``) of a _winnow_scan output with the
    batch id of each (``_bid``), minus those whose index or batch id is
    NULL: the equi-joins this replaced never paired a NULL id."""
    import pyarrow.compute as pc

    pr = got.filter(pc.greater_equal(got.column("_b"), 0))
    pr = pr.append_column("_bid", bids.take(pr.column("_b")))
    return pr.filter(pc.and_(pc.is_valid(pr.column("_iid")),
                             pc.is_valid(pr.column("_bid"))))


def winnow_pos_index(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    portable: bool = False,
) -> DataFrame:
    """The POSITIONED rolling-hash near-dup index: one row per doc with
    its robust-winnowing positioned fingerprints (``_id, pfps`` where
    ``pfps`` is ``array<struct<fp bigint, pos int>>`` —
    text.winnow_fingerprints(robust=True), the SIGMOD'03 §5 selection).
    The positional superset of winnow_index: distinct ``fp`` values equal
    the plain winnowed set (so every winnow_index consumer's semantics
    are derivable), and the positions enable MATCH-SPAN evidence in the
    incremental tier (winnow_spans_against_index) — where in each
    committed doc the overlap with a new batch sits, the MOSS offset-pair
    use case applied to an append-only corpus. Docs below ``k``
    normalized characters have no fingerprints and are excluded, as in
    winnow_index."""
    from .text import winnow_fingerprints

    return (
        _ensure_parallelism(
            df.select(F.col(id_col).alias("_id"), F.col(text_col))
        )
        .select(
            "_id",
            winnow_fingerprints(
                text_col, k=k, w=w, portable=portable, robust=True,
                alias="pfps",
            ),
        )
        .filter(F.size("pfps") > 0)
    )


def _pos_vals(pfps: Column | str) -> Column:
    """Distinct fingerprint VALUES of a positioned set — the plain
    winnowed set (robust selections are window minima, so their distinct
    values provably equal plain winnowing's; tested)."""
    c = F.col(pfps) if isinstance(pfps, str) else pfps
    return F.array_distinct(F.transform(c, lambda s: s["fp"]))


def winnow_spans_against_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
    max_fingerprint_df: "int | None" = None,
    batch_pfps: "DataFrame | None" = None,
) -> DataFrame:
    """Incremental match-span localization: for every (committed doc,
    new batch doc) pair whose fingerprint Jaccard verifies at
    ``threshold``, WHERE the shared content sits in each side — the
    winnow_match_spans evidence produced against a persisted
    ``winnow_pos_index`` instead of re-pairing the corpus. What an
    append-only overlap/plagiarism report runs per ingest: the corpus is
    never re-fingerprinted, only scanned.

    Output per pair: ``id_index, id_batch, jaccard, n_shared,
    n_anchors, i_start, i_end, b_start, b_end`` (1-based inclusive
    covering spans over each side's NORMALIZED text; index side = the
    committed/earlier doc, the match_spans ``a`` side).

    One scan of the index (_winnow_probe, shared with the drop tier):
    the batch's positioned fingerprints are collected on the driver,
    one ``mapInArrow`` pass over the index verifies each pair and emits
    the shared fingerprints' index counts and positions for verified
    pairs only, and the driver finishes the cap, ``n_anchors`` and the
    spans. The probe runs when this function is CALLED; the returned
    frame is a local frame of the verified pairs.

    Cap semantics follow winnow_dedup_against_index, not
    winnow_match_spans: ``max_fingerprint_df`` (combined index ∪ batch
    DOCUMENT frequency) bounds the anchors, but ``jaccard`` /
    ``n_shared`` are over the FULL distinct-value sets, so they — and
    therefore which pairs report — are VALUE-EXACT; only ``n_anchors``
    and the covering spans are computed over uncapped anchors (capped
    fingerprints are boilerplate by definition — their spans are the
    ones you don't want widening the evidence). A pair whose every
    shared fingerprint is capped is not reported — the family's
    documented recall trade-off.

    ``batch_pfps`` (optional): a precomputed positioned frame for the
    batch (winnow_pos_index's shape) so callers that already
    fingerprinted it skip the re-hash."""
    if batch_pfps is None:
        batch_pfps = winnow_pos_index(batch, id_col, text_col, k, w, portable)
    return _winnow_probe(
        batch_pfps, index, True, k, threshold, max_fingerprint_df
    )


def winnow_scrub_against_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
    max_fingerprint_df: "int | None" = None,
    batch_pfps: "DataFrame | None" = None,
) -> DataFrame:
    """Passage-level DECONTAMINATION / incremental span scrub: for every
    batch doc, cut the per-char union of the covering spans it shares
    with ANY committed doc in a persisted ``winnow_pos_index`` — the
    surgical alternative to the drop-tier ``decontaminate`` /
    ``winnow_dedup_against_index`` when a training doc merely QUOTES a
    benchmark or boilerplate passage and the rest is worth keeping. The
    committed side (the benchmark set, or the already-ingested corpus)
    is never modified and never re-fingerprinted — only scanned, by
    winnow_spans_against_index's one-pass probe.

    Output ``(id, scrubbed, n_cut, n_spans)`` for EVERY batch doc
    (winnow_span_scrub's contract: unmatched docs return their
    normalized text whole, ``n_spans`` counts the verified index pairs
    that contributed spans). Cap semantics inherit from
    winnow_spans_against_index: the drop/scrub DECISION (jaccard) is
    value-exact under ``max_fingerprint_df``; the spans themselves come
    from uncapped anchors."""
    spans = winnow_spans_against_index(
        batch, index, id_col, text_col, k=k, w=w, threshold=threshold,
        portable=portable, max_fingerprint_df=max_fingerprint_df,
        batch_pfps=batch_pfps,
    )
    return _scrub_spans(
        batch, id_col, text_col,
        spans.select(F.col("id_batch").alias("_sid"), "b_start", "b_end"),
    )


def winnow_pos_index_write(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    portable: bool = False,
) -> None:
    """Persist a positioned winnow index — the text-side analog of
    ``ivf_pq_index_write``'s build-once / add-batches / probe-forever
    lifecycle. Layout:

    - ``{path}/meta.json`` — the fingerprint parameters (k, w, portable,
      id column name/type). Probes and adds MUST reuse them (a probe
      hashed with different k/w shares no fingerprints with the index
      and silently matches nothing), so they are stored once at build
      and loaded everywhere else — the faiss saved-model contract
      applied to text hashing.
    - ``{path}/fps.parquet`` — one row per doc: ``(_id, pfps)`` robust
      positioned fingerprints (winnow_pos_index's shape; empty-set docs
      excluded there)."""
    pfps = winnow_pos_index(df, id_col, text_col, k=k, w=w, portable=portable)
    pfps.write.mode("overwrite").parquet(f"{path}/fps.parquet")
    meta = {
        "k": int(k), "w": int(w), "portable": bool(portable),
        "id_col": id_col,
        "id_type": dict(df.dtypes)[id_col],
    }
    # through the Hadoop FS API, beside fps.parquet: a driver-local
    # write would land in a bogus local directory for an s3a/hdfs index
    index_store.write_meta(df.sparkSession, path, meta)
    index_store.clear_on_rebuild(df.sparkSession, path)


def winnow_pos_index_add(
    spark,
    path: str,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incrementally ADD documents to a persisted positioned winnow
    index: new docs are fingerprinted with the SAVED parameters (never
    the caller's — a silent k/w mismatch would make every future probe
    miss) and appended to the same layout. Mirrors ``ivf_pq_index_add``,
    including the id-type guard (appending a second id type writes a
    mixed-schema parquet that later probes surface as nulls)."""
    ix = _open_winnow_index(spark, path)
    ix.check_add(df, id_col)
    pfps = winnow_pos_index(df, id_col, text_col, **ix.params)
    pfps.write.mode("append").parquet(f"{path}/fps.parquet")


def winnow_index_compact(
    spark, path: str, target_file_bytes: int = 128 << 20
) -> dict:
    """Compact a persisted positioned winnow index through
    index_store.compact, the lifecycle the ANN index shares: each
    ``winnow_pos_index_add`` appends its own files to ``fps.parquet``,
    so after N small adds every probe's scan schedules ~N tiny tasks.
    Rewrites the layout into ``ceil(bytes / target_file_bytes)``
    size-bounded files (fps.parquet is unpartitioned — probes scan all
    of it by design, so file COUNT is the only knob); ``meta.json`` is
    untouched. Probe results are bit-identical before and after (the
    span/dedup probes aggregate over the whole index — row order never
    reaches the output; tested). Crash-bounded swap + row-count verify,
    and the physical delete of tombstoned docs.

    Returns ``{"files_before", "files_after", "rows", "removed_rows"}``."""

    def rewrite(tmp: str, live_bytes: int) -> None:
        # sized from the LIVE bytes, not the physical bytes — a compact
        # right after a large removal would otherwise over-shard the
        # surviving rows far below target_file_bytes
        n_files = max(1, -(-live_bytes // max(1, int(target_file_bytes))))
        live = _open_winnow_index(spark, path).fps
        live.repartition(n_files).write.parquet(tmp)

    return index_store.compact(
        spark, path, "fps.parquet", "winnow_index_compact", rewrite
    )


def winnow_index_add_batch(
    spark,
    path: str,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> bool:
    """One IDEMPOTENT micro-batch ADD to a persisted positioned winnow
    index — the exactly-once form of ``winnow_pos_index_add`` (which is
    plain at-least-once: a replayed foreachBatch append would duplicate
    its fingerprint rows, double-counting every future probe's document
    frequencies). The mechanism is index_store.add_batch, shared with
    the ANN index: stage the batch's pfps, rename the staged files into
    ``fps.parquet`` under a ``b{batch_id}-`` prefix, advance the add
    manifest LAST; replays of committed batches skip, crashed batches
    self-clean their prefix files on redo. Fingerprints use the SAVED
    parameters, after the add guards (``_WinnowIndex.check_add``)."""

    def stage(staging: str) -> None:
        ix = _open_winnow_index(spark, path)
        ix.check_add(batch_df, id_col)
        winnow_pos_index(
            batch_df, id_col, text_col, **ix.params
        ).write.mode("overwrite").parquet(staging)

    return index_store.add_batch(spark, path, "fps.parquet", batch_id, stage)


class _WinnowIndex:
    """A persisted positioned winnow index as its surfaces use it, from
    ``_open_winnow_index``:

    - ``meta``: the saved fingerprint parameters and id column
      (``params`` is its ``k``/``w``/``portable`` as keyword arguments);
    - ``fps``: the LIVE ``(_id, pfps)`` frame (_read_index_fps), read on
      first use, so a surface that needs only the parameters schedules
      no read;
    - ``check_add(df, id_col)``: the add surfaces' guards — the batch's
      id type must match the index's, and no batch id may be
      tombstoned."""

    def __init__(self, spark, path: str, meta: dict):
        self.spark, self.path, self.meta = spark, path, meta
        self.params = {k: meta[k] for k in ("k", "w", "portable")}

    @functools.cached_property
    def fps(self) -> DataFrame:
        return _read_index_fps(self.spark, self.path)

    def check_add(self, df: DataFrame, id_col: str) -> None:
        id_type = dict(df.dtypes)[id_col]
        if id_type != self.meta["id_type"]:
            raise ValueError(
                f"batch id column {id_col!r} has type {id_type} but the "
                f"index was built with {self.meta['id_type']}; cast the "
                "batch ids"
            )
        index_store.refuse_tombstoned(
            self.spark, self.path, df, id_col, "winnow_index_compact"
        )


def _open_winnow_index(spark, path: str) -> _WinnowIndex:
    """THE persisted winnow-index open: the probes (spans, scrub,
    dedup), the adds, remove, stats, compact, the append-only streaming
    dedup job and the CLI read an index through here — the saved meta
    (a ValueError when ``meta.json`` is missing) and the live positioned
    frame."""
    return _WinnowIndex(spark, path, index_store.read_meta(spark, path))


def _value_sets(pfps: DataFrame) -> DataFrame:
    """A positioned ``(_id, pfps)`` frame as plain value sets ``(_id,
    fps)`` — the drop tiers' form of the same index (_pos_vals)."""
    return pfps.select("_id", _pos_vals("pfps").alias("fps"))


def _read_index_fps(spark, path: str) -> DataFrame:
    """The LIVE fingerprint set of a persisted positioned winnow index:
    ``fps.parquet`` minus any tombstoned doc ids (winnow_index_remove).
    Every surface reads it through ``_open_winnow_index``, so a removed
    doc stops matching — and stops SUPPRESSING near-dups — immediately,
    before the physical delete that the next winnow_index_compact
    performs. No tombstones → the plain scan (plus the parallelism
    spread), zero other overhead.

    _ensure_parallelism matters HERE specifically: winnow_index_compact
    rewrites fps.parquet into size-targeted files, so a compacted
    moderate index scans as very few tasks while the consumers explode
    fingerprints and run candidate joins — measured at the 100x stress
    decade, the probe over a one-file compacted index serialized to
    15.7 s vs 3.9 s fragmented; the spread restores the fan-out and is
    a no-op once files outnumber cores (the production case)."""
    return index_store.read_live(
        spark, path, "fps.parquet", prepare=_ensure_parallelism
    )


def winnow_index_remove(spark, path: str, ids, id_col: "str | None" = None) -> dict:
    """Remove documents from a persisted positioned winnow index (the
    takedown leg) through index_store.remove, shared with the ANN index:
    logical O(removed) tombstone append now, physical delete folded into
    the next winnow_index_compact. A removed doc immediately stops
    matching in every probe AND stops suppressing near-dups in the
    incremental dedup tiers — exactly what honoring a takedown requires
    (its content is no longer in the corpus, so it must not veto a
    re-crawl). Idempotent. Until the next compact a tombstoned id cannot be
    re-added (the add surfaces refuse — the anti-join would suppress the
    new row too).

    ``ids``: a DataFrame carrying the index's id column (``id_col``
    defaults to the saved meta's), or a plain iterable of id values.

    Returns ``{"requested", "matched_live", "tombstoned_total"}``."""
    ix = _open_winnow_index(spark, path)
    return index_store.remove(
        spark, path, ids, ix.fps,
        id_col=id_col or ix.meta.get("id_col", "doc_id"),
        id_type=ix.meta["id_type"],
        tomb_col="_id",
        verb="winnow_index_remove",
    )


def winnow_index_stats(spark, path: str) -> dict:
    """Layout report for a persisted positioned winnow index — the
    ann_index_stats twin: meta parameters, fingerprinted docs (LIVE —
    tombstoned ids excluded, what probes see), pending tombstones, data
    files/bytes (the fragmentation signal that schedules
    winnow_index_compact)."""
    from ..io import hadoop_data_file_stats

    ix = _open_winnow_index(spark, path)
    target = f"{path}/fps.parquet"
    n_files, n_bytes = hadoop_data_file_stats(spark, target)
    n_tomb = index_store.pending_tombstones(spark, path)
    return {
        **ix.params,
        "id_type": ix.meta["id_type"],
        "docs": ix.fps.count(),
        "tombstones": n_tomb,
        "data_files": n_files,
        "data_bytes": n_bytes,
    }


def winnow_index_spans(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_fingerprint_df: "int | None" = None,
) -> DataFrame:
    """Localize a new batch's overlap spans against a persisted
    positioned winnow index (winnow_spans_against_index over the saved
    layout, fingerprint parameters loaded from the index meta). The
    index parquet is scanned once, at the call (_winnow_probe); the
    result is a local frame of the verified pairs."""
    ix = _open_winnow_index(spark, path)
    return winnow_spans_against_index(
        batch, ix.fps, id_col, text_col, threshold=threshold,
        max_fingerprint_df=max_fingerprint_df, **ix.params,
    )


def winnow_index_scrub(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_fingerprint_df: "int | None" = None,
) -> DataFrame:
    """Passage-level decontamination against a persisted positioned
    winnow index (winnow_scrub_against_index over the saved layout)."""
    ix = _open_winnow_index(spark, path)
    return winnow_scrub_against_index(
        batch, ix.fps, id_col, text_col, threshold=threshold,
        max_fingerprint_df=max_fingerprint_df, **ix.params,
    )


def winnow_index_dedup(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_fingerprint_df: "int | None" = None,
) -> DataFrame:
    """Incremental near DEDUP against a persisted positioned winnow
    index: the positioned sets reduce losslessly to the value sets
    (distinct fp — provably the plain winnowed set), so the drop tier
    (winnow_dedup_against_index) runs over the same index the span
    tiers probe — one persisted artifact serves all three actions.

    One scan of the index, at the call: _winnow_probe collects the
    batch's fingerprints, verifies every pair in one ``mapInArrow`` pass
    over the index and applies the cap on the driver (the combined
    index ∪ batch document frequency, unchanged); the returned frame is
    the batch filtered by ``isin`` over the matched ids, so its own
    action re-reads only the batch."""
    ix = _open_winnow_index(spark, path)
    return winnow_dedup_against_index(
        batch, _value_sets(ix.fps), id_col, text_col, threshold=threshold,
        max_fingerprint_df=max_fingerprint_df, **ix.params,
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_signature(shingles_col: Column | str, num_hashes: int = 32) -> Column:
    """Deterministic minhash signature (array<bigint>, length num_hashes):
    base hash xxhash64(shingle) mod p; family h_i(x) = (a_i x + b_i) mod p.
    Empty shingle set -> signature of p (never matches a real min)."""
    sc = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col
    base = F.transform(sc, lambda s: F.pmod(F.xxhash64(s), F.lit(_MINHASH_PRIME)))
    return _minhash_family(base, num_hashes)


def minhash_from_hashes(hashes_col: Column | str, num_hashes: int = 32) -> Column:
    """Minhash signature from a precomputed array<bigint> of shingle hashes."""
    hc = F.col(hashes_col) if isinstance(hashes_col, str) else hashes_col
    base = F.transform(hc, lambda h: F.pmod(h, F.lit(_MINHASH_PRIME)))
    return _minhash_family(base, num_hashes)


def _minhash_family(base: Column, num_hashes: int) -> Column:
    """The (a_i*h + b_i) mod p min-family over a base-hash array, as an
    Arrow-vectorized kernel: the relational form was ``num_hashes``
    array_min(transform(...)) expressions, i.e. an interpreted
    (CodegenFallback) HOF loop of num_hashes x |shingles| per row — the
    same per-row-loop tier similarity.py moves to numpy kernels. All
    arithmetic is exact int64 (h < 2^31, coefficients < 2^26, so products
    stay < 2^57) and numpy's % matches pmod on non-negative ints, so the
    signatures are bit-identical to the former expressions and to the SQL
    oracle. Empty arrays keep the all-p sentinel signature."""
    p = _MINHASH_PRIME
    coeff_a = np.array([2 * i + 1 for i in range(num_hashes)], dtype=np.int64)
    coeff_b = np.array(
        [1000003 * i + 12345 for i in range(num_hashes)], dtype=np.int64
    )

    @F.pandas_udf("array<bigint>")
    def _mh(hs: pd.Series) -> pd.Series:
        if hs.empty:
            return pd.Series([], dtype=object)
        # None elements (null text -> null shingle array) behave like empty
        # arrays: the row keeps the all-p sentinel signature, matching the
        # former coalesce(array_min(transform(...)), p) expression.
        arrs = [np.asarray(a if a is not None else [], dtype=np.int64) for a in hs]
        lens = np.array([len(a) for a in arrs], dtype=np.int64)
        out = np.full((len(arrs), num_hashes), p, dtype=np.int64)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate([a for a, keep in zip(arrs, nz) if keep])
            ends = np.cumsum(lens[nz])
            offsets = np.empty_like(ends)
            offsets[0] = 0
            offsets[1:] = ends[:-1]
            for i in range(num_hashes):
                vals = (flat * coeff_a[i] + coeff_b[i]) % p
                out[nz, i] = np.minimum.reduceat(vals, offsets)
        return pd.Series(list(out))

    return _mh(base)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified by exact Jaccard.

    r = num_hashes/bands rows per band; P(candidate | jaccard=j) =
    1-(1-j^r)^bands — with 32/8 (r=4): j=0.5 -> 0.41, j=0.8 -> 0.98.
    Candidates join on (band, band-signature hash): the shuffle is
    O(docs x bands), never all-pairs. Verification joins the two shingle
    sets back and computes exact Jaccard, so precision is exact.

    ``portable=True`` switches the shingle hash to portable_hash60 and the
    band signature to the plain comma-joined minhash string, making every
    stage reproducible in portable SQL (the oracle-checked corpus path);
    the default keeps xxhash64 for both (cheaper shuffle key).
    """
    rows_per_band = num_hashes // bands
    hash_fn = portable_hash60 if portable else F.xxhash64
    # hashed shingle sets: verification compares 64-bit hashes, not strings
    # (cheaper to shuffle/compare; collision odds negligible)
    hashed = (
        _ensure_parallelism(df.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", shingles_of(text_col, n))
        .select(
            "_id",
            F.array_distinct(F.transform("shingles", lambda s: hash_fn(s))).alias("hs"),
        )
        # empty shingle sets (docs shorter than n tokens) have no Jaccard
        # defined (0/0) and would all band-match on the all-p signature
        .filter(F.size("hs") > 0)
    )
    # lazy cache shared by the signature branch and both verification sides
    # (same measurement + ownership note as ngram_jaccard_pairs); signatures
    # are per-row expressions — no extra shuffle, measured faster than an
    # explode+groupBy signature stage at sf0.1
    hashed.cache()
    sig = hashed.select("_id", minhash_from_hashes("hs", num_hashes).alias("minhash"))

    def band_sig(b: int) -> Column:
        joined = F.concat_ws(",", F.slice("minhash", b * rows_per_band + 1, rows_per_band))
        return joined if portable else F.xxhash64(joined)

    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_sig(b).alias("sig"))
            for b in range(bands)
        ]
    )
    # the banded candidate join carries only (id, band, sig) — the shingle
    # sets are re-joined afterwards, so the LSH shuffle payload stays tiny
    banded = sig.select("_id", F.explode(band_structs).alias("bs")).select(
        "_id", "bs.band", "bs.sig"
    )
    a = banded.select(F.col("_id").alias("id_a"), "band", "sig")
    b = banded.select(F.col("_id").alias("id_b"), "band", "sig")
    cand = (
        a.join(b, on=["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = (
        cand.join(hashed.select(F.col("_id").alias("id_a"), F.col("hs").alias("hs_a")), "id_a")
        .join(hashed.select(F.col("_id").alias("id_b"), F.col("hs").alias("hs_b")), "id_b")
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    union = F.size(F.array_union("hs_a", "hs_b")).cast("double")
    return verified.select("id_a", "id_b", (inter / union).alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """The persistent NEAR-dup index: one row per doc with its hashed
    shingle set and minhash signature — what an incremental pipeline
    stores (partitioned however ingest likes; the prober only ever scans
    it). Docs shorter than ``n`` tokens have no Jaccard defined and are
    excluded, exactly as in minhash_lsh_pairs."""
    hash_fn = portable_hash60 if portable else F.xxhash64
    return (
        _ensure_parallelism(df.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", shingles_of(text_col, n))
        .select(
            "_id",
            F.array_distinct(
                F.transform("shingles", lambda s: hash_fn(s))
            ).alias("hs"),
        )
        .filter(F.size("hs") > 0)
        .select("_id", "hs", minhash_from_hashes("hs", num_hashes).alias("minhash"))
    )


def _banded_signatures(
    sig: DataFrame, num_hashes: int, bands: int, portable: bool
) -> DataFrame:
    """(id, band, sig) rows from a minhash-signature table — the LSH
    bucket keys (same banding as minhash_lsh_pairs)."""
    rows_per_band = num_hashes // bands

    def band_sig(b: int) -> Column:
        joined = F.concat_ws(
            ",", F.slice("minhash", b * rows_per_band + 1, rows_per_band)
        )
        return joined if portable else F.xxhash64(joined)

    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_sig(b).alias("sig"))
            for b in range(bands)
        ]
    )
    return sig.select("_id", F.explode(band_structs).alias("bs")).select(
        "_id", "bs.band", "bs.sig"
    )


def near_dedup_against_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Incremental NEAR dedup: keep the batch docs that are not a verified
    near-duplicate (exact Jaccard >= threshold) of ANY corpus doc in a
    persisted ``minhash_index``. The fuzzy twin of dedup_against_index —
    per-ingest near-dedup that never re-pairs the corpus against itself.

    Probe inversion, same as the exact path: the index is corpus-sized,
    the batch an increment, so every join broadcasts the BATCH side and
    the index is only ever scanned:

    1. batch signatures band-match against the index's banded signatures
       — ``index_banded JOIN broadcast(batch_banded)``; candidate pairs
       are bounded by true near-dups + band collisions, never all-pairs;
    2. the exact-Jaccard verify joins each side's shingle sets back
       (index side again via broadcast of the candidate ids);
    3. survivors = batch ANTI broadcast(matched batch ids). Batch docs
       with no shingles (shorter than ``n`` tokens) have no Jaccard and
       always survive.

    Zero index-side Exchange (pinned by tests/test_sketches.py-style plan
    audit in tests/test_dedup.py); LSH recall bounds are those of
    minhash_lsh_pairs (1-(1-j^r)^bands).
    """
    bsig = minhash_index(batch, id_col, text_col, num_hashes, n, portable)
    bsig = bsig.localCheckpoint(eager=False)  # reused by bands + verify
    batch_banded = _banded_signatures(bsig, num_hashes, bands, portable)
    index_banded = _banded_signatures(
        index.select(F.col("_id"), "minhash"), num_hashes, bands, portable
    )
    cand = (
        index_banded.withColumnRenamed("_id", "_iid")
        .join(
            F.broadcast(batch_banded.withColumnRenamed("_id", "_bid")),
            on=["band", "sig"],
        )
        .select("_bid", "_iid")
        .dropDuplicates(["_bid", "_iid"])
    )
    verified = (
        index.select(F.col("_id").alias("_iid"), F.col("hs").alias("hs_i"))
        .join(F.broadcast(cand), "_iid")
        .join(
            F.broadcast(bsig.select(F.col("_id").alias("_bid"), F.col("hs").alias("hs_b"))),
            "_bid",
        )
    )
    inter = F.size(F.array_intersect("hs_b", "hs_i")).cast("double")
    union = F.size(F.array_union("hs_b", "hs_i")).cast("double")
    matched = (
        verified.filter((inter / union) >= threshold)
        .select(F.col("_bid").alias(id_col))
        .distinct()
    )
    return batch.join(F.broadcast(matched), on=id_col, how="anti")


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def token_hashes(col: Column | str, portable: bool = False) -> Column:
    """Per-token hashes (array<bigint>): xxhash64 by default, portable_hash60
    for the oracle-checked variant (bits 60-63 are then structurally zero, so
    the top nibble of the simhash votes uniformly negative — harmless)."""
    hash_fn = portable_hash60 if portable else F.xxhash64
    return F.transform(tokens(col), lambda t: hash_fn(t))


def simhash_from_token_hashes(th_col: Column | str, alias: str = "simhash") -> Column:
    """64-bit SimHash from a token-hash array column: each of the 64 bit
    positions takes a +1/-1 vote per token, sign of the vote sum sets the
    signature bit. Pure aggregate HOFs; vote sums bounded by token count."""
    th = F.col(th_col) if isinstance(th_col, str) else th_col

    def vote(i: int) -> Column:
        # closure factory: PySpark HOF lambdas must take exactly (acc, x)
        def merge(acc: Column, h: Column) -> Column:
            bit = F.shiftright(h, i).bitwiseAND(F.lit(1))
            return acc + F.when(bit == 1, 1).otherwise(-1)

        return F.aggregate(th, F.lit(0).cast("long"), merge)

    # shiftleft(1L, 63) == Long.MIN_VALUE — a python literal 1<<63 would
    # overflow the long literal range
    bit_exprs = [
        F.when(vote(i) > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(64)
    ]
    return functools.reduce(lambda a, b: a.bitwiseOR(b), bit_exprs).alias(alias)


def simhash_kernel():
    """Arrow-vectorized 64-bit SimHash of a token-hash array column.

    SimHash is per-document state: every bit's vote sum only needs that
    row's token hashes, so the round-4 explode + groupBy(64 conditional
    sums) shape paid a shuffle and a 64-aggregate hash-aggregation for what
    is a pure map (it was the second-slowest bench query at sf0.1). The
    kernel flattens the batch's ragged hash arrays once, then per bit does
    one shift/mask pass and an np.add.reduceat per-row sum — exact int64
    arithmetic, and numpy's arithmetic >> matches F.shiftright on negative
    hashes, so signatures are bit-identical to the relational form and the
    SQL oracle. Memory stays O(total_tokens) per batch (the bit loop reuses
    one flat vector instead of materializing a (tokens, 64) matrix).

    Empty or null arrays yield simhash 0 — callers that previously relied
    on explode() dropping token-less docs must filter size(...) > 0."""

    @F.pandas_udf("long")
    def _simhash(th: pd.Series) -> pd.Series:
        if th.empty:
            return pd.Series([], dtype=np.int64)
        arrs = [np.asarray(a if a is not None else [], dtype=np.int64) for a in th]
        lens = np.array([len(a) for a in arrs], dtype=np.int64)
        sig = np.zeros(len(arrs), dtype=np.uint64)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate([a for a, keep in zip(arrs, nz) if keep])
            sig[nz] = _simhash_votes(flat, lens)
        # view, not astype: bit 63 set means the value exceeds int64 range,
        # reinterpreting the bits reproduces Spark's shiftleft(1L, 63)
        return pd.Series(sig.view(np.int64))

    return _simhash


def _simhash_votes(flat: "np.ndarray", lens: "np.ndarray") -> "np.ndarray":
    """Pack per-row sign-of-vote bits from a flattened token-hash vector.
    ``flat`` concatenates the hash arrays of rows with lens > 0; returns one
    uint64 signature per non-empty row. One shift/mask pass + reduceat per
    bit keeps memory O(total_tokens) instead of a (tokens, 64) matrix."""
    nz_lens = lens[lens > 0]
    ends = np.cumsum(nz_lens)
    offsets = np.empty_like(ends)
    offsets[0] = 0
    offsets[1:] = ends[:-1]
    sig = np.zeros(len(nz_lens), dtype=np.uint64)
    for i in range(64):
        ones = np.add.reduceat((flat >> i) & 1, offsets)
        # votes = ones - (len - ones); bit set iff votes > 0
        sig |= (2 * ones > nz_lens).astype(np.uint64) << np.uint64(i)
    return sig


def simhash_md5_kernel():
    """Arrow kernel: token array -> 64-bit SimHash under the PORTABLE hash,
    fused (md5 per token + bit votes) in one pass.

    The relational portable path evaluated md5/conv/substring inside a
    ``transform`` HOF — CodegenFallback, interpreted once PER TOKEN, which
    profiling showed was the actual cost of the simhash query (~3 s of
    single-core expression interpretation at sf0.1). hashlib.md5 of the
    UTF-8 token bytes with the first 15 hex digits as an int is exactly
    portable_hash60 (strings cast to binary as UTF-8 in both engines), so
    signatures stay bit-identical to the SQL oracle."""
    import hashlib

    @F.pandas_udf("long")
    def _sh(tk: pd.Series) -> pd.Series:
        if tk.empty:
            return pd.Series([], dtype=np.int64)
        lists = [t if t is not None else [] for t in tk]
        lens = np.array([len(t) for t in lists], dtype=np.int64)
        sig = np.zeros(len(lists), dtype=np.uint64)
        if (lens > 0).any():
            md5 = hashlib.md5
            flat = np.fromiter(
                (
                    int(md5(t.encode("utf-8")).hexdigest()[:15], 16)
                    for toks in lists
                    for t in toks
                ),
                dtype=np.int64,
                count=int(lens.sum()),
            )
            sig[lens > 0] = _simhash_votes(flat, lens)
        return pd.Series(sig.view(np.int64))

    return _sh


def simhash_table(
    df: DataFrame, id_col: str, text_col: str = "text", portable: bool = False
) -> DataFrame:
    """(id, simhash) signature table.

    A pure Arrow-kernel map over each doc's tokens — no shuffle (the former
    explode + 64-conditional-sum groupBy paid a full shuffle of the exploded
    token table for what is per-row state). The portable variant fuses the
    md5 token hash into the kernel (simhash_md5_kernel) because the
    transform-HOF hash was interpreted per token; the xxhash64 default keeps
    the JVM hash (no public bit-exact Python twin) and feeds the hash array
    to the vote kernel. Docs with no tokens are dropped, matching the former
    explode semantics.
    """
    base = _ensure_parallelism(df.select(F.col(id_col).alias("_id"), F.col(text_col)))
    if portable:
        with_tk = base.select("_id", tokens(text_col).alias("_tk")).filter(
            F.size("_tk") > 0
        )
        return with_tk.select(
            F.col("_id").alias(id_col), simhash_md5_kernel()(F.col("_tk")).alias("simhash")
        )
    with_th = base.select("_id", token_hashes(text_col, portable).alias("_th")).filter(
        F.size("_th") > 0
    )
    return with_th.select(
        F.col("_id").alias(id_col), simhash_kernel()(F.col("_th")).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Pigeonhole banding: split the 64-bit signature into ``bands`` chunks; any
    pair within hamming <= bands-1 shares at least one exact chunk, so the
    candidate join on (band, chunk) is lossless for max_hamming < bands.
    Verify with bit_count(a XOR b).
    """
    width = 64 // bands
    mask = (1 << width) - 1
    sig = simhash_table(df, id_col, text_col, portable).withColumnRenamed(id_col, "_id")
    # Both sides of the banded self-join (and nothing else) consume sig; a
    # lazy cache stops the signature subtree — dominated by the per-token
    # md5 in the portable hash — from being computed once per side. Tiny:
    # one (id, simhash) row per doc. Same ownership pattern as
    # minhash_lsh_pairs' hashed.cache(). (Eager re-measured round 15:
    # 0.45→1.0 s — loses.)
    sig.cache()
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select("_id", "simhash", F.explode(chunk_structs).alias("bc")).select(
        "_id", "simhash", "bc.band", "bc.chunk"
    )
    a = banded.select(F.col("_id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "chunk")
    b = banded.select(F.col("_id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "chunk")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    # compute hamming BEFORE the per-pair dedup and cut failing pairs early:
    # the multi-band duplicates that survive to the dedup shuffle are only
    # the actual near-dups, and min() over the (identical) hamming copies is
    # a cheaper aggregate than carrying both signatures through first()
    return (
        a.join(b, on=["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("_hm"))
        .filter(F.col("_hm") <= max_hamming)
        .groupBy("id_a", "id_b")
        .agg(F.min("_hm").alias("hamming"))
    )


# --------------------------------------------------------------------------
# duplicate clusters (connected components over near-dup pairs)
# --------------------------------------------------------------------------

def _star_contract(
    edges: DataFrame,
    max_iter: int,
    num_partitions: int | None,
    stats: dict | None,
) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm): O(log^2 n) rounds on ANY graph shape, including long
    chains where min-label propagation needs diameter-many rounds.

    - large-star(u): every neighbor v > u re-points to m = min(N(u) ∪ {u})
    - small-star(u), on (big -> small) directed edges: u and all its
      smaller neighbors point to m = min(smaller neighbors)
    One full round is two join+aggregate pairs composed LAZILY (a single
    localCheckpoint materializes both), so a round costs one execution plus
    the convergence probe. Convergence is exact: both edge sets are
    deduplicated, so new ⊆ old (empty exceptAll) with equal counts means
    equal; the count is only computed once the subset test passes. At the
    fixpoint the edge set IS the star graph (v -> component min), so labels
    fall out of the final edges directly.

    Input: canonical (a=bigger, b=smaller) deduplicated edges, no self
    loops. Output: (id, comp) for every vertex present in ``edges``."""

    def _part(df: DataFrame, key: str) -> DataFrame:
        return df.repartition(num_partitions, key) if num_partitions else df

    edges = _part(edges, "a").localCheckpoint()
    for _ in range(max_iter):
        # large-star over the symmetric adjacency
        sym = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).select(F.col("a").alias("u"), F.col("b").alias("v"))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("_mn", F.col("u")).alias("_m"))
        )
        ls = (
            sym.join(_part(mins, "u"), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("_m").alias("b"))
            .dropDuplicates(["a", "b"])
        )
        # small-star over (big -> small) edges
        smins = ls.groupBy("a").agg(F.min("b").alias("_m"))
        ss = (
            ls.join(_part(smins, "a"), "a")
            .select(F.col("b").alias("na"), F.col("_m").alias("nb"))
            .union(smins.select(F.col("a").alias("na"), F.col("_m").alias("nb")))
            .filter(F.col("na") != F.col("nb"))
            .select(
                F.greatest(F.col("na"), F.col("nb")).alias("a"),
                F.least(F.col("na"), F.col("nb")).alias("b"),
            )
            .dropDuplicates(["a", "b"])
        )
        new_edges = _part(ss, "a").localCheckpoint()
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + 1
        unchanged = (
            new_edges.exceptAll(edges).limit(1).count() == 0
            and new_edges.count() == edges.count()
        )
        edges = new_edges
        if unchanged:
            break
    # fixpoint stars: every non-min vertex has exactly the edge (v, min);
    # component mins appear only as b
    a_side = edges.select(F.col("a").alias("id"), F.col("b").alias("comp"))
    b_side = edges.select(F.col("b").alias("id"), F.col("b").alias("comp")).distinct()
    return a_side.union(b_side)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    out_col: str = "doc_id",
    max_iter: int = 50,
    num_partitions: int | None = None,
    stats: dict | None = None,
    propagation_rounds: int = 4,
) -> DataFrame:
    """Connected components over a near-dup pair table -> (out_col,
    component), component = MIN id reachable from the vertex. This is the
    step that turns pairwise near-dup output into actionable dedup clusters
    (keep the component min, drop the rest) — pairs alone under-delete when
    duplicates chain A~B~C without A~C.

    Two-phase hybrid, matching the two real graph shapes:

    Phase 1 — min-label propagation for up to ``propagation_rounds``
    rounds. Near-dup graphs are overwhelmingly dense blobs with tiny
    diameter; propagation converges there in 2-4 of the cheapest possible
    rounds (one join + one hash aggregation each, convergence probed by a
    strictly-decreasing exact-decimal label sum — labels only decrease, and
    int64 would overflow at 1e12 docs x 1e12 ids).

    Phase 2 — if propagation hasn't converged, the diameter is large
    (transitive duplicate CHAINS from template drift: v1~v2~...~vN). The
    remaining graph is first QUOTIENTED by the phase-1 labels (label(u) is
    reachable from u, so contracting label-classes preserves components
    and shrinks the graph by the propagated radius), then resolved by the
    large-star/small-star contraction (_star_contract) in O(log^2 n)
    rounds. Measured on a 1000-vertex path graph: pure propagation needs
    999 synchronous rounds, pure contraction 11; this hybrid needs 4 + 11
    (the quotient halves the path but contraction rounds scale with log of
    the CHAIN length, so the propagation prefix buys little there — its
    value is keeping dense-blob workloads, i.e. every real dup graph, on
    the 2-cheap-jobs-per-round path with zero contraction overhead).

    ``num_partitions`` sizes the per-round shuffles. The dup-pair graph is
    orders of magnitude smaller than the corpus (only near-duplicates emit
    pairs), so callers should size it to the PAIR volume, not the corpus —
    with the session default (32 here, thousands on a real cluster) a
    500-vertex graph pays ~10x its compute in empty-task overhead per
    round.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # Symmetrize with ONE explode per pair row, not union(e, e.reversed):
    # the union's two branches each re-evaluate the upstream pair plan
    # during the checkpoint materialization below, and the pair input is
    # typically the EXPENSIVE half (a near-dup candidate join) — measured
    # 2x the whole workload's cost on the q_dedup_clusters shape.
    edges = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .dropDuplicates(["src", "dst"])
    )
    if num_partitions is not None:
        edges = edges.repartition(num_partitions, "dst")
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
    )
    if num_partitions is not None:
        labels = labels.repartition(num_partitions, "id")
    labels = labels.localCheckpoint()
    prev_sum = labels.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).first()[0]
    converged = False
    for _ in range(min(propagation_rounds, max_iter)):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("comp").alias("_nmin"))
        )
        labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
            .select(
                labels["id"],
                F.least(
                    labels["comp"], F.coalesce(F.col("_nmin"), labels["comp"])
                ).alias("comp"),
            )
            .localCheckpoint()
        )
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + 1
        cur_sum = labels.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # quotient by phase-1 labels, contract, map back
        la = labels.select(F.col("id").alias("src"), F.col("comp").alias("_la"))
        lb = labels.select(F.col("id").alias("dst"), F.col("comp").alias("_lb"))
        qedges = (
            edges.join(la, "src")
            .join(lb, "dst")
            .select(
                F.greatest(F.col("_la"), F.col("_lb")).alias("a"),
                F.least(F.col("_la"), F.col("_lb")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates(["a", "b"])
        )
        qcomp = _star_contract(
            qedges, max_iter - propagation_rounds, num_partitions, stats
        ).select(F.col("id").alias("_qid"), F.col("comp").alias("_qcomp"))
        labels = labels.join(
            qcomp, labels["comp"] == F.col("_qid"), "left"
        ).select("id", F.coalesce("_qcomp", "comp").alias("comp"))
    return labels.select(F.col("id").alias(out_col), F.col("comp").alias("component"))


# --------------------------------------------------------------------------
# benchmark decontamination
# --------------------------------------------------------------------------

def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Benchmark decontamination: drop every corpus document sharing at
    least one word n-gram with any benchmark document (the GPT-3/Llama
    training-data hygiene step — eval contamination inflates benchmark
    scores, so contaminated TRAINING docs are removed, not the benchmark).

    Scale shape: the benchmark shingle-hash set is tiny relative to the
    corpus (eval suites are MBs against 100 TB), so it is broadcast and the
    contamination test is a broadcast semi-join on a pure corpus scan — no
    corpus-wide shuffle; the distinct contaminated-id set is again small and
    broadcast back for the anti-join. Documents shorter than n tokens have
    no shingles and trivially survive. ``portable=True`` swaps xxhash64 for
    the md5-derived portable hash so the whole op is oracle-replayable.
    """
    hash_fn = portable_hash60 if portable else F.xxhash64
    bench_hashes = (
        benchmark.select(F.explode(shingles_of(text_col, n)).alias("_g"))
        .select(hash_fn(F.col("_g")).alias("_h"))
        .distinct()
    )
    corpus_shingles = corpus.select(
        F.col(id_col), F.explode(shingles_of(text_col, n)).alias("_g")
    ).select(id_col, hash_fn(F.col("_g")).alias("_h"))
    contaminated = (
        corpus_shingles.join(F.broadcast(bench_hashes), on="_h", how="semi")
        .select(id_col)
        .distinct()
    )
    return corpus.join(F.broadcast(contaminated), on=id_col, how="anti")


def contamination_report_ngram(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """The EVIDENCE side of :func:`decontaminate` — parity with the
    semantic screen's report/filter pair (similarity.contamination_report):
    for every corpus document the n-gram screen drops, report HOW MUCH it
    overlaps the benchmark (count of distinct shared ``n``-gram shingles)
    and one concrete example shingle — the audit trail a pipeline owner
    reads to distinguish true eval leakage from incidental phrase overlap
    before tuning ``n``.

    Same scale shape as the filter: the benchmark's distinct shingle set
    is tiny (eval suites are MBs against 100 TB) and broadcasts — here as
    the raw strings rather than hashes, since the report's purpose is
    human-readable evidence — onto one corpus scan, then ONE map-side-
    partial hash aggregate keyed by document id. min() over binary-collated
    lowercase shingles is engine-reproducible, so the report is fully
    oracle-checkable. Report ∪ decontaminate-survivors = corpus (they
    partition it, modulo xxhash collisions when the filter runs with
    portable=False)."""
    bench = (
        benchmark.select(F.explode(shingles_of(text_col, n)).alias("_g"))
        .distinct()
    )
    corp = corpus.select(
        F.col(id_col), F.explode(shingles_of(text_col, n)).alias("_g")
    )
    return (
        corp.join(F.broadcast(bench), on="_g")
        .groupBy(id_col)
        .agg(
            # shingles_of returns the DISTINCT shingle set per doc, so this
            # count is the distinct-overlap size with no extra distinct agg
            F.count(F.lit(1)).alias("n_shared_ngrams"),
            F.min("_g").alias("example_ngram"),
        )
    )


def repeated_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-level repeated-passage detection: word ``n``-gram spans that
    occur in at least ``min_docs`` DISTINCT documents.

    This is the shuffle-friendly stand-in for suffix-array exact-substring
    dedup (the ExactSubstr pass of corpus-dedup pipelines): any repeated
    substring of >= n tokens necessarily contains a repeated n-token span,
    so the span table locates a superset of the offending regions, and the
    spans themselves are what a masking/cutting pass consumes. The
    reference engine has no cross-document text analysis at all (its text
    columns are only groupBy keys — app/machine_learning_models.py), so
    this is part of the §7.4 training-data surface.

    Plan shape: one linear explode of overlapping spans (the same
    lookahead-regex pass as ``shingles_of`` — O(tokens) per doc, stays in
    codegen), then ONE hash aggregate keyed by the span with map-side
    partials (count-distinct over doc ids expands to two hash aggregates,
    both absorbing map-side). ``min(doc_id)`` rides along as the canonical
    occurrence pointer. No pairwise joins; linear in corpus token count,
    and the min_docs filter keeps output to the repeated head.
    """
    spans = df.select(
        F.col(id_col).alias("_id"),
        F.explode(ngram_occurrences(text_col, n)).alias("passage"),
    )
    return (
        spans.groupBy("passage")
        .agg(
            F.countDistinct("_id").alias("n_docs"),
            F.min("_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= F.lit(min_docs))
    )


def scrub_repeated_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """The consuming side of :func:`repeated_passages`: remove every
    cross-document repeated ``n``-token span from each document's text
    (ExactSubstr-style cut — boilerplate headers, license blocks, chain
    letters vanish from the corpus instead of being memorized).

    Plan shape: the repeated-passage table (small — the repeated head) is
    re-joined to the span explode to find which docs contain which
    passages, aggregated to a per-doc sorted passage list (ONE shuffle on
    doc id), LEFT-joined back to the corpus, and applied as a sorted
    left-fold of ``replace`` calls. The fold is an interpreted HOF but
    over the per-doc passage list (bounded, typically 0–3 elements), not
    the corpus — the per-row cost is O(passages), unlike the per-token
    HOFs the engine bans from hot paths. Sorting the list pins the fold
    order, so cascading replacements are deterministic and the DuckDB
    ``list_reduce`` twin is bit-identical.
    """
    rep = repeated_passages(df, id_col, text_col, n, min_docs).select("passage")
    spans = df.select(
        F.col(id_col).alias("_id"),
        F.explode(ngram_occurrences(text_col, n)).alias("passage"),
    ).distinct()
    per_doc = (
        spans.join(F.broadcast(rep), "passage")
        .groupBy("_id")
        .agg(F.array_sort(F.collect_set("passage")).alias("_ps"))
    )
    normalized = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    scrubbed = F.aggregate(
        F.coalesce(F.col("_ps"), F.array().cast("array<string>")),
        normalized,
        lambda acc, p: F.replace(acc, p, F.lit("")),
    )
    return (
        df.join(per_doc, df[id_col] == F.col("_id"), "left")
        .select(
            id_col,
            F.trim(F.regexp_replace(scrubbed, r"\s+", " ")).alias("clean_text"),
            F.coalesce(F.size("_ps"), F.lit(0)).cast("int").alias("n_scrubbed"),
        )
    )
