"""Structured Streaming jobs.

The reference has no streaming engine (SURVEY.md §2.9): its "monthly"
aggregate is calendar bucketing of a batch table re-run on demand. These
jobs are the incremental equivalents, so rollups, ledgers, sinks and
persisted indexes stay fresh without re-scanning history. Each job has
one of three shapes:

- Declarative stateful: the ``stream_*`` functions that RETURN a
  streaming DataFrame (windowed/keyed/enriched rollups, the exact / URL /
  SimHash / MinHash-LSH dedup tiers, sessionization, heavy hitters,
  quantile and count-min monitors, the interval join, BM25 hits). State
  lives in Spark's state store, bounded by the watermark; the caller
  picks the sink and the checkpoint (``run_to_memory`` in tests).
- Versioned ledger: one ``*_batch`` function per job maps the committed
  state to the next full state (merge_rollup_batch, scd2_merge_batch,
  corpus_append_batch, winnow_dedup_append_batch,
  winnow_scrub_append_batch, semantic_dedup_append_batch), and
  ``io.apply_versioned_batch`` owns the replay check and the atomic
  version commit.
- Batch-partition sink or index add: each micro-batch lands in the sink's
  ``_batch_id=`` partition through ``_write_batch_partition``
  (decontaminate_batch, ann_search_batch, decontaminate_spans_batch), or
  appends to a persisted index through ``index_store.add_batch``'s add
  manifest (stream_ann_index_add, stream_winnow_index_dedup, whose
  ``compact_every`` cadence lives in ``_run_index_add``).

Every foreachBatch job runs through ``_run_micro_batches``: the one
runner, and the one place that refuses to start a checkpoint-less query
over output an earlier run already committed.

The winnow streams share one decision step. ``_fingerprint_batch``
fingerprints each micro-batch once; ``_winnow_decide`` makes the
drop decision (plain or with drop evidence) for both the ledger job and
the append-only index job; ``_winnow_span_pairs`` gives the verified
span pairs that the evidence and the scrub ledger cut from. The
append-only job runs the index's add guards (id type, tombstoned ids)
before it writes its sink partition, then appends to the index.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import index_store
from ..io import apply_versioned_batch, hadoop_child_names, read_state_manifest
from ..operators.aggregates import misra_gries_merge
from ..operators.text import fingerprint, winnow_fingerprints


def read_events_stream(spark, path: str, schema) -> DataFrame:
    """File-source stream over a landing directory (one file per ingest
    batch — the shape sources/ingest.py produces)."""
    return spark.readStream.schema(schema).parquet(path)


def stream_windowed_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window count + sum with late-data watermark."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(27,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("window_start"), "n_events", "total_value")
    )


def stream_keyed_rollup(
    events: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """Running SUM by key (update-mode aggregate) — the incremental form of
    the reference's materialized rollup tables."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .agg(
            F.sum(F.col(value_col).cast("decimal(27,6)"))
            .cast("double")
            .alias("total_award_amount")
        )
    )


def stream_exact_dedup(
    docs: DataFrame,
    ts_col: str,
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Drop duplicate documents by normalized fingerprint; state expires past
    the watermark horizon."""
    with_fp = docs.withColumn("fingerprint", fingerprint(text_col))
    return with_fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )


def stream_url_dedup(
    docs: DataFrame,
    ts_col: str,
    url_col: str = "target_uri",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the crawl pipeline's URL tier
    (sources/warc.url_dedup): drop rows whose CANONICAL URL was already
    seen inside the watermark horizon — live crawl frontiers re-enqueue
    the same page under tracking-param/case/port noise constantly, so
    URL-level dedup is the first stateful stage of a streaming ingest.
    Rows with a null URL carry no URL identity and pass through
    untouched (union of the two branches; the text dedup tiers own
    them). State keys on the canonical URL string (bounded-small), and
    canonicalization itself is the stateless codegen projection —
    exactly the batch tier's arithmetic, so batch backfills and the
    stream agree row-for-row."""
    from ..sources.warc import canonicalize_url

    with_url = docs.filter(F.col(url_col).isNotNull()).withColumn(
        "canonical_url", canonicalize_url(url_col)
    )
    deduped = with_url.withWatermark(
        ts_col, watermark
    ).dropDuplicatesWithinWatermark(["canonical_url"]).drop("canonical_url")
    return deduped.unionByName(docs.filter(F.col(url_col).isNull()))


def stream_near_dedup_simhash(
    docs: DataFrame,
    ts_col: str,
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming NEAR-duplicate suppression: drop documents whose 64-bit
    SimHash collides with one already seen inside the watermark horizon.
    A sketch collision means the bit-vote profiles agree exactly — the
    hamming-0 tier of the batch near-dup family (operators/dedup.py
    simhash_pairs), which is what a single-pass streaming filter can decide
    without a candidate join. Lower hamming tiers stay a batch/backfill
    concern (banding needs a self-join; see the module docstring's state
    note). State per distinct sketch, expired by the watermark."""
    # signature via the batch operator's per-row expression path: token
    # hashes -> 64 bit votes folded per row (no shuffle — a streaming scan
    # must stay single-pass; the groupBy formulation simhash_table uses for
    # batch throughput would be a second stateful aggregation here)
    from ..operators.dedup import simhash_from_token_hashes, token_hashes

    sig = docs.withColumn("_th", token_hashes(text_col)).withColumn(
        "simhash", simhash_from_token_hashes("_th")
    ).drop("_th")
    return sig.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["simhash"]
    )


def stream_near_dedup_minhash_lsh(
    docs: DataFrame,
    ts_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    watermark: str = "1 hour",
    window: str = "10 minutes",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
) -> DataFrame:
    """Streaming banded MinHash-LSH near-dup suppression: a document is
    suppressed when ANY of its LSH band signatures collides with one
    already seen inside the watermark horizon — the full LSH candidate
    tier (P[collision | jaccard j] = 1-(1-j^r)^b, same banding math as the
    batch minhash_lsh_pairs), strictly stronger than the signature- or
    sketch-equality tiers (stream_exact_dedup / stream_near_dedup_simhash).

    Two chained stateful operators, both append-mode with watermarks
    (supported since Spark 4):
      1. explode the ``bands`` band signatures and
         dropDuplicatesWithinWatermark per (band, sig) bucket — the first
         arrival owns a bucket for the watermark horizon;
      2. tumbling-window per-document count of SURVIVING band rows — a
         document that kept all ``bands`` rows collided nowhere and is
         emitted when its window finalizes (all a doc's band rows share
         its event time, so they land in one window).
    Emission is delayed by window+watermark — the price of append-mode
    exactness; state is O(distinct band buckets) within the horizon.
    Backfills use the batch twin (minhash_lsh_pairs + dedup clusters),
    which also verifies exact Jaccard — the streaming tier suppresses LSH
    CANDIDATES (banding false-positive rate applies, tunable via
    num_hashes/bands).
    """
    from ..operators.dedup import minhash_signature, shingles_of

    rows_per_band = num_hashes // bands
    sig = (
        docs.withColumn("_sh", shingles_of(text_col, n))
        # empty shingle sets (< n tokens) have the all-p signature and
        # would band-match each other; exclude like the batch operator
        .filter(F.size("_sh") > 0)
        .withColumn("_mh", minhash_signature("_sh", num_hashes))
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(",", F.slice("_mh", b * rows_per_band + 1, rows_per_band))
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    exploded = sig.select(
        F.col(id_col), F.col(ts_col), F.explode(band_structs).alias("bs")
    ).select(id_col, ts_col, "bs.band", "bs.sig")
    # Same-WINDOW winner resolution must be DETERMINISTIC: feeding raw band
    # rows straight into dropDuplicatesWithinWatermark let two near-dup docs
    # arriving together each lose a different shared band to the other
    # (state-store update order is arrival order), so the whole duplicate
    # cluster could end with _kept < bands and NO surviving representative.
    # A windowed min-id pre-aggregation picks one winner per (window, band,
    # sig) bucket: the min doc id wins EVERY bucket it occupies, so an
    # isolated same-window duplicate cluster always keeps exactly its
    # min-id member. (A doc can still lose a band to a smaller-id doc from
    # another cluster — that is candidate-tier semantics: it collided with
    # something seen. The batch twin additionally verifies Jaccard.)
    bucket_winners = (
        exploded.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "band", "sig")
        .agg(F.min(id_col).alias(id_col))
    )
    # cross-window suppression: the first window to own a (band, sig)
    # bucket keeps it for the watermark horizon
    surviving_bands = bucket_winners.dropDuplicatesWithinWatermark(["band", "sig"])
    return (
        surviving_bands.groupBy(F.col("win"), F.col(id_col))
        .agg(F.count(F.lit(1)).alias("_kept"))
        .filter(F.col("_kept") == bands)
        .select(id_col, F.col("win.start").alias("window_start"))
    )


def stream_windowed_heavy_hitters(
    events: DataFrame,
    value_col: str = "event_type",
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "2 days",
    k: int = 20,
    num_shards: int = 4,
) -> DataFrame:
    """Per-event-time-window heavy-hitter candidates: the sharded
    Misra-Gries state of stream_heavy_hitters, keyed by
    (window_start, shard) instead of shard alone — "what was trending
    TODAY", not since the job started.

    Composition stays pure DataFrame ops: window bucketing + value
    sharding are codegen projections; the stateful summary is the same
    O(k)-per-group update kernel. Each (window, shard) group still sees
    ALL occurrences of its values within the window (values hash to one
    shard), so the superset guarantee is per-window exact. The watermark
    bounds state: groups whose window closed past the horizon stop
    receiving updates and their final emission stands as the window's
    candidate set — at 100 TB the live state is
    O(windows_in_horizon x num_shards x k), independent of stream length.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = (
        events.withWatermark(ts_col, watermark)
        .select(
            F.window(F.col(ts_col), window).start.alias("window_start"),
            F.col(value_col).cast("string").alias("_v"),
        )
        .filter(F.col("_v").isNotNull())
        .select(
            "window_start",
            "_v",
            F.pmod(F.xxhash64("_v"), F.lit(num_shards)).cast("int").alias("_shard"),
        )
    )

    def update(key, pdfs, state):
        if state.exists:
            vals, counts = state.get
            acc = pd.Series(list(counts), index=list(vals), dtype="float64")
        else:
            acc = None
        for pdf in pdfs:
            vc = pdf["_v"].value_counts().astype("float64")
            acc = misra_gries_merge(acc, vc, k)
        if acc is None:
            acc = pd.Series(dtype="float64")
        state.update((list(acc.index.astype(str)), [float(x) for x in acc.values]))
        yield pd.DataFrame(
            {
                "window_start": [key[0]] * len(acc),
                "shard": [int(key[1])] * len(acc),
                "value": acc.index.astype(str),
                "mg_count": acc.values,
            }
        )

    return keyed.groupBy("window_start", "_shard").applyInPandasWithState(
        update,
        outputStructType="window_start timestamp, shard int, value string, mg_count double",
        stateStructType="vals array<string>, counts array<double>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_sessionize(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization via session_window (gap-based merging
    windows) — the incremental twin of the batch lag+cumsum sessionizer
    (plans/corpus_ext.q_sessionize). State per open session, closed by the
    watermark once the gap passes."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def stream_running_topk(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    k: int = 5,
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per key, maintain
    the running top-k values across micro-batches (state = the k-element
    heap; O(k) state per key, Arrow-batched updates).

    This is the escape hatch the engine reserves for semantics the built-in
    streaming aggregates can't express (SURVEY.md §2.9 design note) — the
    state schema, timeout handling, and update-mode contract here are the
    template."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        top: list[float] = list(state.get[0]) if state.exists else []
        for pdf in pdfs:
            top.extend(float(v) for v in pdf[value_col])
        top = sorted(top, reverse=True)[:k]
        state.update((top,))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(top),
                "rank": range(1, len(top) + 1),
                "value": top,
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} string, rank int, value double",
        stateStructType="top array<double>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_heavy_hitters(
    events: DataFrame,
    value_col: str = "event_type",
    k: int = 20,
    num_shards: int = 8,
) -> DataFrame:
    """Streaming frequent-item detection: SHARDED Misra-Gries via
    applyInPandasWithState — the streaming twin of
    operators/aggregates.heavy_hitters.

    Every value hashes to exactly ONE shard (group key =
    pmod(xxhash64(value), num_shards)), so each shard's Misra-Gries summary
    sees ALL occurrences of its values and the batch guarantee carries
    over unchanged: an item with global count > N/k exceeds n_shard/k in
    its own shard (n_shard <= N) and therefore survives that shard's
    summary. Sharding is what makes the operator scale — state and update
    work spread over num_shards groups instead of one global summary, at
    zero cost to the guarantee (summaries never need cross-shard merging
    because their value sets are disjoint).

    State per shard: at most k (value, residual-count) counters. Update
    mode emits each shard's current survivors per micro-batch; residuals
    are MG lower-bound residuals (undercounts), so a consumer confirms
    candidates with an exact recount exactly as the batch operator does.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = events.select(
        F.col(value_col).cast("string").alias("_v")
    ).filter(F.col("_v").isNotNull()).select(
        "_v", F.pmod(F.xxhash64("_v"), F.lit(num_shards)).cast("int").alias("_shard")
    )

    def update(key, pdfs, state):
        if state.exists:
            vals, counts = state.get
            acc = pd.Series(list(counts), index=list(vals), dtype="float64")
        else:
            acc = None
        for pdf in pdfs:
            vc = pdf["_v"].value_counts().astype("float64")
            acc = misra_gries_merge(acc, vc, k)
        if acc is None:
            acc = pd.Series(dtype="float64")
        state.update((list(acc.index.astype(str)), [float(x) for x in acc.values]))
        yield pd.DataFrame(
            {
                "shard": [int(key[0])] * len(acc),
                "value": acc.index.astype(str),
                "mg_count": acc.values,
            }
        )

    return keyed.groupBy("_shard").applyInPandasWithState(
        update,
        outputStructType="shard int, value string, mg_count double",
        stateStructType="vals array<string>, counts array<double>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_quantile_monitor(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    delta: float = 200.0,
) -> DataFrame:
    """Streaming per-key quantile monitoring with t-digest state — the
    streaming twin of operators/sketches.tdigest_groups, sharing its
    _compress/_digest_quantiles kernels so batch and stream estimates
    agree on identical input.

    State per key is ONE digest (<= ~2*delta centroids as two double
    arrays) regardless of stream length — exactly the bounded-state
    property that makes running quantiles feasible in a stream where an
    exact percentile would need the full history. Each micro-batch folds
    its values into the digest (concat as weight-1 centroids, one
    re-compress) and emits the current estimates in update mode.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.sketches import _compress, _digest_quantiles

    q_list = [float(q) for q in qs]

    def update(key, pdfs, state):
        if state.exists:
            means, weights = state.get
            m = np.asarray(means, dtype=np.float64)
            w = np.asarray(weights, dtype=np.float64)
        else:
            m = np.empty(0)
            w = np.empty(0)
        for pdf in pdfs:
            vals = pdf[value_col].to_numpy(dtype=np.float64)
            vals = vals[~np.isnan(vals)]
            if vals.size:
                m, w = _compress(
                    np.r_[m, vals], np.r_[w, np.ones_like(vals)], delta
                )
        state.update(([float(x) for x in m], [float(x) for x in w]))
        est = _digest_quantiles(m, w, q_list)
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_seen": [float(w.sum())],
                **{
                    f"p{int(round(q * 100)):02d}": [float(e)]
                    for q, e in zip(q_list, est)
                },
            }
        )

    out_cols = ", ".join(
        f"p{int(round(q * 100)):02d} double" for q in q_list
    )
    ktype = events.schema[key_col].dataType.simpleString()
    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} {ktype}, n_seen double, {out_cols}",
        stateStructType="means array<double>, weights array<double>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_cms_monitor(
    tokens: DataFrame,
    token_col: str = "token",
    width: int = 1 << 12,
    depth: int = 4,
    num_shards: int = 8,
) -> DataFrame:
    """Streaming count-min frequency monitor — the streaming twin of
    operators/sketches.cms_build, completing the sketch quartet's
    streaming legs (t-digest: stream_quantile_monitor; Misra-Gries:
    stream_heavy_hitters; Bloom/fingerprints: stream_exact_dedup).

    Tokens hash-partition into DISJOINT shards (the stream_heavy_hitters
    sharding argument): each shard's state is ONE counter matrix
    (depth * width * 8 bytes — constant regardless of stream length)
    counting only its own tokens, so the per-shard CMS guarantee is the
    global guarantee for every token (a token lives in exactly one
    shard). Each micro-batch folds its tokens in (the same
    CountMinSketch kernel as the batch build, JVM-side xxhash64 pair)
    and emits the CURRENT estimate for the batch's distinct tokens in
    update mode. Estimates NEVER undercount the token's full stream
    history and overcount by <= e/width * shard_stream_size — drift-free
    running frequencies with bounded state, where exact counts would
    need unbounded per-token state."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.sketches import CountMinSketch, _hash_cols

    h1, h2 = _hash_cols(token_col)
    # shard on an INDEPENDENT hash (distinct seed): sharding on h1 %
    # num_shards correlates with the CMS row-0 position whenever
    # num_shards divides width (every token in shard s has h1 ≡ s mod
    # num_shards, collapsing row 0 to width/num_shards usable slots and
    # weakening the depth guarantee); null tokens carry no frequency to
    # monitor and are excluded (they would also break the per-batch
    # token sort)
    prepped = tokens.filter(F.col(token_col).isNotNull()).select(
        F.col(token_col),
        h1.alias("_h1"),
        h2.alias("_h2"),
        F.pmod(F.xxhash64(F.col(token_col), F.lit(2)), F.lit(num_shards))
        .cast("int")
        .alias("_shard"),
    )

    def update(key, pdfs, state):
        if state.exists:
            counts = (
                np.frombuffer(state.get[0], dtype=np.int64)
                .reshape(depth, width)
                .copy()
            )
        else:
            counts = np.zeros((depth, width), dtype=np.int64)
        sk = CountMinSketch(counts)
        seen: dict = {}
        for pdf in pdfs:
            if pdf.empty:
                continue
            a = pdf["_h1"].to_numpy(dtype=np.int64)
            b = pdf["_h2"].to_numpy(dtype=np.int64)
            sk.add_array(a, b)
            for t, x, y in zip(pdf[token_col], a, b):
                seen[t] = (x, y)
        state.update((sk.counts.tobytes(),))
        if not seen:
            return
        items = sorted(seen.items())
        est = sk.estimate(
            np.array([v[0] for _, v in items], dtype=np.int64),
            np.array([v[1] for _, v in items], dtype=np.int64),
        )
        yield pd.DataFrame(
            {
                token_col: [t for t, _ in items],
                "est_count": est.astype(np.int64),
            }
        )

    return prepped.groupBy("_shard").applyInPandasWithState(
        update,
        outputStructType=f"{token_col} string, est_count long",
        stateStructType="counts binary",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _session_walk(us, vv, gap_us: int, cur: list) -> tuple[list, list]:
    """Fold time-sorted (event-time-us, value) points into inactivity-gap
    sessions: returns (closed_sessions, open_session), each session a
    [start_us, last_us, n, total] list. Exclusive-end gap (a gap of
    exactly ``gap_us`` starts a new session — the q_session_window
    definition). ``cur`` carries the open session from prior batches (empty
    list if none). Module-level so the gap semantics are unit-testable
    without a running stream."""
    closed = []
    for t, v in zip(us, vv):
        t = int(t)
        if not cur:
            cur = [t, t, 1, float(v)]
        elif t - cur[1] >= gap_us:
            closed.append(cur)
            cur = [t, t, 1, float(v)]
        else:
            cur[0] = min(cur[0], t)
            cur[1] = max(cur[1], t)
            cur[2] += 1
            cur[3] += float(v)
    return closed, cur


def stream_sessionize_timers(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = 30,
    delay: str = "10 minutes",
) -> DataFrame:
    """Timer-driven sessionization on the transformWithState API (the
    Spark 4 arbitrary-state surface that supersedes applyInPandasWithState):
    a session CLOSES — and its one summary row EMITS — either when a later
    event for the key arrives past the inactivity gap (in-batch split via
    _session_walk) or, for keys that simply go quiet, when the event-time
    watermark passes last_event + gap and the registered timer fires.

    That push-on-timeout behavior is what the older state API cannot
    express (stream_sessionize only emits a session's row when a later
    event for the same key shows up or the query re-aggregates); here an
    idle key's timer fires with NO new input for the key, which is how a
    production funnel gets timely session records for churned users.

    Per-key state: ONE fixed-width tuple (start, last, count, sum — epoch
    micros as longs) plus ONE registered timer; both are dropped on emit,
    so state is bounded by the number of OPEN sessions, not stream length.
    The same inactivity-gap definition as stream_sessionize /
    q_session_window (exclusive end: a gap of exactly ``gap`` starts a new
    session).

    Runtime requirements (plan construction needs neither): the RocksDB
    state backend (streaming/state.enable_rocksdb_state — transformWithState
    supports no other provider) and the ``protobuf`` package (the
    state-server wire format; absent in this offline container, so the
    end-to-end test self-skips — construction and schema are still
    asserted).
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_ms = gap_minutes * 60_000

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.sess = handle.getValueState(
                "sess", "start_us long, last_us long, n long, total double"
            )

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np

            uss = []
            vals = []
            for pdf in rows:
                if pdf.empty:
                    continue
                s = pd.to_datetime(pdf[ts_col])
                if getattr(s.dt, "tz", None) is not None:
                    s = s.dt.tz_convert("UTC").dt.tz_localize(None)
                uss.append(s.astype("datetime64[us]").astype("int64").to_numpy())
                vals.append(pdf[value_col].fillna(0.0).to_numpy(dtype=np.float64))
            if not uss:
                return
            us = np.concatenate(uss)
            vv = np.concatenate(vals)
            order = np.argsort(us, kind="stable")
            us, vv = us[order], vv[order]
            # _session_walk splits on the inactivity gap, so a batch can
            # both CLOSE sessions (emitted here, not only from the timer)
            # and leave the last segment open. An event older than the
            # open session's span merges into it (aggregate state can't be
            # re-split); the watermark delay bounds how late such events
            # can be.
            cur = list(self.sess.get() or ())  # [start, last, n, total]
            closed, cur = _session_walk(
                us.tolist(), vv.tolist(), gap_ms * 1000, cur
            )
            self.sess.update(tuple(cur))
            for t in list(self.handle.listTimers()):  # materialize before
                self.handle.deleteTimer(t)            # mutating
            self.handle.registerTimer(cur[1] // 1000 + gap_ms)
            if closed:
                yield pd.DataFrame(
                    {
                        key_col: [key[0]] * len(closed),
                        "session_start_us": [c[0] for c in closed],
                        "session_end_us": [c[1] for c in closed],
                        "n_events": [c[2] for c in closed],
                        "total_value": [c[3] for c in closed],
                    }
                )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            st = self.sess.get()
            if st is None:
                return iter(())
            self.sess.clear()
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "session_start_us": [st[0]],
                    "session_end_us": [st[1]],
                    "n_events": [st[2]],
                    "total_value": [st[3]],
                }
            )

        def close(self) -> None:
            pass

    ktype = events.schema[key_col].dataType.simpleString()
    return (
        events.withWatermark(ts_col, delay)
        .groupBy(key_col)
        .transformWithStateInPandas(
            SessionProcessor(),
            outputStructType=(
                f"{key_col} {ktype}, session_start_us long, "
                "session_end_us long, n_events long, total_value double"
            ),
            outputMode="append",
            timeMode="eventTime",
        )
    )


def stream_enriched_rollup(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    group_col: str,
    value_col: str = "value",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-static enrichment join + rollup: each micro-batch broadcast-
    joins the static dimension (the geo-dim pattern from the batch flagship,
    app/spark_cassandra_etl_award_amount_aggregator.py:81-85) and feeds the
    running aggregate. The static side is re-resolvable per batch, so dim
    updates are picked up without restarting the query."""
    enriched = events.withWatermark(ts_col, watermark).join(
        F.broadcast(dim), events[stream_key] == dim[dim_key]
    )
    return enriched.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(27,6)")).cast("double").alias("total_value"),
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    left_ts: str = "ts",
    right_ts: str = "right_ts",
    how: str = "leftOuter",
) -> DataFrame:
    """Stream-stream event-time join: each left event pairs with right
    events of the same key whose timestamp falls in
    [left_ts - lookback, left_ts] — the streaming attribution join (the
    batch twin is the inequality part of operators.joins.asof_join). The
    caller supplies a right side whose column names are disjoint from the
    left's (rename before calling).

    Both sides carry watermarks AND the join condition bounds right_ts
    relative to left_ts, which is what lets Spark expire buffered state:
    per key, state is limited to the watermark + lookback horizon instead of
    growing forever. Outer results emit only once the watermark passes (a
    left row can't know "no match" earlier). At 100 TB the state store is
    the bottleneck — the lookback is the knob, and RocksDB state backend is
    the deploy-time setting.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[left_key] == rw[right_key])
        & (rw[right_ts] <= lw[left_ts])
        & (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {lookback}"))
    )
    return lw.join(rw, on=cond, how=how)


# --------------------------------------------------------------------------
# the foreachBatch protocol: one runner, one checkpoint guard, one sink write
# --------------------------------------------------------------------------

_BATCH_COL = "_batch_id"


def _run_micro_batches(
    stream: DataFrame, per_batch, checkpoint: "str | None",
    committed: "str | None", job: str,
):
    """Run ``stream`` to completion (``availableNow``), handing each
    micro-batch to ``per_batch(batch_df, batch_id)``; returns the
    finished query.

    ``committed`` describes what an earlier run already committed at the
    job's target, or is None when nothing is. A query without a
    checkpoint numbers its batches from 0 again, so every batch would be
    skipped as a replay of a committed one or overwrite a committed sink
    partition: with committed output and no ``checkpoint`` this raises
    before the query starts."""
    if committed is not None and not checkpoint:
        raise ValueError(
            f"{job}: {committed} but no checkpointLocation was given — a "
            "fresh query restarts batch_id at 0, so its batches would be "
            "discarded as replays or overwrite the committed output. Pass "
            "the original checkpoint to resume, or a new target to start "
            "over."
        )
    writer = stream.writeStream.foreachBatch(per_batch).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    query = writer.start()
    query.awaitTermination()
    return query


def _ledger_committed(state_path: str) -> "str | None":
    """The ``committed`` description of a versioned ledger."""
    manifest = read_state_manifest(state_path)
    if manifest is None:
        return None
    return (
        f"state at {state_path!r} already has a committed manifest "
        f"(batch_id={manifest['batch_id']})"
    )


def _sink_committed(spark, sink_path: str) -> "str | None":
    """The ``committed`` description of a batch-partition sink: its
    ``_batch_id=`` partitions, listed on the driver (no Spark job)."""
    if any(
        name.startswith(f"{_BATCH_COL}=")
        for name in hadoop_child_names(spark, sink_path)
    ):
        return f"sink {sink_path!r} already holds {_BATCH_COL} partitions"
    return None


def _write_batch_partition(df: DataFrame, sink_path: str, batch_id: int) -> None:
    """Land micro-batch ``batch_id``'s rows in the sink's ``_batch_id=``
    partition. Dynamic partition overwrite replaces only that partition,
    so a replayed batch rewrites its own output instead of appending
    duplicates. Readers ignore the partition column."""
    (
        df.withColumn(_BATCH_COL, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(_BATCH_COL)
        .parquet(sink_path)
    )


def _run_index_add(
    stream: DataFrame, index_path: str, add, compact_index,
    checkpoint: "str | None", compact_every: "int | None", job: str,
):
    """Run an index-add stream: ``add(batch_df, batch_id)`` applies each
    micro-batch through the index's add manifest and returns whether it
    was applied (False for a replay); ``compact_index(spark, path)`` runs
    after every ``compact_every``-th applied batch, so fragmentation
    stays bounded at that many batches."""
    manifest = index_store.read_manifest(stream.sparkSession, index_path)
    committed = None if manifest is None else (
        f"index at {index_path!r} already has a committed add manifest "
        f"(batch_id={manifest['batch_id']})"
    )

    def append(batch_df: DataFrame, batch_id: int) -> None:
        applied = add(batch_df, batch_id)
        if applied and compact_every and (batch_id + 1) % int(compact_every) == 0:
            compact_index(batch_df.sparkSession, index_path)

    return _run_micro_batches(stream, append, checkpoint, committed, job)


def merge_rollup_batch(
    batch_df: DataFrame,
    state_path: str,
    key_col: str,
    amount_col: str,
    batch_id: int,
) -> bool:
    """One idempotent micro-batch merge into the versioned rollup state.
    Returns False when the batch was a replay (already committed) — its
    totals are not merged a second time. The commit is the manifest flip in
    io.commit_versioned_state, so a crash anywhere before it leaves the
    previous state intact."""
    from ..plans.rollups import merge_rollup, partial_rollup

    return apply_versioned_batch(
        batch_df.sparkSession, state_path, batch_id,
        lambda existing: merge_rollup(
            existing, partial_rollup(batch_df, [key_col], amount_col), [key_col]
        ),
    )


def stream_incremental_rollup(
    events: DataFrame,
    state_path: str,
    key_col: str,
    amount_col: str = "value",
    checkpoint: str | None = None,
):
    """Keep a materialized rollup incrementally fresh from a stream:
    each micro-batch is aggregated to partial totals and merged into the
    versioned parquet state via plans.rollups.merge_rollup (exact decimal —
    N merges == full recompute bit-for-bit).

    Exactly-once state under foreachBatch's at-least-once contract:
    - replay-safe: a replayed micro-batch (same batch_id as the last
      committed one) is skipped, so its totals are never double-merged;
    - crash-safe: the merge lands in a new version directory and only
      becomes visible when the manifest pointer flips atomically
      (io.commit_versioned_state) — a crash mid-merge leaves the previous
      committed state intact.

    This is the engine's answer to the reference's "freshness by re-running
    the batch job" (SURVEY.md §1.1): per batch O(batch + |keys|).

    ``checkpoint``: required once state exists (see _run_micro_batches)."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_rollup_batch(batch_df, state_path, key_col, amount_col, batch_id)

    return _run_micro_batches(
        events, merge_batch, checkpoint, _ledger_committed(state_path),
        "stream_incremental_rollup",
    )


def scd2_merge_batch(
    batch_df: DataFrame,
    state_path: str,
    key: str,
    tracked: list[str],
    eff_date_col: str = "eff_date",
    batch_id: int = 0,
) -> bool:
    """One idempotent micro-batch of streaming SCD Type-2 dimension
    maintenance: reduce the batch to its LATEST update per key
    (deterministic max over (eff_date, *tracked) struct order, so replayed
    or reordered rows can't flap), apply io.scd2_apply against the
    committed history, and commit the new history version atomically.
    Same exactly-once contract as merge_rollup_batch: replayed batch_ids
    are skipped, a crash before the manifest flip leaves the previous
    history intact."""
    from pyspark.sql import types as T

    from ..io import scd2_apply

    spark = batch_df.sparkSession

    def step(cur: "DataFrame | None") -> DataFrame:
        latest = (
            batch_df.groupBy(key)
            .agg(F.max(F.struct(eff_date_col, *tracked)).alias("_m"))
            .select(
                key, *[F.col(f"_m.{c}").alias(c) for c in [*tracked, eff_date_col]]
            )
        )
        if cur is None:
            key_type = batch_df.schema[key].dataType
            fields = [T.StructField(key, key_type)]
            fields += [T.StructField(c, batch_df.schema[c].dataType) for c in tracked]
            fields += [
                T.StructField("eff_from", batch_df.schema[eff_date_col].dataType),
                T.StructField("eff_to", batch_df.schema[eff_date_col].dataType),
            ]
            cur = spark.createDataFrame([], T.StructType(fields))
        return scd2_apply(cur, latest, key, tracked, eff_date_col)

    return apply_versioned_batch(spark, state_path, batch_id, step)


def stream_scd2(
    updates: DataFrame,
    state_path: str,
    key: str,
    tracked: list[str],
    eff_date_col: str = "eff_date",
    checkpoint: str | None = None,
):
    """Keep an SCD Type-2 history table incrementally fresh from an update
    stream — the streaming twin of the batch q_scd2 plan and the engine's
    answer to the reference's re-download-and-overwrite dimension refresh.
    foreachBatch + versioned-state commits give exactly-once history
    evolution under the at-least-once replay contract.

    ``checkpoint``: required once state exists (see _run_micro_batches)."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        scd2_merge_batch(batch_df, state_path, key, tracked, eff_date_col, batch_id)

    return _run_micro_batches(
        updates, merge, checkpoint, _ledger_committed(state_path), "stream_scd2"
    )


def decontaminate_batch(
    batch_df: DataFrame,
    benchmark: DataFrame,
    sink_path: str,
    batch_id: int,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
) -> None:
    """One idempotent micro-batch of the streaming decontamination gate:
    run the exact batch operator (operators/dedup.decontaminate) against the
    static benchmark and land the surviving documents in a batch_id-keyed
    partition. A replayed batch overwrites its own partition (dynamic
    partition overwrite), never appending duplicates — idempotent under
    foreachBatch's at-least-once contract."""
    from ..operators.dedup import decontaminate

    _write_batch_partition(
        decontaminate(batch_df, benchmark, id_col, text_col, n), sink_path, batch_id
    )


def stream_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    sink_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    checkpoint: str | None = None,
):
    """Streaming benchmark-decontamination gate: documents flow in, and only
    those sharing no word n-gram with the static eval benchmark flow out —
    the ingest-time version of the GPT-3/Llama training-data hygiene step
    (batch form: operators/dedup.decontaminate, q_decontaminate).

    Contamination is a per-document predicate against a STATIC set, so each
    micro-batch can be decided exactly with zero cross-batch state. The gate
    runs the verified batch operator inside foreachBatch rather than as a
    declarative stream-static join, deliberately:

    - the declarative equi-join shape (explode shingles -> semi-join bench ->
      distinct ids -> anti-join back) needs the contaminated-id set derived
      FROM the stream joined back TO the stream — stream-stream anti,
      unsupported;
    - the one-row-per-doc alternative (LEFT ANTI on
      ``array_contains(doc_hashes, bench._h)``) is a broadcast nested-loop
      anti: every clean document scans the whole benchmark hash set, O(|B|)
      per doc vs the O(shingles) hash lookups of the equi-join plan.

    foreachBatch keeps the exact broadcast-semi-join plan (and its 100-TB
    shape: no corpus shuffle, benchmark hashes broadcast) at streaming
    freshness. Output is idempotent per batch (see decontaminate_batch);
    readers ignore the ``_batch_id`` partition column.

    ``checkpoint``: required once the sink holds output (see
    _run_micro_batches)."""

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        decontaminate_batch(
            batch_df, benchmark, sink_path, batch_id, id_col, text_col, n
        )

    return _run_micro_batches(
        docs, gate, checkpoint, _sink_committed(docs.sparkSession, sink_path),
        "stream_decontaminate",
    )


def corpus_append_batch(
    batch_df: DataFrame,
    state_path: str,
    batch_id: int,
    langs: tuple = ("en",),
    min_tokens: int = 4,
    max_punct_ratio: float = 0.5,
    block_size: int = 512,
    scrub_pii: bool = True,
    url_col: "str | None" = None,
) -> bool:
    """One idempotent micro-batch of the streaming corpus build — the
    incremental form of plans/build_corpus.build_corpus's gate → URL
    dedup → exact dedup → pack chain (VERDICT r10 #7; the near-dup /
    quota / epoch-shuffle tiers are corpus-global decisions and stay a
    batch/backfill concern, exactly like LSH banding in the near-dedup
    streaming note).

    Stages run in the BATCH pipeline's ORDER with the batch operators'
    arithmetic verbatim, so a one-shot rebuild over the same rows (or
    one append over the concatenated batches, arrival-ordered) agrees
    row-for-row:

    - URL tier FIRST (when ``url_col`` given), exactly where
      build_corpus runs it — on the RAW rows, before any text gate:
      in-batch min-id per canonical URL, then drop URLs the committed
      state has seen (probe inversion: the batch URL set broadcasts,
      state is only scanned). Every URL claimant is REMEMBERED in state
      even if later tiers drop it (a "ledger" row with null
      position/fingerprint): in the batch pipeline a gated-out claimant
      still consumed its URL, so a later re-fetch must not resurrect it;
    - gate: the same raw-division quality + LID expressions as
      build_corpus (token floor, punct ceiling, language keep-set),
      optional PII scrub. Gates are pure functions of the text, so
      survivors-only fingerprint state stays batch-consistent;
    - exact tier: in-batch min-id per normalized fingerprint, then drop
      fingerprints the committed PACKED corpus has seen (same
      inversion);
    - pack-offset: survivors are laid end to end in doc_id order
      CONTINUING from the committed corpus's token total, so sequence
      coordinates keep tiling across micro-batches (position, seq_id,
      seq_offset — the build_corpus packing formula with a carried
      base). The prefix window runs over micro-batch rows only
      (trigger-bounded — the pack_sequences two-pass form is for
      corpus-sized frames).

    State is ONE versioned table: the packed corpus rows (non-null
    position) plus the URL-claim ledger rows (null position), committed
    atomically with the batch_id manifest — the merge_rollup_batch
    exactly-once contract: replays skip, a crash before the manifest
    flip leaves the previous corpus intact. Probe sets and base offsets
    derive from the state by slim column scans; a production deployment
    splits the indexes out (dedup.fingerprint_index / warc.url_index,
    bucketed) and appends corpus files instead of rewriting (io-style
    manifested appends), keeping per-batch cost O(batch + index
    probe)."""
    from pyspark.sql import Window

    from ..operators.text import (
        fingerprint,
        langid,
        pii_scrub,
        punct_ratio,
        token_count,
    )

    def step(cur: "DataFrame | None") -> DataFrame:
        packed_state = (
            cur.filter(F.col("position").isNotNull()) if cur is not None else None
        )

        # --- URL tier first (build_corpus order): raw rows, null-text included
        if url_col is not None:
            from ..sources.warc import canonicalize_url

            docs = batch_df.withColumn("canonical_url", canonicalize_url(url_col))
        else:
            docs = batch_df.withColumn(
                "canonical_url", F.lit(None).cast("string")
            )
        with_url = docs.filter(F.col("canonical_url").isNotNull())
        no_url = docs.filter(F.col("canonical_url").isNull())
        w_url = Window.partitionBy("canonical_url").orderBy("doc_id")
        with_url = (
            with_url.withColumn("_rn", F.row_number().over(w_url))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if cur is not None:
            url_hits = (
                cur.filter(F.col("canonical_url").isNotNull())
                .join(
                    F.broadcast(with_url.select("canonical_url").distinct()),
                    on="canonical_url",
                    how="semi",
                )
                .select("canonical_url")
                .distinct()
            )
            with_url = with_url.join(
                F.broadcast(url_hits), on="canonical_url", how="anti"
            )
        claimed = with_url.unionByName(no_url)

        # --- quality/LID gate over the URL-tier survivors
        gated = claimed.filter(F.col("text").isNotNull())
        if scrub_pii:
            gated = gated.withColumn("text", pii_scrub("text"))
        gated = (
            gated.withColumn("n_tokens", token_count("text"))
            .withColumn("_punct", punct_ratio("text"))
            .withColumn("_lang", langid("text"))
            .filter(
                (F.col("n_tokens") >= min_tokens)
                & (F.col("_punct") <= max_punct_ratio)
                & F.col("_lang").isin(*langs)
            )
            .drop("_punct", "_lang")
        )
        merged = gated.withColumn("fingerprint", fingerprint("text"))

        # --- exact tier: in-batch min-id + packed-state probe
        w_fp = Window.partitionBy("fingerprint").orderBy("doc_id")
        merged = (
            merged.withColumn("_rn", F.row_number().over(w_fp))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if packed_state is not None:
            fp_hits = (
                packed_state.join(
                    F.broadcast(merged.select("fingerprint").distinct()),
                    on="fingerprint",
                    how="semi",
                )
                .select("fingerprint")
                .distinct()
            )
            merged = merged.join(F.broadcast(fp_hits), on="fingerprint", how="anti")

        if packed_state is None:
            base_pos, base_tok = 0, 0
        else:
            row = packed_state.agg(
                F.count(F.lit(1)), F.coalesce(F.sum("n_tokens"), F.lit(0))
            ).first()
            base_pos, base_tok = int(row[0]), int(row[1])
        # micro-batch prefix sum: trigger-bounded rows, documented above
        w = Window.orderBy("doc_id")
        start = (
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.col("n_tokens")
            + F.lit(base_tok)
        ).cast("long")
        carried = [
            c for c in ("doc_id", "text", "source") if c in merged.columns
        ]
        new_rows = merged.select(
            *carried,
            "n_tokens",
            "fingerprint",
            "canonical_url",
            (F.row_number().over(w) - 1 + F.lit(base_pos))
            .cast("long")
            .alias("position"),
            F.floor(start / block_size).cast("long").alias("seq_id"),
            F.pmod(start, F.lit(block_size)).cast("long").alias("seq_offset"),
        )
        # --- URL-claim ledger: claimants that did NOT get packed (gated out
        # or fingerprint-dropped) still consumed their canonical URL in the
        # batch pipeline's ordering — remember them as null-position rows so
        # later re-fetches of the same URL keep dropping
        ledger = (
            with_url.join(new_rows.select("doc_id"), on="doc_id", how="anti")
            .select(
                "doc_id",
                *(
                    [F.lit(None).cast("string").alias("text")]
                    if "text" in carried else []
                ),
                *([F.col("source")] if "source" in carried else []),
                F.lit(None).cast("int").alias("n_tokens"),
                F.lit(None).cast("string").alias("fingerprint"),
                "canonical_url",
                F.lit(None).cast("long").alias("position"),
                F.lit(None).cast("long").alias("seq_id"),
                F.lit(None).cast("long").alias("seq_offset"),
            )
        )
        appended = new_rows.unionByName(ledger)
        return appended if cur is None else cur.unionByName(appended)

    return apply_versioned_batch(batch_df.sparkSession, state_path, batch_id, step)


def stream_build_corpus(
    docs: DataFrame,
    state_path: str,
    langs: tuple = ("en",),
    min_tokens: int = 4,
    max_punct_ratio: float = 0.5,
    block_size: int = 512,
    scrub_pii: bool = True,
    url_col: "str | None" = None,
    checkpoint: "str | None" = None,
):
    """Keep a packed training corpus incrementally fresh from a document
    stream — the streaming twin of the build-corpus CLI job, making the
    capstone incremental like the rollups: each micro-batch runs the
    batch pipeline's stages IN ITS ORDER (URL tier on raw rows first —
    with a URL-claim ledger so gated-out claimants keep their URL
    consumed, exactly like the one-shot build — then gate, fingerprint
    dedup, pack CONTINUING the committed token stream), with the
    merge_rollup_batch exactly-once versioned-state contract. Feeding
    batches in doc_id order reproduces one whole-input append
    bit-for-bit, including the gated-URL-claim case (tested);
    out-of-order arrival packs in arrival order — the streaming tradeoff
    a backfill rebuild erases. Readers take ``position IS NOT NULL``
    rows (the ledger rows carry URL state only).

    ``checkpoint``: required once state exists (see _run_micro_batches)."""

    def append(batch_df: DataFrame, batch_id: int) -> None:
        corpus_append_batch(
            batch_df, state_path, batch_id,
            langs=langs, min_tokens=min_tokens,
            max_punct_ratio=max_punct_ratio, block_size=block_size,
            scrub_pii=scrub_pii, url_col=url_col,
        )

    return _run_micro_batches(
        docs, append, checkpoint, _ledger_committed(state_path),
        "stream_build_corpus",
    )


# --------------------------------------------------------------------------
# the winnow decision step: ledger, append-only and scrub streams
# --------------------------------------------------------------------------

def _fingerprint_batch(
    batch_df: DataFrame, id_col: str, text_col: str,
    k: int, w: int, portable: bool, positioned: bool,
) -> DataFrame:
    """The micro-batch fingerprinted ONCE (the CPU-heavy stage) and
    materialized: ``(_id, fps)`` plain or ``(_id, pfps)`` robust
    positioned. The frame feeds the in-batch tier, the committed-side
    probe and the rows the ledger or index keeps, through the fps/pfps
    seams — without them each consumer re-normalizes and re-hashes the
    text. Empty sets stay: they match nothing, but their docs still need
    flags and rows."""
    return batch_df.select(
        F.col(id_col).alias("_id"),
        winnow_fingerprints(
            text_col, k=k, w=w, portable=portable, robust=positioned,
            alias="pfps" if positioned else "fps",
        ),
    ).localCheckpoint()


def _ledger_fps(cur: "DataFrame | None", id_col: str, fps_col: str):
    """A ledger's committed fingerprint sets as a probe's ``(_id,
    fps|pfps)`` index side, or None before the first commit."""
    if cur is None:
        return None
    return cur.select(F.col(id_col).alias("_id"), fps_col)


def _winnow_span_pairs(
    batch_df: DataFrame, bpf: DataFrame, committed: "DataFrame | None",
    id_col: str, text_col: str, **winnow,
) -> DataFrame:
    """The verified span pairs of a micro-batch, one row per (batch doc,
    earlier doc): the in-batch tier (winnow_match_spans over the
    positioned frame ``bpf``) plus, when ``committed`` ``(_id, pfps)`` is
    given, the committed-side probe (winnow_spans_against_index —
    scan-only, the batch broadcasts). Columns ``_sid`` (the later doc),
    ``other_id``, ``jaccard``, ``n_shared``, ``n_anchors``, ``b_start``,
    ``b_end``, harmonized across the two tiers (match_spans counts
    n_shared via count_distinct -> long; the index probe via
    array_intersect size -> int). The drop-evidence structs and the
    scrub cuts both come from here."""
    from ..operators.dedup import winnow_match_spans, winnow_spans_against_index

    tiers = [(
        winnow_match_spans(batch_df, id_col, text_col, pfps_df=bpf, **winnow),
        "id_b", "id_a",
    )]
    if committed is not None:
        tiers.append((
            winnow_spans_against_index(
                batch_df, committed, id_col, text_col, batch_pfps=bpf,
                **winnow,
            ),
            "id_batch", "id_index",
        ))
    return functools.reduce(DataFrame.unionByName, [
        pairs.select(
            F.col(doc).alias("_sid"),
            F.col(other).alias("other_id"),
            F.col("jaccard").cast("double").alias("jaccard"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_anchors").cast("long").alias("n_anchors"),
            F.col("b_start").cast("int").alias("b_start"),
            F.col("b_end").cast("int").alias("b_end"),
        )
        for pairs, doc, other in tiers
    ])


def _winnow_decide(
    batch_df: DataFrame, bfp: DataFrame, committed: "DataFrame | None",
    id_col: str, text_col: str, evidence: bool, **winnow,
) -> DataFrame:
    """THE winnow decision of both dedup streams (the versioned ledger
    and the append-only index, plain and evidence forms): a batch doc
    drops iff its fingerprint Jaccard reaches the threshold against an
    earlier same-batch doc or against ANY committed doc — dropped ones
    included, so A~B~C with only B~C above threshold still drops C after
    B dropped (the transitive-chain contract).

    ``bfp`` is the batch's _fingerprint_batch frame and ``committed`` the
    committed side in the same form — value sets ``(_id, fps)`` for the
    plain decision (winnow_pairs in the batch, the ids
    winnow_dedup_against_index drops against the committed side),
    positioned ``(_id, pfps)`` for ``evidence`` (the _winnow_span_pairs
    frames, whose verified pair sets equal the value tiers' at cap=None)
    — or None before anything is committed. Returns ``bfp``'s rows renamed to ``(id_col, fps|pfps)``
    plus ``survivor``; with ``evidence`` also ``drop_evidence``, the
    sorted ``(other_id, jaccard, n_shared, n_anchors, start, end)``
    structs justifying a drop (NULL on survivors)."""
    from ..operators.dedup import _winnow_matched_ids, winnow_pairs

    rows = bfp.select(F.col("_id").alias(id_col), bfp.columns[1])
    if evidence:
        per_doc = _winnow_span_pairs(
            batch_df, bfp, committed, id_col, text_col, **winnow
        ).groupBy(F.col("_sid").alias(id_col)).agg(
            F.sort_array(F.collect_list(F.struct(
                "other_id", "jaccard", "n_shared", "n_anchors",
                F.col("b_start").alias("start"), F.col("b_end").alias("end"),
            ))).alias("drop_evidence")
        )
        return rows.join(per_doc, on=id_col, how="left").select(
            *rows.columns,
            F.col("drop_evidence").isNull().alias("survivor"),
            "drop_evidence",
        )
    drops = (
        winnow_pairs(batch_df, id_col, text_col, fps_df=bfp, **winnow)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    if committed is not None:
        hits = _winnow_matched_ids(
            batch_df, committed, id_col, text_col, batch_fps=bfp, **winnow
        )
        drops = drops.unionByName(hits).distinct()
    return rows.join(
        drops.withColumn("_dropped", F.lit(True)), on=id_col, how="left"
    ).select(*rows.columns, F.col("_dropped").isNull().alias("survivor"))


def winnow_dedup_append_batch(
    batch_df: DataFrame,
    state_path: str,
    batch_id: int,
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
    max_fingerprint_df: "int | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    evidence: bool = False,
) -> bool:
    """One idempotent micro-batch of streaming rolling-hash near dedup —
    the winnowing member of the streaming dedup family (exact / simhash
    / URL / semantic): drop a batch doc iff its winnowing-fingerprint
    Jaccard >= ``threshold`` against ANY earlier doc — an earlier
    same-batch doc (in-batch pairwise min-id via winnow_pairs) or any
    committed ledger row (winnow_dedup_against_index over the FULL
    ledger: dropped rows keep suppressing, the semantic tier's
    transitive-chain rationale — A~B~C with only B~C above threshold
    must still drop C after B dropped).

    State is a versioned full ledger ``(doc_id, fps, survivor)`` — the
    fingerprint sets, not the text, so the probe re-verifies exact
    set Jaccard without re-fingerprinting history; docs below ``k``
    normalized chars carry an empty set (they match nothing and always
    survive). N id-ordered appends equal one whole-input append
    bit-for-bit when ``max_fingerprint_df`` is None (tested, including
    a transitive chain); WITH a stop-gram cap the document frequencies
    are computed per append over state ∪ batch, so capped-candidate
    recall can differ from the one-shot run — the family's documented
    cap trade-off, now with a split-dependence caveat. Exactly-once:
    replayed batch_ids skip, a crash before the manifest flip leaves
    the previous ledger intact.

    ``evidence=True`` (VERDICT r12 #3) switches the ledger to the
    POSITIONED form ``(doc_id, pfps, survivor, drop_evidence)``: drops
    additionally record WHY — one struct ``(other_id, jaccard,
    n_shared, n_anchors, start, end)`` per justifying pair, where
    ``start..end`` is the covering span of the shared content in the
    DROPPED doc's normalized text (winnow_match_spans' offset contract;
    the batch side already produced these for the scrub tier) and
    ``other_id`` the earlier doc, sorted by other_id; survivors carry
    NULL. Decisions derive from the SAME span pair frames
    (winnow_match_spans in-batch, winnow_spans_against_index vs the
    ledger), whose verified pair sets provably equal the value-set
    tiers' at cap=None — N id-ordered appends emit drop-evidence rows
    bit-equal to a one-shot winnow_match_spans report over the whole
    input (tested). With a cap, decisions follow the span tiers'
    value-exact semantics while anchors/spans stay capped — the
    family's documented trade-off. The two ledger forms don't mix:
    appending evidence=True onto a plain-fps ledger (or vice versa)
    raises. The decision is _winnow_decide, shared with the append-only
    winnow_index_dedup_batch."""

    def step(cur: "DataFrame | None") -> DataFrame:
        if cur is not None and ("pfps" in cur.columns) != evidence:
            have = "positioned (evidence)" if "pfps" in cur.columns else "plain"
            raise ValueError(
                f"winnow dedup ledger at {state_path!r} is the {have} form; "
                f"evidence={evidence} appends would mix ledger schemas — "
                "use one form per state path"
            )
        bfp = _fingerprint_batch(
            batch_df, id_col, text_col, k, w, portable, positioned=evidence
        )
        flagged = _winnow_decide(
            batch_df, bfp, _ledger_fps(cur, id_col, bfp.columns[1]),
            id_col, text_col, evidence,
            k=k, w=w, threshold=threshold, portable=portable,
            max_fingerprint_df=max_fingerprint_df,
        )
        return flagged if cur is None else cur.unionByName(flagged)

    return apply_versioned_batch(batch_df.sparkSession, state_path, batch_id, step)


def stream_near_dedup_winnow(
    docs: DataFrame,
    state_path: str,
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
    max_fingerprint_df: "int | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: "str | None" = None,
    evidence: bool = False,
):
    """Keep a rolling-hash near-deduplicated document set incrementally
    fresh from a stream — the streaming twin of the incremental winnow
    tier (q_dedup_incremental_winnow), completing the streaming dedup
    family (exact fingerprint / simhash / URL / semantic / winnow).
    foreachBatch + a versioned full ledger of fingerprint sets (see
    winnow_dedup_append_batch for the semantics and the cap caveat);
    each batch probes the committed ledger by probe inversion (batch
    broadcasts, ledger scan-only), never re-fingerprints history.
    Feeding batches in id order reproduces one whole-input append
    bit-for-bit (tested, including a transitive A~B~C chain). Readers
    take ``survivor = true`` rows.

    ``evidence=True`` switches to the positioned ledger whose dropped
    rows carry the justifying covering spans / anchor counts
    (winnow_dedup_append_batch's evidence contract) — the audit record
    a compliance reviewer asks for when a streamed doc silently
    disappears from the corpus.

    ``checkpoint``: required once state exists (see _run_micro_batches)."""

    def append(batch_df: DataFrame, batch_id: int) -> None:
        winnow_dedup_append_batch(
            batch_df, state_path, batch_id,
            k=k, w=w, threshold=threshold, portable=portable,
            max_fingerprint_df=max_fingerprint_df,
            id_col=id_col, text_col=text_col, evidence=evidence,
        )

    return _run_micro_batches(
        docs, append, checkpoint, _ledger_committed(state_path),
        "stream_near_dedup_winnow",
    )


def winnow_scrub_append_batch(
    batch_df: DataFrame,
    state_path: str,
    batch_id: int,
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
    max_fingerprint_df: "int | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> bool:
    """One idempotent micro-batch of streaming cross-document SPAN
    scrubbing — the surgical member of the streaming dedup family: a
    batch doc whose fingerprint Jaccard verifies against an earlier doc
    is not dropped, it loses the UNION of the covering spans it shares
    (winnow_span_scrub's per-char contract) with every such pair —
    earlier same-batch docs via the in-batch span tier
    (winnow_match_spans over the batch's positions) and committed ledger
    docs via the positioned-index probe (winnow_spans_against_index:
    batch broadcasts, ledger scan-only).

    State is a versioned positioned ledger ``(doc_id, pfps, scrubbed,
    n_cut, n_spans)``: the ORIGINAL text's robust positioned
    fingerprints (pairs are always judged on original content — a
    scrubbed doc keeps suppressing/evidencing exactly as in the batch
    twin) plus the doc's emitted scrub output; readers take the
    ``scrubbed`` column. The batch is fingerprinted ONCE (the positioned
    seams on winnow_match_spans / winnow_spans_against_index). N
    id-ordered appends emit outputs bit-equal to one whole-input
    winnow_span_scrub when ``max_fingerprint_df`` is None (tested); with
    a cap, per-append document frequencies AND the index probe's
    value-exact verify (vs the batch tier's capped-count Jaccard) can
    both diverge from the one-shot run — the family's documented cap
    trade-offs. Exactly-once: replayed batch_ids skip, a crash before
    the manifest flip leaves the previous ledger intact."""
    from ..operators.dedup import _scrub_spans

    def step(cur: "DataFrame | None") -> DataFrame:
        bpf = _fingerprint_batch(
            batch_df, id_col, text_col, k, w, portable, positioned=True
        )
        spans = _winnow_span_pairs(
            batch_df, bpf, _ledger_fps(cur, id_col, "pfps"), id_col, text_col,
            k=k, w=w, threshold=threshold, portable=portable,
            max_fingerprint_df=max_fingerprint_df,
        )
        scrubbed = _scrub_spans(batch_df, id_col, text_col, spans)
        flagged = bpf.select(F.col("_id").alias(id_col), "pfps").join(
            scrubbed, on=id_col
        )
        return flagged if cur is None else cur.unionByName(flagged)

    return apply_versioned_batch(batch_df.sparkSession, state_path, batch_id, step)


def stream_span_scrub_winnow(
    docs: DataFrame,
    state_path: str,
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
    max_fingerprint_df: "int | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: "str | None" = None,
):
    """Keep a passage-level (span-scrubbed) document corpus incrementally
    fresh from a stream — the streaming twin of winnow_span_scrub for
    shared-boilerplate corpora where dropping whole near-dups is too
    blunt. foreachBatch + a versioned positioned ledger (see
    winnow_scrub_append_batch for semantics and the cap caveats); each
    batch localizes its overlap spans against the committed ledger by
    probe inversion and within itself, then cuts the per-char union.
    Feeding batches in id order reproduces one whole-input
    winnow_span_scrub bit-for-bit when no stop-gram cap is set (tested).
    Readers take ``(doc_id, scrubbed, n_cut, n_spans)``.

    ``checkpoint``: required once state exists (see _run_micro_batches)."""

    def append(batch_df: DataFrame, batch_id: int) -> None:
        winnow_scrub_append_batch(
            batch_df, state_path, batch_id,
            k=k, w=w, threshold=threshold, portable=portable,
            max_fingerprint_df=max_fingerprint_df,
            id_col=id_col, text_col=text_col,
        )

    return _run_micro_batches(
        docs, append, checkpoint, _ledger_committed(state_path),
        "stream_span_scrub_winnow",
    )


def corpus_manifest_from_state(spark, state_path: str) -> DataFrame:
    """The training reader's per-sequence manifest over a streaming
    corpus build's COMMITTED state — the plans/build_corpus.
    sequence_manifest twin for the incremental pipeline (VERDICT r11
    #7): packed rows (``position IS NOT NULL``; ledger rows carry URL
    state only) group into one row per training sequence with its
    position-ordered document spans. Because corpus_append_batch packs
    every batch CONTINUING the committed token stream with the batch
    formula, this manifest is bit-equal to sequence_manifest over a
    one-shot append of the same concatenated input (tested in the
    stream-vs-batch agreement suite). Same 100-TB shape as the batch
    form: one shuffle keyed on seq_id, struct lists bounded by the block
    size."""
    from ..io import read_versioned_state
    from ..plans.build_corpus import sequence_manifest

    cur = read_versioned_state(spark, state_path)
    if cur is None:
        raise ValueError(
            f"no committed corpus state at {state_path!r}; run "
            "stream_build_corpus (or corpus_append_batch) first"
        )
    return sequence_manifest(cur.filter(F.col("position").isNotNull()))


def semantic_dedup_append_batch(
    batch_df: DataFrame,
    state_path: str,
    centroids: DataFrame,
    batch_id: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """One idempotent micro-batch of streaming semantic dedup — the
    SemDeDup incremental tier live: assign the batch with the static
    centroids (bounded model state, the stream_enriched_rollup
    static-dim pattern), drop rows cosine >= ``threshold`` to ANY
    committed row in the same cell (batch side broadcasts; state is only
    scanned, cell-filtered) or to an earlier same-cell batch row.

    State keeps EVERY processed row with a ``survivor`` flag, and the
    probe compares against dropped rows too — semantic_dedup's pairwise
    min-id contract is NOT transitive-free (a dropped row still
    suppresses later rows it pairs with), so survivor-only state would
    diverge from a whole-input run exactly on chains A~B~C where only
    B~C crosses the threshold. With the full ledger, N id-ordered
    appends equal one whole-input append bit-for-bit (tested, including
    a transitive chain). Same exactly-once contract as
    corpus_append_batch: replayed batch_ids skip, a crash before the
    manifest flip leaves the previous state intact. A production
    deployment shards the ledger by cell (the partitionBy(cell) IVF
    index layout) and manifests the appends."""
    from ..operators.similarity import (
        cosine,
        cosine_pairs_blocked,
        ivf_assign,
    )

    def step(cur: "DataFrame | None") -> DataFrame:
        assigned = ivf_assign(batch_df, centroids, id_col=id_col, vec_col=vec_col)
        in_batch = (
            cosine_pairs_blocked(
                assigned, "cell", id_col=id_col, vec_col=vec_col,
                threshold=threshold,
            )
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        if cur is not None:
            a = assigned.select(
                F.col(id_col).alias("_bid"), F.col(vec_col).alias("_bvec"), "cell"
            )
            state_hits = (
                cur.select(F.col(vec_col).alias("_svec"), "cell")
                .join(F.broadcast(a), on="cell")
                .filter(cosine(F.col("_bvec"), F.col("_svec")) >= threshold)
                .select(F.col("_bid").alias(id_col))
                .distinct()
            )
            drops = in_batch.unionByName(state_hits).distinct()
        else:
            drops = in_batch
        flagged = (
            assigned.join(
                drops.withColumn("_dropped", F.lit(True)), on=id_col, how="left"
            )
            .select(
                id_col, vec_col, "cell",
                F.col("_dropped").isNull().alias("survivor"),
            )
        )
        return flagged if cur is None else cur.unionByName(flagged)

    return apply_versioned_batch(batch_df.sparkSession, state_path, batch_id, step)


def stream_semantic_dedup(
    vectors: DataFrame,
    state_path: str,
    centroids: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: "str | None" = None,
):
    """Keep a semantically deduplicated embedding set incrementally fresh
    from a vector stream — the streaming twin of the incremental SemDeDup
    tier (q_semantic_dedup_incremental), the embedding-space member of
    the streaming dedup family (exact fingerprint / simhash / URL tiers).
    foreachBatch + a versioned full ledger (every row, survivor-flagged —
    see semantic_dedup_append_batch for why dropped rows must keep
    suppressing): each batch probes the committed ledger cell-blocked,
    never re-clusters history. Feeding batches in id order reproduces
    one whole-input append bit-for-bit (tested, including a transitive
    A~B~C chain); out-of-order arrival keeps first-seen semantics — the
    streaming tradeoff a backfill rebuild erases. Readers take
    ``survivor = true`` rows.

    ``checkpoint``: required once state exists (see _run_micro_batches)."""

    def append(batch_df: DataFrame, batch_id: int) -> None:
        semantic_dedup_append_batch(
            batch_df, state_path, centroids, batch_id,
            threshold=threshold, id_col=id_col, vec_col=vec_col,
        )

    return _run_micro_batches(
        vectors, append, checkpoint, _ledger_committed(state_path),
        "stream_semantic_dedup",
    )


def ann_search_batch(
    batch_df: DataFrame,
    index_path: str,
    sink_path: str,
    batch_id: int,
    k: int = 10,
    nprobe: int = 2,
    rerank_factor: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    max_queries_per_batch: int = 1024,
    index_id_col: str = "vec_id",
    index_vec_col: str = "embedding",
    adc_prune: bool = False,
    adaptive_nprobe: bool = False,
) -> None:
    """One idempotent micro-batch of the streaming vector-search serving
    job: probe the PERSISTED IVF / IVF-PQ index (layout autodetected)
    once per query row and land ``(query_id, rank, <index_id_col>,
    score)`` hits in a batch_id-keyed partition — the
    decontaminate_batch idempotency contract (replays overwrite their
    own partition). ``index_id_col`` / ``index_vec_col`` name the
    columns the index was BUILT with (the ann-index CLI's
    --id-col/--vec-col); the hit-id output column carries the index's
    own name and type (read from the index layout).

    The micro-batch query set collects driver-side, cap-guarded at
    ``max_queries_per_batch`` — a SERVING batch is trigger-bounded by
    contract, exactly like the bounded model state the probe itself
    loads; the cap raises rather than silently pulling an unbounded
    stream. Model state (centroids + codebooks) loads ONCE per trigger
    (similarity._open_ann_index — whose vectors schema also gives the
    hit-id field, so the index is read once), and every per-query candidate
    scan stays partition-pruned to its nprobe cell directories — the
    index is never re-read whole, never shuffled. Per-query results are
    bit-identical to the batch probes (ivf_index_topk /
    ivf_pq_index_topk) over the same index."""
    from ..operators.similarity import _open_ann_index, _search_many

    spark = batch_df.sparkSession
    rows = (
        batch_df.select(query_id_col, vec_col)
        .limit(max_queries_per_batch + 1)
        .collect()
    )
    if len(rows) > max_queries_per_batch:
        raise ValueError(
            f"ann_search_batch: more than max_queries_per_batch="
            f"{max_queries_per_batch} queries in one trigger; size the "
            "trigger (maxFilesPerTrigger / maxOffsetsPerTrigger) to the "
            "serving budget instead of letting one batch grow unbounded"
        )
    ix = _open_ann_index(spark, index_path)
    hits, score_col = _search_many(
        ix, [(r[0], r[1]) for r in rows],
        k, nprobe, rerank_factor, index_id_col, index_vec_col,
        adc_prune=adc_prune, adaptive_nprobe=adaptive_nprobe,
    )
    from pyspark.sql.types import (
        DoubleType, IntegerType, StructField, StructType,
    )

    # the hit-id field keeps the INDEX's id name and type
    # (string/long/whatever the index was built with)
    hit_id_field = ix.vectors.schema[index_id_col]
    schema = StructType(
        [
            batch_df.schema[query_id_col],
            StructField("rank", IntegerType(), False),
            hit_id_field,
            StructField(score_col, DoubleType(), True),
        ]
    )
    from ..io import local_frame

    # trigger-bounded driver rows (k hits per query) as ONE slice —
    # createDataFrame would parallelize them into defaultParallelism
    # Python-runner slices per trigger and write that many tiny files
    # into the sink partition (round 16, the io.local_frame contract)
    _write_batch_partition(local_frame(spark, hits, schema), sink_path, batch_id)


def stream_ann_search(
    queries: DataFrame,
    index_path: str,
    sink_path: str,
    k: int = 10,
    nprobe: int = 2,
    rerank_factor: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    max_queries_per_batch: int = 1024,
    index_id_col: str = "vec_id",
    index_vec_col: str = "embedding",
    adc_prune: bool = False,
    adaptive_nprobe: bool = False,
    checkpoint: "str | None" = None,
):
    """Streaming vector search over a persisted ANN index — the serving
    twin of the ann-index CLI's ``search`` (VERDICT r11 #5): query
    vectors flow in, per-query top-k hits flow out, the index stays a
    static partitioned layout probed with pruned scans (the
    stream_enriched_rollup static-side pattern applied to the IVF
    family). Stateless per trigger — no watermark, no state store; index
    refreshes are a restart, exactly like the frozen-stats contract of
    stream_bm25_score. Emits rows bit-identical to running the batch
    probe per query (tested against ivf_pq_index_topk / ivf_index_topk
    on a fixture query stream).

    ``checkpoint``: required once the sink holds output (see
    _run_micro_batches)."""

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        ann_search_batch(
            batch_df, index_path, sink_path, batch_id,
            k=k, nprobe=nprobe, rerank_factor=rerank_factor,
            query_id_col=query_id_col, vec_col=vec_col,
            max_queries_per_batch=max_queries_per_batch,
            index_id_col=index_id_col, index_vec_col=index_vec_col,
            adc_prune=adc_prune, adaptive_nprobe=adaptive_nprobe,
        )

    return _run_micro_batches(
        queries, probe, checkpoint,
        _sink_committed(queries.sparkSession, sink_path), "stream_ann_search",
    )


def stream_ann_index_add(
    vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: "str | None" = None,
    compact_every: "int | None" = None,
):
    """Streaming INGESTION into a persisted ANN index — the write-side
    twin of stream_ann_search, completing the index's streaming
    lifecycle (search serves, this ingests, compaction maintains):
    embedding rows flow in, each micro-batch is assigned/encoded with
    the SAVED model state and appended EXACTLY-ONCE via
    ``similarity.ann_index_add_batch`` (batch-stamped file renames +
    the add manifest — replays skip, crashed batches self-clean their
    partial files on redo). Probes over the index see each committed
    batch atomically at the file level.

    ``compact_every=N`` folds maintenance into the stream: after every
    Nth applied batch the index is compacted (crash-bounded swap, probes
    bit-identical), so steady-state fragmentation stays bounded at N
    add-batches instead of growing with stream lifetime — the rollup
    sink's compaction cadence applied to the ANN layout.

    ``checkpoint``: required once the add manifest exists (see
    _run_micro_batches)."""
    from ..operators import similarity

    def add(batch_df: DataFrame, batch_id: int) -> bool:
        return similarity.ann_index_add_batch(
            batch_df.sparkSession, index_path, batch_df, batch_id,
            id_col=id_col, vec_col=vec_col,
        )

    return _run_index_add(
        vectors, index_path, add, similarity.ann_index_compact,
        checkpoint, compact_every, "stream_ann_index_add",
    )


def winnow_index_dedup_batch(
    batch_df: DataFrame,
    index_path: str,
    sink_path: str,
    batch_id: int,
    threshold: float = 0.5,
    max_fingerprint_df: "int | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    evidence: bool = False,
) -> bool:
    """One idempotent micro-batch of APPEND-ONLY streaming winnow dedup:
    the scale form of winnow_dedup_append_batch. The versioned-ledger
    job REWRITES its whole state every trigger (O(corpus) per batch —
    correct, but the rewrite grows with stream lifetime); this form
    keeps the state in a persisted ``winnow_pos_index`` and each trigger
    only APPENDS the batch's fingerprints (O(batch)), with survivor
    flags landing in a batch_id-keyed sink partition instead of ledger
    rows.

    Decisions are the ledger job's (_winnow_decide, over the live index
    instead of the ledger — dropped docs' fingerprints are appended too,
    so they keep suppressing: the transitive-chain contract), and the
    batch is fingerprinted ONCE (robust positioned — the value sets the
    decisions need reduce losslessly) with the index's SAVED parameters.
    The index's add guards (the id-type check and the tombstoned-id
    refusal, _WinnowIndex.check_add) run once, BEFORE the sink write, so
    a batch the index refuses leaves no ``_batch_id`` partition behind.
    Exactly-once across the sink AND the index: the sink partition
    overwrites idempotently, the index append is the prefix-rename form
    (index_store.add_batch, as in winnow_index_add_batch), and the add
    manifest — checked here — advances only after both; a crash between them
    replays into identical decisions (the index is unchanged until the
    append) and overwrites its own partition. A crash INSIDE the append
    (after a staged-file rename, before the manifest) is the sharp edge:
    the replay's decision tiers would read the batch's own
    partially-committed ``b{batch_id}-`` fingerprint files and every
    such doc would self-match at Jaccard 1.0 — so the replay self-cleans
    the batch's prefix from ``fps.parquet`` FIRST, before anything reads
    it (the add would do the same clean, but the decisions are lazily
    evaluated at the sink write, which runs before the add).

    ``evidence=True`` applies the drop-evidence contract
    (winnow_dedup_append_batch's evidence form) to the SINK rows: each
    dropped row carries the sorted ``(other_id, jaccard, n_shared,
    n_anchors, start, end)`` structs justifying it — the persisted
    positioned index already holds exactly what the committed-side probe
    needs, so the append side is unchanged; decisions then derive from
    the span pair frames (equal to the value tiers' at cap=None;
    tested bit-equal to the evidence ledger over the same feed)."""
    from ..operators import dedup as dd

    spark = batch_df.sparkSession
    if index_store.batch_committed(spark, index_path, batch_id):
        return False
    index_store.drop_partial_batch(spark, index_path, "fps.parquet", batch_id)
    ix = dd._open_winnow_index(spark, index_path)
    ix.check_add(batch_df, id_col)
    bpf = _fingerprint_batch(
        batch_df, id_col, text_col, positioned=True, **ix.params
    )
    bfp, committed = (
        (bpf, ix.fps) if evidence
        else (dd._value_sets(bpf), dd._value_sets(ix.fps))
    )
    flagged = _winnow_decide(
        batch_df, bfp, committed, id_col, text_col, evidence,
        threshold=threshold, max_fingerprint_df=max_fingerprint_df,
        **ix.params,
    ).drop(bfp.columns[1])
    _write_batch_partition(flagged, sink_path, batch_id)
    index_store.add_batch(
        spark, index_path, "fps.parquet", batch_id,
        lambda staging: bpf.filter(F.size("pfps") > 0)
        .write.mode("overwrite").parquet(staging),
    )
    return True


def stream_winnow_index_dedup(
    docs: DataFrame,
    index_path: str,
    sink_path: str,
    threshold: float = 0.5,
    max_fingerprint_df: "int | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: "str | None" = None,
    compact_every: "int | None" = None,
    evidence: bool = False,
):
    """APPEND-ONLY streaming winnow near-dedup over a persisted
    positioned index — the scale twin of stream_near_dedup_winnow (see
    winnow_index_dedup_batch for the per-trigger contract): state grows
    by O(batch) appends instead of O(corpus) ledger rewrites, survivor
    flags land in batch_id-keyed sink partitions, and ``compact_every``
    folds winnow_index_compact in at a cadence so steady-state
    fragmentation stays bounded. Feeding batches in id order makes the
    union of sink partitions match the versioned-ledger job's
    (doc, survivor) outcome bit-for-bit when the stop-gram cap is None
    (tested). ``evidence=True`` adds the drop-evidence structs to the
    sink rows (winnow_index_dedup_batch's evidence contract).

    ``checkpoint``: required once the index's add manifest exists (see
    _run_micro_batches)."""
    from ..operators import dedup as dd

    def add(batch_df: DataFrame, batch_id: int) -> bool:
        return winnow_index_dedup_batch(
            batch_df, index_path, sink_path, batch_id,
            threshold=threshold, max_fingerprint_df=max_fingerprint_df,
            id_col=id_col, text_col=text_col, evidence=evidence,
        )

    return _run_index_add(
        docs, index_path, add, dd.winnow_index_compact,
        checkpoint, compact_every, "stream_winnow_index_dedup",
    )


def decontaminate_spans_batch(
    batch_df: DataFrame,
    index_path: str,
    sink_path: str,
    batch_id: int,
    threshold: float = 0.5,
    max_fingerprint_df: "int | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One idempotent micro-batch of streaming passage-level
    decontamination: scrub each incoming doc's benchmark-overlap spans
    against a FROZEN persisted winnow-pos index (the winnow-index CLI's
    layout; fingerprint parameters load from its meta) and land
    ``(id, scrubbed, n_cut, n_spans)`` in a batch_id-keyed partition —
    the ann_search_batch idempotency contract (replays overwrite their
    own partition). The benchmark index is static by design: it is the
    contamination DEFINITION, not state — refreshes are a restart,
    exactly like stream_ann_search's index and stream_bm25_score's
    frozen stats. Docs never suppress each other across batches here
    (that is the ledger-stateful stream_span_scrub_winnow); this job is
    the scan-side privacy/contamination pass."""
    from ..operators.dedup import winnow_index_scrub

    out = winnow_index_scrub(
        batch_df.sparkSession, index_path, batch_df,
        id_col=id_col, text_col=text_col, threshold=threshold,
        max_fingerprint_df=max_fingerprint_df,
    )
    _write_batch_partition(out, sink_path, batch_id)


def stream_decontaminate_spans(
    docs: DataFrame,
    index_path: str,
    sink_path: str,
    threshold: float = 0.5,
    max_fingerprint_df: "int | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: "str | None" = None,
):
    """Streaming passage-level decontamination — incoming documents lose
    the covering spans they share with a frozen benchmark's persisted
    positioned winnow index and flow on scrubbed (decontaminate_spans_
    batch per trigger; stateless, no watermark). Emits rows bit-identical
    to the batch winnow_index_scrub over the same input (tested).

    ``checkpoint``: required once the sink holds output (see
    _run_micro_batches)."""

    def scrub(batch_df: DataFrame, batch_id: int) -> None:
        decontaminate_spans_batch(
            batch_df, index_path, sink_path, batch_id,
            threshold=threshold, max_fingerprint_df=max_fingerprint_df,
            id_col=id_col, text_col=text_col,
        )

    return _run_micro_batches(
        docs, scrub, checkpoint, _sink_committed(docs.sparkSession, sink_path),
        "stream_decontaminate_spans",
    )


def stream_bm25_score(
    docs: DataFrame,
    queries: "dict[str, list[str]]",
    stats: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Streaming BM25 retrieval hits: score a DOCUMENT STREAM against a
    frozen query set — the ingest-time retrieval monitor (which incoming
    documents hit which decontamination-triage / quality-probe queries,
    and how hard). The streaming member of the BM25 family
    (operators/text.bm25_topk / bm25_topk_batch / bm25_topk_inverted).

    ``stats`` MUST be precomputed over a reference corpus
    (text.bm25_corpus_stats) and is frozen for the stream's lifetime —
    idf/avgdl are properties of the reference distribution, exactly like
    the fitted vocabulary/model artifacts the scorer seam freezes; there
    is deliberately no stats-drift inside the stream (recompute stats and
    restart to re-baseline, the same contract as a model refresh).

    Emits one row per (document, query-with-a-term-hit): a stateless pure
    map (bounded HOF tf columns + literal score arithmetic + array-side
    zero filter), so it needs no watermark, no state store, and no
    shuffle — append-mode safe at any stream volume. Global top-k over
    the unbounded stream is a different operator (stream_running_topk);
    compose downstream if ranks are needed."""
    from ..operators.text import bm25_score_hits

    if not stats.get("n"):
        raise ValueError(
            "stats must come from a non-empty reference corpus "
            "(text.bm25_corpus_stats); the batch form's empty-corpus "
            "result has no streaming equivalent"
        )
    return bm25_score_hits(
        docs, queries, stats, id_col=id_col, text_col=text_col, k1=k1, b=b
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming DataFrame into an in-memory sink (test harness)."""
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
