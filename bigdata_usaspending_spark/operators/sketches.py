"""Mergeable probabilistic sketches: t-digest quantiles and Bloom filters.

Completes the sketch family alongside the HLL distinct sketches in
operators/aggregates.py (hll_distinct_audit / hll_intersection_audit) and
the Misra-Gries heavy hitters. The 100-TB story is identical for all of
them: bounded per-group state, map-side partial aggregation, and partials
that can be PERSISTED and re-merged to any coarser rollup later without
rescanning the facts — the property exact computations lack.

t-digest (Dunning & Ertl, "Computing extremely accurate quantiles using
t-digests") here is the fully-vectorized MERGING variant:

- a digest is a sorted centroid list (means[], weights[]) of bounded size
  (<= ~2*delta centroids) built by clustering sorted values under the k1
  scale function k(q) = delta/(2pi) * asin(2q-1), which concentrates
  resolution at the tails;
- building and merging are the SAME numpy kernel (_compress): sort by
  mean, take each centroid's mid-quantile, floor(k1(q)) assigns a cluster
  id, np.add.reduceat folds weights/weighted-means per cluster — no
  per-value Python loop, deterministic for a given input order;
- merge(concat(digest_a, digest_b)) is how partials combine, so per-
  (group, day) digests stored as arrays re-roll to per-group monthlies
  with a groupBy + one kernel call.

Estimates are approximate by construction, so the corpus query follows the
HLL-audit contract: the oracle-checkable output carries the EXACT quantile
witness (Spark's percentile is bit-identical to DuckDB quantile_cont, see
plans/corpus_ts.q_quantile_summary) plus booleans asserting the digest
estimate lands within rel_err — drift is visible, not silent.

The Bloom filter is the probe-side prefilter for incremental dedup
(dedup.dedup_against_index_bloom): build one compact bitmap over a batch's
keys (per-partition partial bitmaps, OR-reduced — a bitwise-max sketch,
layout-insensitive like HLL registers), broadcast it, and filter a
corpus-sized index SCAN down to near-hits before any join. Hashing is
double-hashing over two JVM-side xxhash64 columns, so the Python kernel
never touches strings.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io import num_partitions


# --------------------------------------------------------------------------
# t-digest kernel
# --------------------------------------------------------------------------

def _k1(q: np.ndarray, delta: float) -> np.ndarray:
    """k1 scale function: tail-accurate cluster sizing."""
    return delta / (2.0 * np.pi) * np.arcsin(np.clip(2.0 * q - 1.0, -1.0, 1.0))


def _compress(
    means: np.ndarray, weights: np.ndarray, delta: float
) -> tuple[np.ndarray, np.ndarray]:
    """Cluster (means, weights) into <= ~2*delta centroids under k1.

    Vectorized: cluster id = floor(k1(mid-quantile)); equal ids fold via
    np.add.reduceat. Deterministic (stable sort, fixed fold order).
    """
    if means.size == 0:
        return means.astype(np.float64), weights.astype(np.float64)
    order = np.argsort(means, kind="stable")
    m = means[order].astype(np.float64)
    w = weights[order].astype(np.float64)
    total = w.sum()
    cum = np.cumsum(w)
    mid_q = (cum - 0.5 * w) / total
    cid = np.floor(_k1(mid_q, delta)).astype(np.int64)
    # reduceat segment starts: first index of each distinct cluster id
    starts = np.flatnonzero(np.r_[True, cid[1:] != cid[:-1]])
    w_out = np.add.reduceat(w, starts)
    m_out = np.add.reduceat(m * w, starts) / w_out
    return m_out, w_out


def _digest_quantiles(
    means: np.ndarray, weights: np.ndarray, qs: Sequence[float]
) -> np.ndarray:
    """Piecewise-linear interpolation between centroid centers (clamped to
    the extreme centroid means at the tails)."""
    if means.size == 0:
        return np.full(len(qs), np.nan)
    total = weights.sum()
    centers = np.cumsum(weights) - 0.5 * weights
    targets = np.asarray(qs, dtype=np.float64) * total
    return np.interp(targets, centers, means)


# --------------------------------------------------------------------------
# t-digest DataFrame operators
# --------------------------------------------------------------------------

def tdigest_groups(
    df: DataFrame,
    value_col: str,
    group_col: "str | Sequence[str]",
    delta: float = 200.0,
) -> DataFrame:
    """Per-group t-digest: (group cols..., means array<double>, weights
    array<double>), one row per group. ``group_col`` may be a composite
    key (e.g. ``(priority, month)``) — the persisted fine-bucket form that
    later re-merges to coarser rollups.

    Two stages, mirroring any mergeable-sketch aggregation:

    1. partials — mapInPandas over the scan builds one digest per
       (group, arrow-batch): sort the batch's values, one _compress call.
       State per task is bounded (groups-in-batch x 2*delta doubles);
       nothing shuffles yet.
    2. merge — groupBy(group).applyInPandas concatenates the partial
       centroid lists and re-compresses. The shuffle moves DIGESTS
       (bounded rows of <= 2*delta centroids), not values — at 100 TB the
       shuffle volume is O(groups x partitions x delta), independent of
       row count.

    The output arrays are a storable sketch: persist them per fine bucket
    and re-merge to coarser rollups with merge_tdigests.
    """
    gcols = [group_col] if isinstance(group_col, str) else list(group_col)
    return merge_tdigests(tdigest_partials(df, value_col, gcols, delta), gcols, delta)


def tdigest_partials(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    delta: float = 200.0,
) -> DataFrame:
    """Stage-1 per-(group, arrow-batch) digest partials — the un-merged
    form. Exposed so one scan can feed several rollup granularities:
    merge_tdigests(partials, coarser_keys) drops the finer key columns and
    folds their digests together."""
    gcols = list(group_cols)
    gtypes = ", ".join(
        f"{g} {df.schema[g].dataType.simpleString()}" for g in gcols
    )
    partial_schema = f"{gtypes}, means array<double>, weights array<double>"

    def build_partials(batches):
        # mapInArrow, not mapInPandas: group-by and value extraction stay
        # in Arrow/C++ (a pandas conversion would materialize every string
        # group key as a Python object — measured as the dominant cost of
        # this stage at sf0.1). Centroids accumulate per group across the
        # WHOLE partition (state bounded: groups x ~16*delta doubles,
        # folded early), emitting ONE row per (group, partition) — per-
        # batch emission would multiply the merge stage's input by the
        # batch count.
        import pyarrow as pa

        acc: dict[tuple, tuple[list, list]] = {}
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            grouped = tbl.group_by(gcols).aggregate([(value_col, "list")])
            vcol = grouped.column(f"{value_col}_list")
            kcols = [grouped.column(g) for g in gcols]
            for i in range(grouped.num_rows):
                # NULL group keys form their own group, matching Spark's
                # groupBy (dropping them would silently omit the null
                # group from rollups where an exact aggregation keeps it)
                key = tuple(k[i].as_py() for k in kcols)
                vals = np.asarray(vcol[i].values, dtype=np.float64)
                vals = vals[~np.isnan(vals)]
                if vals.size == 0:
                    continue
                # append RAW weight-1 values; compress lazily in big chunks
                # (one _compress over 8k values beats dozens over 200) —
                # state stays bounded at ~8k doubles per group
                ms, ws = acc.setdefault(key, ([], []))
                ms.append(vals)
                ws.append(np.ones_like(vals))
                if sum(a.size for a in ms) >= 8192:
                    m2, w2 = _compress(np.concatenate(ms), np.concatenate(ws), delta)
                    ms.clear(); ws.clear()
                    ms.append(m2); ws.append(w2)
        if not acc:
            return
        # None-safe deterministic order (None sorts first within its column)
        keys = sorted(acc, key=lambda k: tuple((x is not None, x) for x in k))
        digs = [
            _compress(np.concatenate(acc[k][0]), np.concatenate(acc[k][1]), delta)
            for k in keys
        ]
        arrays = [
            pa.array([k[j] for k in keys], type=tbl.schema.field(g).type)
            for j, g in enumerate(gcols)
        ] + [
            pa.array([d[0] for d in digs], type=pa.list_(pa.float64())),
            pa.array([d[1] for d in digs], type=pa.list_(pa.float64())),
        ]
        yield pa.RecordBatch.from_arrays(arrays, gcols + ["means", "weights"])

    return df.select(*gcols, value_col).mapInArrow(
        build_partials, schema=partial_schema
    )


def merge_tdigests(
    partials: DataFrame, group_col: "str | Sequence[str]", delta: float = 200.0
) -> DataFrame:
    """Merge per-group digest partials (rows of means[]/weights[]) into one
    digest row per group — the re-rollup path for persisted sketches.
    ``partials`` may carry FINER keys than ``group_col`` (per-(group, day)
    digest rows re-rolling to per-group): extra columns are dropped and
    their digests folded together."""
    gcols = [group_col] if isinstance(group_col, str) else list(group_col)
    out_schema = ", ".join(
        f"{g} {partials.schema[g].dataType.simpleString()}" for g in gcols
    ) + ", means array<double>, weights array<double>"

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.concatenate([np.asarray(a, dtype=np.float64) for a in pdf["means"]])
        w = np.concatenate([np.asarray(a, dtype=np.float64) for a in pdf["weights"]])
        mm, mw = _compress(m, w, delta)
        return pd.DataFrame(
            [{**dict(zip(gcols, key)), "means": mm, "weights": mw}]
        )

    return partials.groupBy(*gcols).applyInPandas(merge, schema=out_schema)


def tdigest_quantile_audit(
    df: DataFrame,
    value_col: str,
    group_col: str,
    qs: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
    delta: float = 200.0,
    rel_err: float = 0.05,
    fine_col=None,
) -> DataFrame:
    """Per-group EXACT quantiles (the oracle-verifiable witness) plus one
    boolean per requested quantile asserting the t-digest estimate lands
    within rel_err of it — the hll_distinct_audit contract applied to
    quantiles. With ``fine_col`` the audit also exercises the PERSISTED
    partial path — per-(group, fine) digest rows re-merged to the group —
    emitting ``pXX_merged_ok`` booleans, so a broken merge turns the gate
    red exactly like a broken direct build. A production pipeline keeps
    the digests and drops the exact witness, at which point no full
    values shuffle at all.

    Scope note: rows whose ``group_col`` is NULL are excluded from the
    AUDIT output (the equi-joins between the witness and the digest sides
    drop the null group, as SQL equality on NULL does); the underlying
    ``tdigest_groups`` itself keeps the null group like any other. A group
    whose VALUES are entirely null/NaN produces no digest row; the audit
    LEFT-joins from the exact witness, so such a group stays visible with
    null exact percentiles and null audit booleans rather than silently
    vanishing from the output."""
    q_list = [float(q) for q in qs]

    @F.pandas_udf("array<double>")
    def est_udf(means: pd.Series, weights: pd.Series) -> pd.Series:
        out = []
        for m, w in zip(means, weights):
            out.append(
                _digest_quantiles(
                    np.asarray(m, dtype=np.float64),
                    np.asarray(w, dtype=np.float64),
                    q_list,
                )
            )
        return pd.Series(out)

    merged_est = None
    if fine_col is not None:
        # ONE scan feeds both paths: per-(group, fine, batch) partials are
        # merged straight to the group (the direct estimate) AND through
        # the persisted per-fine granularity first (the re-rollup
        # estimate, one extra compression deep).
        fine = fine_col if not isinstance(fine_col, str) else F.col(fine_col)
        # hash the fine bucket to a long: pandas groups ints far faster
        # than timestamps/strings, and the bucket identity is all that
        # matters (the fine key never appears in the output)
        partials = tdigest_partials(
            df.withColumn("_fine", F.xxhash64(fine)),
            value_col,
            [group_col, "_fine"],
            delta,
        ).localCheckpoint(eager=False)
        digests = merge_tdigests(partials, group_col, delta)
        fine_digests = merge_tdigests(partials, [group_col, "_fine"], delta)
        merged = merge_tdigests(fine_digests, group_col, delta)
        merged_est = merged.select(
            group_col, est_udf("means", "weights").alias("_mest")
        )
    else:
        digests = tdigest_groups(df, value_col, group_col, delta)
    est = digests.select(group_col, est_udf("means", "weights").alias("_est"))
    exact = (
        df.groupBy(group_col)
        .agg(
            F.percentile(
                F.col(value_col).cast("double"),
                F.array(*[F.lit(q) for q in q_list]),
            ).alias("_exact")
        )
    )
    tol = F.lit(float(rel_err))
    cols = [F.col(group_col)]
    audits = []

    def within(est_col, i):
        # difference-form relative check: abs(est-exact) <= tol*abs(exact).
        # The ratio form (est/exact - 1) NaNs out when the exact quantile
        # is 0 (legitimately possible — e.g. p25 of a >=25%-zero column)
        # and a NaN comparison reads as FALSE, failing a perfect estimate;
        # here exact=0 demands est==0, and est=exact always passes.
        exact_i = F.element_at("_exact", i)
        return F.abs(est_col - exact_i) <= tol * F.abs(exact_i)

    for i, q in enumerate(q_list, start=1):
        name = f"p{int(round(q * 100)):02d}"
        cols.append(F.element_at("_exact", i).alias(name))
        audits.append(within(F.element_at("_est", i), i).alias(f"{name}_est_ok"))
        if merged_est is not None:
            audits.append(
                within(F.element_at("_mest", i), i).alias(f"{name}_merged_ok")
            )
    out = exact.join(F.broadcast(est), [group_col], "left")
    if merged_est is not None:
        out = out.join(F.broadcast(merged_est), [group_col], "left")
    return out.select(*cols, *audits).orderBy(group_col)


# --------------------------------------------------------------------------
# shared double-hashing kernel (bloom + count-min)
# --------------------------------------------------------------------------

def _double_hash_positions(
    h1: np.ndarray, h2: np.ndarray, n_probes: int, modulus: int
) -> np.ndarray:
    """(n, n_probes) positions via double hashing h1 + i*h2 in uint64
    wraparound arithmetic — the ONE implementation both sketches share so
    build- and probe-side (and bloom-vs-CMS) can never drift apart.

    The stride is forced ODD (``h2 | 1``): a key whose raw h2 were 0 (or a
    multiple of the modulus) would otherwise collapse all n_probes positions
    onto h1's slot, giving that key one effective probe — raising the Bloom
    fp rate and voiding the CMS depth guarantee for ~1/modulus of keys. An
    odd stride is also coprime to every power-of-two modulus, so the probe
    sequence never cycles early."""
    u1 = h1.astype(np.int64).view(np.uint64)
    u2 = h2.astype(np.int64).view(np.uint64) | np.uint64(1)
    i = np.arange(n_probes, dtype=np.uint64)
    return (u1[:, None] + i[None, :] * u2[:, None]) % np.uint64(modulus)


def _tree_merge_partials(partials: DataFrame, merge_fn, schema: str, fanin: int):
    """Executor-side tree reduction of per-partition sketch partial rows.

    ``partials`` has at most one row per upstream partition (each a packed
    sketch: a CMS counter matrix or a Bloom bitmap). Collecting them raw is
    O(partitions) driver traffic — fine at dozens of partitions, a
    scale-killer at the 1e5–1e6 tasks a 100-TB scan produces (hundreds of
    GB through the driver). Because these sketches are linear (CMS: +) or
    bitwise-max (Bloom: |) mergeable, each tree level repartitions the
    partial rows fanin-fold fewer and streams them through ``merge_fn`` —
    the SAME accumulate-in-one-buffer mapInPandas pattern as the build, so
    a merge task holds one accumulator plus one Arrow batch, never a whole
    group. The driver then collects <= fanin rows regardless of input
    partition count. Levels are derived from getNumPartitions() (plan
    metadata, no job); the whole chain stays lazy and executes once."""
    if fanin < 2:
        # ceil(n / 1) never shrinks — the level loop would append
        # repartition nodes forever
        raise ValueError(f"fanin must be >= 2, got {fanin}")
    n = num_partitions(partials)
    while n > fanin:
        n = max(1, -(-n // fanin))
        partials = partials.repartition(n).mapInPandas(merge_fn, schema=schema)
    return partials.collect()


# --------------------------------------------------------------------------
# count-min sketch
# --------------------------------------------------------------------------

class CountMinSketch:
    """Count-min sketch: a (depth x width) int64 counter matrix. Point
    estimate = min over rows of the counter at each row's hash position —
    NEVER an undercount; overcount <= e/width * N with probability
    1 - (1/e)^depth. Partial sketches merge by element-wise ADD (counter
    matrices are linear), the same layout-insensitive property the Bloom
    bitmap gets from OR."""

    def __init__(self, counts: np.ndarray):
        self.counts = counts  # (depth, width) int64

    @property
    def depth(self) -> int:
        return self.counts.shape[0]

    @property
    def width(self) -> int:
        return self.counts.shape[1]

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """(depth, n) positions — row j probes (h1 + j*h2) mod width
        (the shared kernel, transposed)."""
        return _double_hash_positions(h1, h2, self.depth, self.width).T.astype(
            np.int64
        )

    def add_array(self, h1: np.ndarray, h2: np.ndarray) -> None:
        pos = self._positions(h1, h2)
        for j in range(self.depth):
            np.add.at(self.counts[j], pos[j], 1)

    def estimate(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        pos = self._positions(h1, h2)
        per_row = np.stack([self.counts[j][pos[j]] for j in range(self.depth)])
        return per_row.min(axis=0)


def cms_build(
    df: DataFrame, col: str, width: int = 1 << 16, depth: int = 5,
    fanin: int = 32,
) -> CountMinSketch:
    """Distributed CMS build: per-partition partial matrices (depth*width*8
    bytes each — 2.6 MiB at the defaults) are tree-merged EXECUTOR-side by
    element-wise sum (counter matrices are linear), so the driver receives
    at most ``fanin`` partials no matter how many scan tasks ran — at a
    100-TB scan's 1e5+ partitions the raw collect would push hundreds of
    GB through the driver. Hashes are the same JVM-side xxhash64 pair the
    Bloom filter uses."""
    h1, h2 = _hash_cols(col)
    hashed = df.select(h1.alias("_h1"), h2.alias("_h2"))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk = CountMinSketch(np.zeros((depth, width), dtype=np.int64))
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            seen = True
            sk.add_array(
                pdf["_h1"].to_numpy(dtype=np.int64),
                pdf["_h2"].to_numpy(dtype=np.int64),
            )
        if seen:
            yield pd.DataFrame({"counts": [sk.counts.tobytes()]})

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            for buf in pdf["counts"]:
                m = np.frombuffer(buf, dtype=np.int64).reshape(depth, width)
                acc = m.copy() if acc is None else acc + m
        if acc is not None:
            yield pd.DataFrame({"counts": [acc.tobytes()]})

    parts = _tree_merge_partials(
        hashed.mapInPandas(partial, schema="counts binary"),
        merge, "counts binary", fanin,
    )
    counts = np.zeros((depth, width), dtype=np.int64)
    for row in parts:
        counts += np.frombuffer(row["counts"], dtype=np.int64).reshape(
            depth, width
        )
    return CountMinSketch(counts)


def cms_merge(a: CountMinSketch, b: CountMinSketch) -> CountMinSketch:
    """Element-wise sum of same-shape sketches (linearity)."""
    if a.counts.shape != b.counts.shape:
        raise ValueError("count-min sketches have different shapes")
    return CountMinSketch(a.counts + b.counts)


def cms_frequency_audit(
    df: DataFrame,
    value_col: str,
    top_n: int = 20,
    width: int = 1 << 16,
    depth: int = 5,
) -> DataFrame:
    """CMS point-frequency estimates audited against exact counts for the
    ``top_n`` most frequent values (deterministic witness set) — the
    hll_distinct_audit contract for frequencies.

    ``est_never_under`` is a HARD CMS guarantee (min of non-decreasing
    counters), so a FALSE is always a bug. ``est_within_bound`` checks the
    epsilon bound e/width * N — probabilistic in general, deterministic
    here for fixed data and seeds. N is read off the sketch itself (every
    add increments exactly one counter per depth row, so row 0 sums to N)
    — no extra scan."""
    exact = (
        df.groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc(value_col))
        .limit(top_n)
    )
    sketch = cms_build(df, value_col, width, depth)
    total = int(sketch.counts[0].sum())
    bound = int(np.ceil(np.e / width * total))
    bc = df.sparkSession.sparkContext.broadcast(
        (sketch.counts.tobytes(), depth, width)
    )

    @F.pandas_udf("long")
    def est_udf(h1: pd.Series, h2: pd.Series) -> pd.Series:
        raw, d, w = bc.value
        sk = CountMinSketch(np.frombuffer(raw, dtype=np.int64).reshape(d, w))
        return pd.Series(
            sk.estimate(
                h1.to_numpy(dtype=np.int64), h2.to_numpy(dtype=np.int64)
            )
        )

    h1, h2 = _hash_cols(value_col)
    return (
        exact.withColumn("_est", est_udf(h1, h2))
        .select(
            value_col,
            "exact_count",
            (F.col("_est") >= F.col("exact_count")).alias("est_never_under"),
            (F.col("_est") <= F.col("exact_count") + F.lit(bound)).alias(
                "est_within_bound"
            ),
        )
        .orderBy(F.desc("exact_count"), F.asc(value_col))
    )


# --------------------------------------------------------------------------
# Bloom filter
# --------------------------------------------------------------------------

class BloomFilter:
    """Immutable packed-bitmap Bloom filter (num_bits bits in uint64 words,
    num_hashes double-hashing probes). Built distributed, probed broadcast."""

    def __init__(self, words: np.ndarray, num_bits: int, num_hashes: int):
        self.words = words
        self.num_bits = int(num_bits)
        self.num_hashes = int(num_hashes)

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """(n, num_hashes) bit positions (the shared kernel)."""
        return _double_hash_positions(h1, h2, self.num_hashes, self.num_bits)

    def add_array(self, h1: np.ndarray, h2: np.ndarray) -> None:
        pos = self._positions(h1, h2).ravel()
        np.bitwise_or.at(
            self.words, (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )

    def maybe_contains(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        pos = self._positions(h1, h2)
        bits = (
            self.words[(pos >> np.uint64(6)).astype(np.int64)]
            >> (pos & np.uint64(63))
        ) & np.uint64(1)
        return bits.all(axis=1)


def _hash_cols(col: str) -> tuple[Column, Column]:
    """Two independent 64-bit hashes computed JVM-side (codegen'd), so the
    Arrow kernels only ever see int64 columns."""
    return F.xxhash64(F.col(col)), F.xxhash64(F.col(col), F.lit(1))


def bloom_params(expected_keys: int, fp: float = 0.01) -> tuple[int, int]:
    """Size a Bloom filter for ``expected_keys`` distinct keys at false-
    positive rate ``fp``: num_bits = ceil(1.44 * n * log2(1/fp)) rounded up
    to a whole 64-bit word, num_hashes = the optimal ln2 * bits/n. Worked
    defaults: 1% fp costs ~9.6 bits/key, so 2^23 bits (1 MiB) holds ~877k
    keys; 5.8M keys at 1% need ~2^26 bits (8 MiB); 100M keys ~120 MiB."""
    if expected_keys <= 0:
        raise ValueError("expected_keys must be positive")
    if not 0.0 < fp < 1.0:
        raise ValueError("fp must be in (0, 1)")
    import math

    num_bits = math.ceil(1.44 * expected_keys * math.log2(1.0 / fp))
    num_bits = ((num_bits + 63) // 64) * 64
    num_hashes = max(1, round(math.log(2.0) * num_bits / expected_keys))
    return num_bits, num_hashes


def bloom_build(
    df: DataFrame, col: str, num_bits: int = 1 << 23, num_hashes: int = 5,
    fanin: int = 32,
) -> BloomFilter:
    """Distributed Bloom build: each partition emits ONE packed partial
    bitmap (num_bits/8 bytes); partials are tree-merged EXECUTOR-side by
    bitwise OR (bitmaps are bitwise-max state, independent of partitioning
    and row order), so the driver receives at most ``fanin`` bitmaps no
    matter how many scan tasks ran.

    Sizing: ~1.44 * n * log2(1/fp) bits — at 1% fp that is ~9.6 bits/key,
    so the default 2^23 bits (1 MiB) holds ~877k keys; beyond that the fp
    rate climbs fast (~85% at 5.8M keys). Size larger filters with
    bloom_params(expected_keys, fp) instead of guessing.
    """
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    h1, h2 = _hash_cols(col)
    hashed = df.select(h1.alias("_h1"), h2.alias("_h2"))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bf = BloomFilter(
            np.zeros(num_bits // 64, dtype=np.uint64), num_bits, num_hashes
        )
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            seen = True
            bf.add_array(
                pdf["_h1"].to_numpy(dtype=np.int64),
                pdf["_h2"].to_numpy(dtype=np.int64),
            )
        if seen:
            yield pd.DataFrame({"bitmap": [bf.words.tobytes()]})

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            for buf in pdf["bitmap"]:
                w = np.frombuffer(buf, dtype=np.uint64)
                acc = w.copy() if acc is None else acc | w
        if acc is not None:
            yield pd.DataFrame({"bitmap": [acc.tobytes()]})

    parts = _tree_merge_partials(
        hashed.mapInPandas(partial, schema="bitmap binary"),
        merge, "bitmap binary", fanin,
    )
    words = np.zeros(num_bits // 64, dtype=np.uint64)
    for row in parts:
        words |= np.frombuffer(row["bitmap"], dtype=np.uint64)
    return BloomFilter(words, num_bits, num_hashes)


def bloom_save(bloom: BloomFilter, path: str) -> None:
    """Persist a Bloom filter as header JSON + raw bitmap, written
    atomically (tmp + rename) so a reader never sees a torn artifact. An
    incremental-dedup pipeline stores this next to the fingerprint index
    and unions new batches in by rebuilding or OR-ing bitmaps."""
    import json
    import os

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    header = json.dumps(
        {"num_bits": bloom.num_bits, "num_hashes": bloom.num_hashes}
    ).encode()
    with open(tmp, "wb") as fh:
        fh.write(len(header).to_bytes(4, "big"))
        fh.write(header)
        fh.write(bloom.words.tobytes())
    os.replace(tmp, path)


def bloom_load(path: str) -> BloomFilter:
    import json

    with open(path, "rb") as fh:
        hlen = int.from_bytes(fh.read(4), "big")
        meta = json.loads(fh.read(hlen))
        words = np.frombuffer(fh.read(), dtype=np.uint64).copy()
    if words.size * 64 != meta["num_bits"]:
        raise ValueError(f"corrupt bloom artifact {path}: bitmap size mismatch")
    return BloomFilter(words, meta["num_bits"], meta["num_hashes"])


def bloom_merge(a: BloomFilter, b: BloomFilter) -> BloomFilter:
    """Union two filters built with identical parameters (bitwise OR —
    the same layout-insensitive merge the distributed build uses)."""
    if (a.num_bits, a.num_hashes) != (b.num_bits, b.num_hashes):
        raise ValueError("bloom filters have different parameters")
    return BloomFilter(a.words | b.words, a.num_bits, a.num_hashes)


def bloom_filter_rows(df: DataFrame, col: str, bloom: BloomFilter) -> DataFrame:
    """Keep rows whose ``col`` MAY be in the filter (no false negatives).
    The bitmap rides an explicit broadcast variable; the probe is one
    vectorized kernel over JVM-computed hashes — a scan-side prefilter
    that never shuffles ``df``."""
    bc = df.sparkSession.sparkContext.broadcast(
        (bloom.words.tobytes(), bloom.num_bits, bloom.num_hashes)
    )

    @F.pandas_udf("boolean")
    def maybe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        wb, nb, nh = bc.value
        bf = BloomFilter(np.frombuffer(wb, dtype=np.uint64), nb, nh)
        return pd.Series(
            bf.maybe_contains(
                h1.to_numpy(dtype=np.int64), h2.to_numpy(dtype=np.int64)
            )
        )

    h1, h2 = _hash_cols(col)
    return df.filter(maybe(h1, h2))
