"""Aggregation operators (SURVEY.md §2.4).

All grouped sums use exact-decimal accumulation (functions.exact_sum) so the
result is independent of partition/merge order — a correctness property the
reference silently lacked with float money, and a necessary condition for comparing
against a single-threaded oracle at any scale.

Every groupBy here compiles to partial (map-side) + final hash aggregation
with a single shuffle on the grouping keys; AQE coalesces the post-shuffle
partitions at runtime.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import exact_sum, month_of


def sum_by_key(
    df: DataFrame, keys: Sequence[str], amount_col: str, alias: str = "total_award_amount"
) -> DataFrame:
    """Grouped SUM with 1+ grouping keys (reference A1/A2:
    app/spark_cassandra_etl_award_amount_aggregator.py:83-85,
    app/spark_cassandra_groupby.py:68-72)."""
    return df.groupBy(*keys).agg(exact_sum(amount_col, alias))


def sum_by_month(
    df: DataFrame,
    key: str,
    date_col: str,
    amount_col: str,
    alias: str = "total_award_amount",
) -> DataFrame:
    """Grouped SUM by (key, calendar month) — tumbling 1-month bucket
    (reference A3: app/spark_cassandra_groupby_month.py:25-32)."""
    return df.groupBy(F.col(key), month_of(date_col).alias("month")).agg(
        exact_sum(amount_col, alias)
    )


def value_counts(df: DataFrame, col: str, alias: str = "cnt") -> DataFrame:
    """GROUP BY col COUNT(*) — replaces the reference's driver-side
    collections.Counter full-table pull (A5:
    app/fetch_recipient_name_geo_data.py:99-105)."""
    return df.groupBy(col).agg(F.count(F.lit(1)).alias(alias))


def distinct_counts(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """COUNT(DISTINCT c) for several columns in ONE pass (reference A4 ran one
    job per column: app/machine_learning_models.py:159-167)."""
    return df.agg(
        *[F.countDistinct(c).alias(f"d_{c}") for c in cols]
    )


def exact_median(df: DataFrame, col: str, alias: str = "median") -> DataFrame:
    """Deterministic exact median (reference A6 used approxQuantile p=0.5,
    app/machine_learning_models.py:237-238; we compute the exact quantity so
    an external oracle can reproduce it bit-for-bit).

    Uses the built-in exact ``percentile`` aggregate: per-partition
    value->count maps, partial-aggregated map-side and merged — no global
    sort, no single-partition window (the round-1 formulation funneled the
    whole table through one task). Interpolation for even counts is
    ``0.5*lo + 0.5*hi`` in doubles, which an oracle reproduces exactly.
    Merge memory is O(distinct values); for unbounded value domains at
    cluster scale use ``median_approx`` (bounded-memory sketch).
    """
    return df.agg(F.percentile(F.col(col).cast("double"), F.lit(0.5)).alias(alias))


def median_approx(
    df: DataFrame, col: str, accuracy: int = 10000, alias: str = "median"
) -> DataFrame:
    """The 100-TB threshold path: ``percentile_approx`` (Greenwald-Khanna
    sketch — mergeable, memory bounded by ``accuracy`` regardless of value
    cardinality; rank error <= n/accuracy). Matches the reference's own
    semantics (approxQuantile err=0.001, app/machine_learning_models.py:237)."""
    return df.agg(
        F.percentile_approx(F.col(col).cast("double"), F.lit(0.5), F.lit(accuracy)).alias(alias)
    )


def median_approx_audit(
    df: DataFrame, col: str, accuracy: int = 10000
) -> DataFrame:
    """``median_approx`` upgraded to the audit contract (the CMS/HLL
    pattern): the GK sketch's estimate is approximate and so not portably
    reproducible, but its RANK GUARANTEE is exact and checkable — the
    returned value's rank must land within n/accuracy of n/2
    (percentile_approx's documented bound). Output is fully
    oracle-verifiable: exact non-null count, the exact median witness
    (the q_approx_median bridge), and ``est_rank_ok`` pinned TRUE.

    Two passes, both single-aggregate scans: (1) GK estimate + exact
    median + count in one aggregate (all non-distinct — no Expand);
    (2) the estimate's rank interval [count(v < est)+1, count(v <= est)]
    via a 1-row broadcast. A tie-aware overlap test against
    [floor((0.5-eps)n), ceil((0.5+eps)n)] makes the boolean exact."""
    v = F.col(col).cast("double")
    one = df.agg(
        F.percentile_approx(v, F.lit(0.5), F.lit(accuracy)).alias("_est"),
        F.percentile(v, F.lit(0.5)).alias("median_exact"),
        F.count(v).alias("n_values"),
    )
    ranks = df.crossJoin(F.broadcast(one)).agg(
        # empty df: the crossJoin has ZERO rows, so first/sum aggregate to
        # NULL — coalesce n_values to 0 so the empty-input case rides the
        # same vacuous-pass branch as the all-null column (n_values = 0,
        # est_rank_ok = TRUE), instead of a NULL/NULL row
        F.coalesce(F.first("n_values"), F.lit(0)).alias("n_values"),
        F.first("median_exact").alias("median_exact"),
        F.sum(F.when(v < F.col("_est"), 1).otherwise(0)).alias("_lo"),
        F.sum(F.when(v <= F.col("_est"), 1).otherwise(0)).alias("_hi"),
    )
    eps = 1.0 / float(accuracy)
    n = F.col("n_values").cast("double")
    lo_target = F.floor((F.lit(0.5) - F.lit(eps)) * n)
    hi_target = F.ceil((F.lit(0.5) + F.lit(eps)) * n)
    return ranks.select(
        "n_values",
        "median_exact",
        # n_values = 0 (all-null column): there is no estimate to check, so
        # the guarantee holds vacuously — without this the interval test
        # reads (0 >= 0) AND (1 <= 0) = false, a phantom violation
        F.when(F.col("n_values") == 0, F.lit(True))
        .otherwise(
            (F.col("_hi") >= lo_target) & ((F.col("_lo") + F.lit(1)) <= hi_target)
        )
        .alias("est_rank_ok"),
    )


def describe_stats(df: DataFrame, col: str) -> DataFrame:
    """count/mean/stddev/min/max of a numeric column (reference A7 used
    df.describe(): app/machine_learning_models.py:300).

    Computed from exact-decimal sums so mean and stddev are deterministic
    doubles reproducible by any engine: stddev = sqrt((Σx² − (Σx)²/n)/(n−1))
    with Σ taken over decimals. Inputs cast at DECIMAL(19,4) (forces int128
    storage in the DuckDB twin, avoiding its int64 product overflow) and the
    product pinned to DECIMAL(38,6) on both sides.
    """
    din = "decimal(19,4)"
    dprod = "decimal(38,6)"
    agg = df.agg(
        F.count(F.col(col)).alias("cnt"),
        F.sum(F.col(col).cast(din)).alias("_s"),
        F.sum((F.col(col).cast(din) * F.col(col).cast(din)).cast(dprod)).alias("_s2"),
        F.min(F.col(col)).cast("double").alias("min"),
        F.max(F.col(col)).cast("double").alias("max"),
    )
    s = F.col("_s").cast("double")
    s2 = F.col("_s2").cast("double")
    n = F.col("cnt").cast("double")
    return agg.select(
        "cnt",
        (s / n).alias("mean"),
        F.sqrt((s2 - (s * s) / n) / (n - F.lit(1.0))).alias("stddev"),
        "min",
        "max",
    )


def pearson_corr(df: DataFrame, x: str, y: str, alias: str) -> DataFrame:
    """Deterministic Pearson correlation of two numeric columns (reference A8
    used ml.stat.Correlation over an assembled vector,
    app/machine_learning_models.py:183-191).

    corr = (nΣxy − ΣxΣy) / sqrt((nΣx² − (Σx)²)(nΣy² − (Σy)²)) with exact
    decimal sums, final arithmetic in double.
    """
    din = "decimal(19,4)"
    dprod = "decimal(38,6)"
    cx = F.col(x).cast(din)
    cy = F.col(y).cast(din)
    agg = df.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(cx).alias("_sx"),
        F.sum(cy).alias("_sy"),
        F.sum((cx * cx).cast(dprod)).alias("_sxx"),
        F.sum((cy * cy).cast(dprod)).alias("_syy"),
        F.sum((cx * cy).cast(dprod)).alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return agg.select((num / den).alias(alias))


def hll_distinct_audit(
    df: DataFrame,
    group_col: str,
    value_col: str,
    fine_col,
    lgk: int = 14,
    rel_err: float = 0.05,
) -> DataFrame:
    """Mergeable-sketch COUNT DISTINCT (Apache DataSketches HLL) with an
    exact audit.

    The 100-TB story for distinct counting is NOT ``countDistinct`` (which
    shuffles every distinct value) but a mergeable sketch: bounded
    ``O(2^lgk)`` state per group, map-side partial aggregation, and — the
    property exact counts lack — reusable partial results: sketches built
    per (group, fine) bucket (e.g. per day/partition) can be stored and
    later ``hll_union_agg``-merged to any coarser rollup without rescanning
    the facts. HLL registers are max-based, so the merged estimate is
    insensitive to how the data was split.

    This operator exercises BOTH paths — a direct per-group sketch and a
    union of per-(group, fine) sketches — and returns, per group, the exact
    distinct count plus booleans asserting each estimate lands within
    ``rel_err`` of it. The exact count exists here as the oracle-verifiable
    witness; a production pipeline would emit the estimates alone.
    """
    fine = fine_col if not isinstance(fine_col, str) else F.col(fine_col)
    direct = df.groupBy(group_col).agg(
        F.countDistinct(value_col).alias("exact_distinct"),
        F.hll_sketch_estimate(F.hll_sketch_agg(value_col, F.lit(lgk))).alias("_est_d"),
    )
    merged = (
        df.groupBy(F.col(group_col), fine.alias("_fine"))
        .agg(F.hll_sketch_agg(value_col, F.lit(lgk)).alias("_sk"))
        .groupBy(group_col)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est_m"))
    )
    tol = F.lit(float(rel_err))
    within = lambda est: (  # noqa: E731 — tiny local predicate
        F.abs(est.cast("double") / F.col("exact_distinct").cast("double") - 1.0) <= tol
    )
    return (
        direct.join(merged, [group_col])
        .select(
            group_col,
            "exact_distinct",
            within(F.col("_est_d")).alias("est_direct_ok"),
            within(F.col("_est_m")).alias("est_merged_ok"),
        )
    )


def rollup_two_level(
    df: DataFrame,
    key1: str,
    key2,
    amount_col: str,
    alias: str = "total_award_amount",
) -> DataFrame:
    """ROLLUP(key1, key2) SUM — the proper server-side version of the
    dashboard's client-side JS second-stage aggregation (reference A9:
    templates/dashboard.html:148-189 re-summed the top-30 rows in the
    browser). Single shuffle; Catalyst expands the grouping sets."""
    k2 = F.col(key2) if isinstance(key2, str) else key2
    return df.rollup(F.col(key1), k2).agg(exact_sum(amount_col, alias))


def misra_gries_merge(acc, counts, k: int):
    """One Misra-Gries merge-trim step over pandas Series of counters:
    add a batch's ``value_counts`` to the running ``acc`` (None before
    the first batch), then, past ``k`` counters, subtract the (k+1)-th
    largest count from all and drop the non-positive ones. Every value
    whose count exceeds n/k over the batches merged so far survives."""
    acc = counts if acc is None else acc.add(counts, fill_value=0)
    if len(acc) > k:
        thresh = acc.nlargest(k + 1).iloc[-1]
        acc = acc - thresh
        acc = acc[acc > 0]
    return acc


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    k: int = 200,
    out_col: str | None = None,
) -> DataFrame:
    """EXACT frequent-item detection (count*k > total) with sketch-bounded
    memory: a per-partition Misra-Gries summary proposes candidates, then
    one exact recount confirms them — output is provably identical to the
    naive full GROUP BY, but the shuffle only ever carries candidate rows.

    Why not plain ``groupBy(value).count()``: at 100 TB the value column
    (tokens, URLs, user ids) has billions of distincts, so the full
    aggregate shuffles and materializes the entire long tail to find the
    handful of head items. Here:

    1. **Sketch pass** (map-only, no shuffle): each partition folds its
       Arrow batches into a Misra-Gries summary of at most ``k`` counters
       (per batch: vectorized ``value_counts``, merge, then the standard
       MG merge-trim — subtract the (k+1)-th largest count from all and
       drop non-positives). An item with global count > total/k must
       exceed n_p/k in at least one partition (pigeonhole) and MG's
       undercount is < n_p/k, so every true heavy hitter survives SOME
       partition's summary — candidates are a guaranteed superset.
    2. **Exact pass**: candidates (≤ k·partitions rows) broadcast back as
       a LEFT SEMI filter; the exact count aggregates only matching rows
       (map-side partials absorb the duplicates), and the final
       ``count*k > total`` filter discards false positives.

    The total row count rides along as a broadcast 1-row aggregate — no
    driver-side ``.count()`` action during plan construction.
    """
    out = out_col or value_col
    vals = df.select(F.col(value_col).cast("string").alias("_v")).filter(
        F.col("_v").isNotNull()
    )

    def _mg(batches):
        import pandas as pd

        acc: "pd.Series | None" = None
        for pdf in batches:
            acc = misra_gries_merge(acc, pdf["_v"].value_counts(), k)
        yield pd.DataFrame({"_v": [] if acc is None else acc.index.astype(str)})

    cands = vals.mapInPandas(_mg, schema="_v string").distinct()
    counts = (
        vals.join(F.broadcast(cands), "_v", "left_semi")
        .groupBy("_v")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    total = vals.agg(F.count(F.lit(1)).alias("_total"))
    return (
        counts.join(F.broadcast(total))
        .filter(F.col("n_occurrences") * F.lit(k) > F.col("_total"))
        .select(F.col("_v").alias(out), "n_occurrences")
    )


def hll_intersection_audit(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    lgk: int = 14,
    rel_err: float = 0.1,
) -> DataFrame:
    """Sketch-estimated DISTINCT INTERSECTION via inclusion-exclusion
    (|A∩B| ≈ est(A) + est(B) − est(A∪B), the union from ONE
    ``hll_union_agg`` merge of the two partial sketches) audited against
    the exact semi-join count. HLL has no native intersection, so this is
    the standard derived estimator; its relative error grows as the true
    intersection shrinks relative to the union — callers pick ``rel_err``
    accordingly (the audit makes drift visible instead of silent).

    Scale shape: each side folds to ONE sketch row (map-side partials,
    2^lgk bytes of state); the exact witness is a distinct-project
    LEFT SEMI join — the one part a production pipeline would drop, at
    which point no full values shuffle at all."""
    sk_a = df_a.agg(F.hll_sketch_agg(value_col, F.lit(lgk)).alias("_sk"))
    sk_b = df_b.agg(F.hll_sketch_agg(value_col, F.lit(lgk)).alias("_sk"))
    est_a = sk_a.select(F.hll_sketch_estimate("_sk").alias("_ea"))
    est_b = sk_b.select(F.hll_sketch_estimate("_sk").alias("_eb"))
    est_u = (
        sk_a.unionByName(sk_b)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_eu"))
    )
    exact = (
        df_a.select(F.col(value_col).alias("_v"))
        .distinct()
        .join(
            df_b.select(F.col(value_col).alias("_v")).distinct(),
            "_v",
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    tol = F.lit(float(rel_err))
    est = F.col("_ea") + F.col("_eb") - F.col("_eu")
    return (
        exact.join(F.broadcast(est_a))
        .join(F.broadcast(est_b))
        .join(F.broadcast(est_u))
        .select(
            "exact_intersection",
            (
                F.abs(
                    est.cast("double")
                    / F.col("exact_intersection").cast("double")
                    - 1.0
                )
                <= tol
            ).alias("est_within_tol"),
        )
    )


def profile_table(
    df: DataFrame,
    columns: "Sequence[str] | None" = None,
    exact_distinct: bool = True,
    single_scan: bool = False,
) -> DataFrame:
    """Table profiler (the warehouse ``ANALYZE`` surface): per column —
    row count, non-null count, distinct count, lexical min/max (cast to
    string so heterogeneous column types share one schema).

    Execution shapes:

    - ``exact_distinct=True`` (default): a UNION of per-column
      single-aggregate branches. Each branch is a column-PRUNED scan with
      one COUNT(DISTINCT) (partial distinct map-side, no row blowup), so
      total I/O across all branches equals ONE full-width scan of a
      columnar source. This replaced the single multi-distinct aggregate,
      whose len(columns)-fold Expand of every row cost 7x more (measured
      2.2 s vs 0.32 s warm over 6 columns at sf0.1) and would balloon
      with width. CAVEAT: each branch re-executes the upstream plan — on
      a raw parquet scan that's exactly the pruned-scan win, but over an
      expensive or NON-DETERMINISTIC upstream (a join, a sample), cache
      the input first or pass ``single_scan=True``.
    - ``exact_distinct=True, single_scan=True``: the one-aggregate
      multi-COUNT(DISTINCT) form — one upstream execution, at the price
      of the len(columns)-fold Expand. Use for expensive upstream plans.
    - ``exact_distinct=False``: ONE aggregate over one scan with HLL
      (approx_count_distinct) distinct counts, unpivoted driver-free
      through ``inline`` — the single-pass estimate plan for quick looks
      at very wide tables.
    """
    cols = list(columns or df.columns)
    if not exact_distinct:
        return _profile_select(df, cols, lambda c: F.approx_count_distinct(c))
    if single_scan:
        return _profile_select(df, cols, lambda c: F.countDistinct(F.col(c)))
    parts = [
        df.agg(
            F.lit(c).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.col(c)).alias("n_non_null"),
            F.countDistinct(F.col(c)).cast("long").alias("n_distinct"),
            F.min(F.col(c)).cast("string").alias("min_str"),
            F.max(F.col(c)).cast("string").alias("max_str"),
        )
        for c in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def profile_table_hll_audit(
    df: DataFrame,
    columns: "Sequence[str] | None" = None,
    tol: float = 0.15,
) -> DataFrame:
    """The 100-TB posture of ``profile_table``, audited: distinct counts
    come from HLL (approx_count_distinct — ONE pass, no
    len(columns)-fold expand of the scan), checked against the exact
    COUNT(DISTINCT) witness. The output keeps the exact ``n_distinct``
    (the oracle-verifiable witness) and adds ``nd_est_ok`` asserting the
    HLL estimate lands within ``tol`` relative error (default 0.15 = 3x
    the default 5% rsd). A production ANALYZE run drops the witness —
    profile_table(df, exact_distinct=False) — and keeps only the
    expand-free HLL plan; this audit form exists so that path's accuracy
    is gated, following the hll_distinct_audit contract.

    Execution shape: the exact witness (per-column union branches) and
    the one-pass HLL aggregate joined on col_name (a len(columns)-row
    broadcast), NOT one mixed aggregate — folding HLL accumulators into a
    multi-COUNT(DISTINCT) aggregate makes them ride that plan's Expand
    and doubled the run when both lived in one aggregate; separately each
    side keeps its own optimal plan."""
    cols = list(columns or df.columns)
    exact = profile_table(df, cols, exact_distinct=True)
    est = profile_table(df, cols, exact_distinct=False).select(
        F.col("col_name"), F.col("n_distinct").alias("_est")
    )
    # difference form: exact 0 (all-null column) demands est 0, and
    # est == exact always passes — no divide-by-zero NaN
    exact_d = F.col("n_distinct").cast("double")
    return exact.join(F.broadcast(est), "col_name").select(
        "col_name",
        "n_rows",
        "n_non_null",
        "n_distinct",
        "min_str",
        "max_str",
        (F.abs(F.col("_est").cast("double") - exact_d) <= F.lit(float(tol)) * exact_d)
        .alias("nd_est_ok"),
    )


def _profile_select(df, cols, nd):
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"_nn_{c}"),
            nd(c).alias(f"_nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_mx_{c}"),
        ]
    one = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("_rows").alias("n_rows"),
                F.col(f"_nn_{c}").alias("n_non_null"),
                F.col(f"_nd_{c}").cast("long").alias("n_distinct"),
                F.col(f"_mn_{c}").alias("min_str"),
                F.col(f"_mx_{c}").alias("max_str"),
            )
            for c in cols
        ]
    )
    return one.select(F.inline(structs))
