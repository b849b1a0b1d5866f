"""Time-series + corpus-hygiene query corpus (round 3).

Wires the operators added at the end of round 2 into the oracle-checked
surface: calendar gap-fill resampling, per-group z-score outliers, fixed
width histograms (operators/timeseries.py), and corpus-adaptive
boilerplate token removal (operators/text.remove_high_df_tokens).

Same determinism contract as plans/corpus.py: every double is produced by
an expression tree DuckDB evaluates identically (exact-decimal sums, the
VARCHAR hop for decimal->double, shared IEEE arithmetic order).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import text, timeseries

# Same VARCHAR-hop rationale as plans/corpus.py:D2D.
D2D = "CAST(CAST({x} AS VARCHAR) AS DOUBLE)"
SUM2 = D2D.format(x="ROUND(SUM(CAST({c} AS DECIMAL(27,6))), 2)")

GAP_FILL_KEY_CAP = 300  # sparse keys so the monthly spine actually has gaps
HIST_BINS = 20
BOILERPLATE_MAX_DF = 0.4


def q_monthly_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Dense monthly resample with forward fill over a sparse key subset
    (generalizes the reference's by-month dashboard aggregation,
    app/spark_cassandra_groupby_month.py:25-32, which silently skipped
    empty months)."""
    orders = load(spark, sf, "orders").filter(
        F.col("o_custkey") <= GAP_FILL_KEY_CAP
    )
    return timeseries.monthly_gap_fill(
        orders, "o_custkey", "o_orderdate", "o_totalprice"
    )


def q_zscore_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-priority z-score outlier flags on order totals — the
    distribution view the reference's dashboards lacked. Threshold 1.5:
    o_totalprice is near-uniform (max |z| ≈ √3), so 2σ would select
    nothing and the probe would be vacuous."""
    orders = load(spark, sf, "orders")
    return timeseries.zscore_flags(
        orders, "o_orderpriority", "o_totalprice", z_threshold=1.5
    )


def q_fixed_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width 20-bin histogram of lineitem extended price: two linear
    passes (1-row min/max partial agg broadcast back, then a bounded-key
    groupBy) — the distribution sketch affordable at 100 TB."""
    li = load(spark, sf, "lineitem")
    return timeseries.fixed_width_histogram(li, "l_extendedprice", HIST_BINS)


def q_boilerplate_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-adaptive boilerplate removal: drop tokens whose document
    frequency exceeds 40% of the corpus (CCNet-style hygiene at token
    granularity; dropset provably broadcast-small — see operator doc)."""
    docs = load(spark, sf, "documents")
    return text.remove_high_df_tokens(
        docs, "doc_id", "text", max_df_frac=BOILERPLATE_MAX_DF
    )


def q_quantile_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Per-priority exact quartile summary in ONE pass: the built-in
    ``percentile`` aggregate with a quantile array (mergeable value->count
    maps — no sort, no window). Spark's R-7 linear interpolation is
    bit-identical to DuckDB's quantile_cont (verified empirically at
    sf0.01), so the continuous-quantile surface is fully oracle-checked."""
    orders = load(spark, sf, "orders")
    q = F.percentile(
        F.col("o_totalprice").cast("double"),
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(q.alias("_q"))
        .select(
            "o_orderpriority",
            F.element_at("_q", 1).alias("p25"),
            F.element_at("_q", 2).alias("p50"),
            F.element_at("_q", 3).alias("p75"),
        )
        .orderBy("o_orderpriority")
    )


def q_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust (median/MAD) outlier flags per order priority — the
    50%-breakdown twin of q_zscore_outliers (uniform o_totalprice puts the
    extreme deviation at ~2x MAD, so k=1.8 exercises a non-empty tail)."""
    orders = load(spark, sf, "orders")
    return timeseries.mad_outliers(orders, "o_orderpriority", "o_totalprice", k=1.8)


def q_ewma_monthly(spark: SparkSession, sf: str) -> DataFrame:
    """Per-priority EWMA (alpha=0.5) over monthly exact-decimal order
    totals — the trend-smoothing view on the reference's by-month rollup;
    the ordered fold replays in DuckDB via list_reduce."""
    orders = load(spark, sf, "orders")
    return timeseries.ewma_monthly(
        orders, "o_orderpriority", "o_orderdate", "o_totalprice", alpha=0.5
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_monthly_gap_fill": q_monthly_gap_fill,
    "q_zscore_outliers": q_zscore_outliers,
    "q_fixed_histogram": q_fixed_histogram,
    "q_boilerplate_scrub": q_boilerplate_scrub,
    "q_mad_outliers": q_mad_outliers,
    "q_ewma_monthly": q_ewma_monthly,
    "q_quantile_summary": q_quantile_summary,
}

ROWS_ONLY_QUERIES: set[str] = set()

_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"

# Window-sum twins of timeseries.zscore_flags' decimal accumulators.
_ZS_S = D2D.format(
    x="SUM(CAST(o_totalprice AS DECIMAL(19,4))) OVER win"
)
_ZS_S2 = D2D.format(
    x=(
        "SUM(CAST(CAST(o_totalprice AS DECIMAL(19,4)) * "
        "CAST(o_totalprice AS DECIMAL(19,4)) AS DECIMAL(38,6))) OVER win"
    )
)

ORACLE_SQL: dict[str, str] = {
    "q_quantile_summary": """
WITH q AS (
    SELECT o_orderpriority,
           quantile_cont(CAST(o_totalprice AS DOUBLE), [0.25, 0.5, 0.75]) AS _q
    FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, _q[1] AS p25, _q[2] AS p50, _q[3] AS p75
FROM q ORDER BY o_orderpriority
""",
    "q_mad_outliers": """
WITH ranked AS (
    SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS vd,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice ASC) AS rn,
           count(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM orders
),
med AS (
    SELECT o_orderpriority, MIN(vd) * 0.5 + MAX(vd) * 0.5 AS _med
    FROM ranked
    WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    GROUP BY o_orderpriority
),
dev AS (
    SELECT o.o_orderpriority,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           abs(CAST(o.o_totalprice AS DOUBLE) - m._med) AS abs_dev
    FROM orders o JOIN med m USING (o_orderpriority)
),
dranked AS (
    SELECT o_orderpriority, abs_dev AS dd,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY abs_dev ASC) AS rn,
           count(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM dev
),
mad AS (
    SELECT o_orderpriority, MIN(dd) * 0.5 + MAX(dd) * 0.5 AS _mad
    FROM dranked
    WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    GROUP BY o_orderpriority
)
SELECT d.o_orderpriority, d.o_totalprice, d.abs_dev
FROM dev d JOIN mad m USING (o_orderpriority)
WHERE d.abs_dev > 1.8 * m._mad
""",
    "q_ewma_monthly": f"""
WITH monthly AS (
    SELECT o_orderpriority, date_trunc('month', o_orderdate) AS month,
           {SUM2.format(c='o_totalprice')} AS _amt
    FROM orders
    GROUP BY o_orderpriority, date_trunc('month', o_orderdate)
),
ser AS (
    SELECT o_orderpriority, list(_amt ORDER BY month ASC) AS vals
    FROM monthly GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CAST(len(vals) AS INT) AS n_periods,
       list_reduce(vals, (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma
FROM ser
ORDER BY o_orderpriority
""",
    "q_monthly_gap_fill": f"""
WITH monthly AS (
    SELECT o_custkey, date_trunc('month', o_orderdate) AS month,
           {SUM2.format(c='o_totalprice')} AS _amt
    FROM orders
    WHERE o_custkey <= {GAP_FILL_KEY_CAP}
    GROUP BY o_custkey, date_trunc('month', o_orderdate)
),
bounds AS (
    SELECT o_custkey, MIN(month) AS mn, MAX(month) AS mx
    FROM monthly GROUP BY o_custkey
),
spine AS (
    SELECT o_custkey,
           unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS month
    FROM bounds
)
SELECT s.o_custkey, s.month,
       last_value(m._amt IGNORE NULLS) OVER (
           PARTITION BY s.o_custkey ORDER BY s.month
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS amount_filled,
       m._amt IS NULL AS gap_filled
FROM spine s LEFT JOIN monthly m
  ON s.o_custkey = m.o_custkey AND s.month = m.month
""",
    "q_zscore_outliers": f"""
WITH w AS (
    SELECT o_orderpriority, o_totalprice,
           CAST(COUNT(*) OVER win AS DOUBLE) AS n,
           {_ZS_S} AS s,
           {_ZS_S2} AS s2
    FROM orders
    WINDOW win AS (PARTITION BY o_orderpriority)
),
z AS (
    SELECT o_orderpriority, o_totalprice,
           (CAST(o_totalprice AS DOUBLE) - s / n)
               / sqrt((s2 - (s * s) / n) / (n - 1.0)) AS z
    FROM w
)
SELECT * FROM z WHERE abs(z) > 1.5
""",
    "q_fixed_histogram": f"""
WITH st AS (
    SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS mn,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS mx
    FROM lineitem
),
b AS (
    SELECT CAST(LEAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - mn)
                            * {float(HIST_BINS)} / (mx - mn)),
                      {HIST_BINS - 1}) AS INTEGER) AS bin,
           mn, mx
    FROM lineitem, st
)
SELECT bin,
       mn + CAST(bin AS DOUBLE) * ((mx - mn) / {float(HIST_BINS)}) AS bin_lo,
       COUNT(*) AS n
FROM b GROUP BY bin, mn, mx
""",
    "q_boilerplate_scrub": f"""
WITH toks AS (
    SELECT doc_id, {_TOKS} AS t FROM documents
),
u AS (
    SELECT DISTINCT doc_id, tok
    FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
),
dfreq AS (SELECT tok, COUNT(*) AS df FROM u GROUP BY tok),
nd AS (SELECT COUNT(*) AS ndocs FROM toks),
dropset AS (
    SELECT COALESCE(list(tok ORDER BY tok), []) AS ds
    FROM dfreq, nd
    WHERE CAST(df AS DOUBLE) > {BOILERPLATE_MAX_DF} * CAST(ndocs AS DOUBLE)
)
SELECT doc_id,
       -- DuckDB's array_to_string([]) is NULL; Spark's array_join([]) is ''
       COALESCE(array_to_string(list_filter(t, x -> NOT list_contains(ds, x)),
                                ' '), '') AS scrubbed,
       CAST(len(t) AS INTEGER) AS n_tokens,
       CAST(len(t) - len(list_filter(t, x -> NOT list_contains(ds, x)))
            AS INTEGER) AS n_removed
FROM toks, dropset
""",
}
