"""Oracle-checked query corpus (SURVEY.md §2.12, FIXTURES.md §B).

One entry per reference operator, expressed over the driver's synthetic star
schema. Each query has a Spark implementation (built from the operator layer)
and, where SQL-expressible, a DuckDB oracle string computing the identical
result.

Determinism rules (so value-hashes match an independent engine):
- Money/float SUMs accumulate in exact decimal (functions.exact_sum) — decimal
  addition is associative, so results are independent of partition order and
  identical across engines; final cast to DOUBLE is correctly rounded in both.
- mean/stddev/corr/median are derived from exact-decimal sums with the final
  floating-point arithmetic written identically on both sides (IEEE doubles
  are deterministic given the same operation order).
- Every LIMIT is preceded by a total order (value DESC, unique key ASC).
- month()/year()/counts are cast to the same integer types on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import exact_sum, month_of, year_of
from ..operators import aggregates as agg
from ..operators import cleaning, joins, topk

# DuckDB-side twin of functions.exact_sum. The decimal->double hop goes
# through VARCHAR because DuckDB's direct decimal->double cast divides two
# separately-rounded doubles (raw int128 / 10^scale) and can be 1 ulp off the
# correctly-rounded value for sums whose raw magnitude exceeds 2^53; strtod on
# the exact digit string is correctly rounded, matching the JVM's
# BigDecimal.doubleValue().
D2D = "CAST(CAST({x} AS VARCHAR) AS DOUBLE)"
SUM2 = D2D.format(x="ROUND(SUM(CAST({c} AS DECIMAL(27,6))), 2)")


# --------------------------------------------------------------------------
# §2.1/§2.2 scans, projections, filters
# --------------------------------------------------------------------------

def q_scan_project(spark: SparkSession, sf: str) -> DataFrame:
    """S1/P1 — projection-only columnar scan (reference selected single
    columns out of Cassandra full scans, app/machine_learning_models.py:161)."""
    return load(spark, sf, "customer").select("c_name", "c_acctbal")


def q_filter_positive(spark: SparkSession, sf: str) -> DataFrame:
    """P2 — numeric comparison filter, pushed to the parquet scan
    (reference: award_amount > 0, app/machine_learning_models.py:149)."""
    li = load(spark, sf, "lineitem")
    return cleaning.filter_positive(li, "l_extendedprice").filter(
        F.col("l_extendedprice") > 5000
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


def q_dropna(spark: SparkSession, sf: str) -> DataFrame:
    """P3 — conjunctive NOT NULL filter (reference dropna(subset=...),
    app/machine_learning_models.py:136-145)."""
    orders = load(spark, sf, "orders")
    return cleaning.drop_null_required(orders, ["o_custkey", "o_totalprice", "o_orderdate"])


def _median_totalprice(spark: SparkSession, sf: str) -> DataFrame:
    orders = load(spark, sf, "orders")
    return agg.exact_median(orders, "o_totalprice", alias="m")


def q_case_when_label(spark: SparkSession, sf: str) -> DataFrame:
    """P4/A6 — CASE WHEN amount > median THEN 1.0 ELSE 0.0 (the high/low award
    label, app/machine_learning_models.py:237-242).

    The 1-row median is collected and embedded as a literal (the reference
    did the same with its approxQuantile threshold) — a scalar predicate
    beats a cross-join stage and lets the comparison run inside the scan's
    codegen."""
    orders = load(spark, sf, "orders")
    median = _median_totalprice(spark, sf).first()["m"]
    return orders.select(
        "o_orderkey", cleaning.binary_label("o_totalprice", float(median), alias="label")
    )


def q_month_derive(spark: SparkSession, sf: str) -> DataFrame:
    """P5/F1/F2 — calendar month/year derivation
    (app/spark_cassandra_groupby_month.py:25, machine_learning_models.py:147-148)."""
    orders = load(spark, sf, "orders")
    return orders.select(
        "o_orderkey",
        month_of("o_orderdate").alias("o_month"),
        year_of("o_orderdate").alias("o_year"),
    )


def q_cast_to_date(spark: SparkSession, sf: str) -> DataFrame:
    """F3/F4/F6 — null-on-malformed string->date and string->number parsing at
    the ingest boundary (reference app/ml_app.py:561-576, 480-485) plus JSON
    field extraction (response.json() field access, app/ml_app.py:459-471).

    'error'-type events get a deliberately malformed date string to exercise
    the null-on-error path.
    """
    ev = load(spark, sf, "events")
    raw = ev.select(
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("not-a-date"))
        .otherwise(F.substring(F.col("ts").cast("string"), 1, 10))
        .alias("date_str"),
        F.get_json_object("props", "$.k").alias("k_str"),
    )
    # The parsed DATE is rendered back to an ISO string so the oracle
    # comparison is engine-representation-independent (null-on-error is
    # preserved: CAST(NULL AS STRING) IS NULL).
    return raw.select(
        "event_id",
        F.expr("CAST(try_cast(date_str AS DATE) AS STRING)").alias("parsed_date"),
        F.expr("try_cast(k_str AS DOUBLE)").alias("k_value"),
    )


# --------------------------------------------------------------------------
# §2.3 joins / §2.4 aggregations
# --------------------------------------------------------------------------

def _orders_with_customer(spark: SparkSession, sf: str) -> DataFrame:
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    return joins.join_dim_fact(orders, cust, on=orders.o_custkey == cust.c_custkey)


def _lineitem_with_supplier(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    sup = load(spark, sf, "supplier")
    return joins.join_dim_fact(li, sup, on=li.l_suppkey == sup.s_suppkey)


def q_join_dim_fact(spark: SparkSession, sf: str) -> DataFrame:
    """J1 — inner equi-join, dim broadcast (reference geo⋈awards,
    app/spark_cassandra_etl_award_amount_aggregator.py:81-82)."""
    return _orders_with_customer(spark, sf).select(
        "o_orderkey", "c_name", "o_totalprice"
    )


def q_agg_sum_by_key(spark: SparkSession, sf: str) -> DataFrame:
    """A1 — grouped SUM by one key after dim join (the flagship rollup,
    app/spark_cassandra_etl_award_amount_aggregator.py:83-85)."""
    return agg.sum_by_key(_orders_with_customer(spark, sf), ["c_name"], "o_totalprice")


def q_agg_sum_two_keys(spark: SparkSession, sf: str) -> DataFrame:
    """A2 — grouped SUM by two keys (app/spark_cassandra_groupby.py:68-72)."""
    return agg.sum_by_key(
        _lineitem_with_supplier(spark, sf),
        ["s_name", "l_returnflag"],
        "l_extendedprice",
    )


def q_agg_by_month(spark: SparkSession, sf: str) -> DataFrame:
    """A3 — grouped SUM by (key, calendar month)
    (app/spark_cassandra_groupby_month.py:25-32)."""
    return agg.sum_by_month(
        _lineitem_with_supplier(spark, sf), "s_name", "l_shipdate", "l_extendedprice"
    )


def q_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """A4 — COUNT DISTINCT per categorical column, one pass per table
    (reference ran one Spark job per column, app/machine_learning_models.py:159-167)."""
    c = agg.distinct_counts(load(spark, sf, "customer"), ["c_mktsegment"])
    o = agg.distinct_counts(load(spark, sf, "orders"), ["o_orderpriority"])
    return c.crossJoin(o)


def q_value_counts(spark: SparkSession, sf: str) -> DataFrame:
    """A5 — GROUP BY value COUNT(*) — replaces the driver-side Counter
    (app/fetch_recipient_name_geo_data.py:99-105)."""
    return agg.value_counts(load(spark, sf, "customer"), "c_mktsegment")


def q_approx_median(spark: SparkSession, sf: str) -> DataFrame:
    """A6 — median award threshold (reference approxQuantile p=0.5,
    app/machine_learning_models.py:237-238; exact median here so the oracle
    can reproduce it — see operators.aggregates.exact_median: built-in
    percentile aggregate, map-side partial, no single-partition window)."""
    return _median_totalprice(spark, sf).select(F.col("m").alias("median_totalprice"))


def q_median_approx_scale(spark: SparkSession, sf: str) -> DataFrame:
    """A6 scale path — percentile_approx (Greenwald-Khanna sketch: mergeable,
    memory bounded by the accuracy parameter regardless of value-domain
    cardinality). This is the threshold plan to run at 100 TB, and the
    reference's own semantics (approxQuantile err=0.001). The estimate is
    approximate by design and not portably reproducible, so the query
    follows the audit contract (aggregates.median_approx_audit): exact
    count + exact-median witness + the GK rank guarantee (est's rank
    within n/accuracy of n/2) checked exactly and pinned TRUE — a fully
    value-verified oracle row instead of the old rows-only check."""
    orders = load(spark, sf, "orders")
    return agg.median_approx_audit(orders, "o_totalprice", accuracy=10000)


def q_describe_stats(spark: SparkSession, sf: str) -> DataFrame:
    """A7 — count/mean/stddev/min/max (reference df.describe(),
    app/machine_learning_models.py:300)."""
    return agg.describe_stats(load(spark, sf, "orders"), "o_totalprice")


def q_corr(spark: SparkSession, sf: str) -> DataFrame:
    """A8 — Pearson correlations (reference ml.stat.Correlation,
    app/machine_learning_models.py:183-191). Three pairwise coefficients over
    lineitem numerics, deterministic via exact-decimal sums."""
    li = load(spark, sf, "lineitem")
    c1 = agg.pearson_corr(li, "l_quantity", "l_extendedprice", "corr_qty_price")
    c2 = agg.pearson_corr(li, "l_quantity", "l_discount", "corr_qty_discount")
    c3 = agg.pearson_corr(li, "l_extendedprice", "l_discount", "corr_price_discount")
    return c1.crossJoin(c2).crossJoin(c3)


def q_rollup_two_level(spark: SparkSession, sf: str) -> DataFrame:
    """A9 — ROLLUP(key, month) SUM: the server-side fix for the dashboard's
    client-side JS re-aggregation (templates/dashboard.html:148-189)."""
    df = _lineitem_with_supplier(spark, sf)
    return agg.rollup_two_level(
        df, "s_name", month_of("l_shipdate").alias("month"), "l_extendedprice"
    )


# --------------------------------------------------------------------------
# §2.6 sorts / limits / top-k, §2.7 set ops, §2.5 window extension
# --------------------------------------------------------------------------

def q_orderby_desc(spark: SparkSession, sf: str) -> DataFrame:
    """O1 — rollup ordered by total DESC (app/ml_app.py:99-117)."""
    return topk.order_desc(q_agg_sum_by_key(spark, sf), "total_award_amount", "c_name")


def q_topk(spark: SparkSession, sf: str) -> DataFrame:
    """O2 — top-15 (Sankey query, app/ml_app.py:120-127) via
    TakeOrderedAndProject."""
    return topk.top_k(q_agg_sum_by_key(spark, sf), "total_award_amount", "c_name", 15)


def q_topn_frequency(spark: SparkSession, sf: str) -> DataFrame:
    """O3 — top-n most frequent values (Counter.most_common analog,
    app/fetch_recipient_name_geo_data.py:111-113)."""
    return topk.top_n_frequency(load(spark, sf, "customer"), "c_mktsegment", 5)


def q_orderby_asc(spark: SparkSession, sf: str) -> DataFrame:
    """O4 — monthly totals ascending (the JS line-chart sort,
    templates/dashboard.html:188, moved into the engine)."""
    orders = load(spark, sf, "orders")
    monthly = orders.groupBy(month_of("o_orderdate").alias("month")).agg(
        exact_sum("o_totalprice", "total_award_amount")
    )
    return monthly.orderBy(F.asc("month"))


def q_first_row(spark: SparkSession, sf: str) -> DataFrame:
    """O5 — deterministic first-row fetch (reference .collect()[0]/.head(),
    app/ml_app.py:215)."""
    orders = load(spark, sf, "orders")
    return orders.orderBy(F.asc("o_orderkey")).limit(1).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def q_union_branches(spark: SparkSession, sf: str) -> DataFrame:
    """§2.7 — the two parallel keyed-total branches (recipient-style vs
    sub-agency-style, separate scripts in the reference) as one unionByName."""
    a = q_agg_sum_by_key(spark, sf).select(
        F.col("c_name").alias("entity"), F.lit("recipient").alias("branch"), "total_award_amount"
    )
    b = agg.sum_by_key(
        _lineitem_with_supplier(spark, sf), ["s_name"], "l_extendedprice"
    ).select(
        F.col("s_name").alias("entity"), F.lit("sub_agency").alias("branch"), "total_award_amount"
    )
    return a.unionByName(b)


def q_window_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """§2.5 extension — per-group top-k via row_number window; the scalable
    form of the dashboard's global top-k."""
    df = _orders_with_customer(spark, sf).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    return topk.window_topk_per_group(df, "c_mktsegment", "o_totalprice", "o_orderkey", 3)


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

# Queries deliberately checked rows-only (no DuckDB oracle): genuinely
# non-SQL-expressible or approximate/seeded operators.
# (q_median_approx_scale left this set in round 6: its GK estimate is
# approximate, but the rank GUARANTEE is exact — the query now emits the
# audit-contract output and carries a full value oracle.)
ROWS_ONLY_QUERIES: set[str] = set()

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_scan_project": q_scan_project,
    "q_filter_positive": q_filter_positive,
    "q_dropna": q_dropna,
    "q_case_when_label": q_case_when_label,
    "q_month_derive": q_month_derive,
    "q_cast_to_date": q_cast_to_date,
    "q_join_dim_fact": q_join_dim_fact,
    "q_agg_sum_by_key": q_agg_sum_by_key,
    "q_agg_sum_two_keys": q_agg_sum_two_keys,
    "q_agg_by_month": q_agg_by_month,
    "q_count_distinct": q_count_distinct,
    "q_value_counts": q_value_counts,
    "q_approx_median": q_approx_median,
    "q_median_approx_scale": q_median_approx_scale,
    "q_describe_stats": q_describe_stats,
    "q_corr": q_corr,
    "q_rollup_two_level": q_rollup_two_level,
    "q_orderby_desc": q_orderby_desc,
    "q_topk": q_topk,
    "q_topn_frequency": q_topn_frequency,
    "q_orderby_asc": q_orderby_asc,
    "q_first_row": q_first_row,
    "q_union_branches": q_union_branches,
    "q_window_topk_per_group": q_window_topk_per_group,
}

# Twin of Spark's exact `percentile(v, 0.5)` interpolation
# (position = 0.5*(n-1); even n -> 0.5*lo + 0.5*hi, odd n -> middle value —
# halving doubles is exact, so MIN*0.5 + MAX*0.5 covers both cases
# bit-for-bit).
_MEDIAN_CTE = """
ranked AS (
    SELECT CAST(o_totalprice AS DOUBLE) AS vd,
           row_number() OVER (ORDER BY o_totalprice ASC) AS rn,
           count(*) OVER () AS n
    FROM orders
),
med AS (
    SELECT MIN(vd) * 0.5 + MAX(vd) * 0.5 AS m
    FROM ranked
    WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
)
"""

_DESCRIBE_SQL = f"""
WITH a AS (
    SELECT count(o_totalprice) AS cnt,
           SUM(CAST(o_totalprice AS DECIMAL(19,4))) AS s,
           SUM(CAST(CAST(o_totalprice AS DECIMAL(19,4)) * CAST(o_totalprice AS DECIMAL(19,4))
               AS DECIMAL(38,6))) AS s2,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max
    FROM orders
)
SELECT cnt,
       {D2D.format(x='s')} / CAST(cnt AS DOUBLE) AS mean,
       sqrt(({D2D.format(x='s2')} - ({D2D.format(x='s')} * {D2D.format(x='s')}) / CAST(cnt AS DOUBLE))
            / (CAST(cnt AS DOUBLE) - 1.0)) AS stddev,
       min, max
FROM a
"""


def _corr_sql(x: str, y: str, alias: str) -> str:
    n = "CAST(n AS DOUBLE)"
    sx, sy = D2D.format(x="sx"), D2D.format(x="sy")
    sxx, syy, sxy = D2D.format(x="sxx"), D2D.format(x="syy"), D2D.format(x="sxy")
    prod = (
        "SUM(CAST(CAST({a} AS DECIMAL(19,4)) * CAST({b} AS DECIMAL(19,4)) AS DECIMAL(38,6)))"
    )
    return f"""
    SELECT ({n} * {sxy} - {sx} * {sy})
           / (sqrt({n} * {sxx} - {sx} * {sx})
              * sqrt({n} * {syy} - {sy} * {sy}))
           AS {alias}
    FROM (
        SELECT count(*) AS n,
               SUM(CAST({x} AS DECIMAL(19,4))) AS sx,
               SUM(CAST({y} AS DECIMAL(19,4))) AS sy,
               {prod.format(a=x, b=x)} AS sxx,
               {prod.format(a=y, b=y)} AS syy,
               {prod.format(a=x, b=y)} AS sxy
        FROM lineitem
    )
    """


ORACLE_SQL: dict[str, str] = {
    "q_scan_project": "SELECT c_name, c_acctbal FROM customer",
    "q_filter_positive": (
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
        "WHERE l_extendedprice > 5000"
    ),
    "q_dropna": (
        "SELECT * FROM orders WHERE o_custkey IS NOT NULL "
        "AND o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL"
    ),
    "q_case_when_label": f"""
        WITH {_MEDIAN_CTE}
        SELECT o_orderkey,
               CAST(CASE WHEN o_totalprice > med.m THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label
        FROM orders, med
    """,
    "q_month_derive": (
        "SELECT o_orderkey, CAST(month(o_orderdate) AS INTEGER) AS o_month, "
        "CAST(year(o_orderdate) AS INTEGER) AS o_year FROM orders"
    ),
    "q_cast_to_date": """
        WITH raw AS (
            SELECT event_id,
                   CASE WHEN event_type = 'error' THEN 'not-a-date'
                        ELSE substr(CAST(ts AS VARCHAR), 1, 10) END AS date_str,
                   json_extract_string(props, '$.k') AS k_str
            FROM events
        )
        SELECT event_id,
               CAST(TRY_CAST(date_str AS DATE) AS VARCHAR) AS parsed_date,
               TRY_CAST(k_str AS DOUBLE) AS k_value
        FROM raw
    """,
    "q_join_dim_fact": (
        "SELECT o_orderkey, c_name, o_totalprice FROM orders "
        "JOIN customer ON o_custkey = c_custkey"
    ),
    "q_agg_sum_by_key": (
        f"SELECT c_name, {SUM2.format(c='o_totalprice')} AS total_award_amount "
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_name"
    ),
    "q_agg_sum_two_keys": (
        f"SELECT s_name, l_returnflag, {SUM2.format(c='l_extendedprice')} AS total_award_amount "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY s_name, l_returnflag"
    ),
    "q_agg_by_month": (
        f"SELECT s_name, CAST(month(l_shipdate) AS INTEGER) AS month, "
        f"{SUM2.format(c='l_extendedprice')} AS total_award_amount "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "GROUP BY s_name, CAST(month(l_shipdate) AS INTEGER)"
    ),
    "q_count_distinct": (
        "SELECT (SELECT count(DISTINCT c_mktsegment) FROM customer) AS d_c_mktsegment, "
        "(SELECT count(DISTINCT o_orderpriority) FROM orders) AS d_o_orderpriority"
    ),
    "q_value_counts": "SELECT c_mktsegment, count(*) AS cnt FROM customer GROUP BY c_mktsegment",
    "q_approx_median": f"WITH {_MEDIAN_CTE} SELECT m AS median_totalprice FROM med",
    # audit contract: exact count + exact-median witness + the GK rank
    # guarantee pinned TRUE (the estimate itself never leaves the plan)
    "q_median_approx_scale": f"""
        WITH {_MEDIAN_CTE}
        SELECT (SELECT COUNT(o_totalprice) FROM orders) AS n_values,
               m AS median_exact, TRUE AS est_rank_ok
        FROM med
    """,
    "q_describe_stats": _DESCRIBE_SQL,
    "q_corr": f"""
        SELECT * FROM ({_corr_sql('l_quantity', 'l_extendedprice', 'corr_qty_price')}),
                      ({_corr_sql('l_quantity', 'l_discount', 'corr_qty_discount')}),
                      ({_corr_sql('l_extendedprice', 'l_discount', 'corr_price_discount')})
    """,
    "q_rollup_two_level": (
        f"SELECT s_name, CAST(month(l_shipdate) AS INTEGER) AS month, "
        f"{SUM2.format(c='l_extendedprice')} AS total_award_amount "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "GROUP BY ROLLUP(s_name, CAST(month(l_shipdate) AS INTEGER))"
    ),
    "q_orderby_desc": (
        f"SELECT c_name, {SUM2.format(c='o_totalprice')} AS total_award_amount "
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_name "
        "ORDER BY total_award_amount DESC, c_name ASC"
    ),
    "q_topk": (
        f"SELECT c_name, {SUM2.format(c='o_totalprice')} AS total_award_amount "
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_name "
        "ORDER BY total_award_amount DESC, c_name ASC LIMIT 15"
    ),
    "q_topn_frequency": (
        "SELECT c_mktsegment, count(*) AS cnt FROM customer GROUP BY c_mktsegment "
        "ORDER BY cnt DESC, c_mktsegment ASC LIMIT 5"
    ),
    "q_orderby_asc": (
        f"SELECT CAST(month(o_orderdate) AS INTEGER) AS month, "
        f"{SUM2.format(c='o_totalprice')} AS total_award_amount "
        "FROM orders GROUP BY CAST(month(o_orderdate) AS INTEGER) ORDER BY month ASC"
    ),
    "q_first_row": (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "ORDER BY o_orderkey ASC LIMIT 1"
    ),
    "q_union_branches": (
        f"SELECT c_name AS entity, 'recipient' AS branch, "
        f"{SUM2.format(c='o_totalprice')} AS total_award_amount "
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_name "
        "UNION ALL "
        f"SELECT s_name AS entity, 'sub_agency' AS branch, "
        f"{SUM2.format(c='l_extendedprice')} AS total_award_amount "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY s_name"
    ),
    "q_window_topk_per_group": """
        SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
            SELECT c_mktsegment, o_orderkey, o_totalprice,
                   CAST(row_number() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY o_totalprice DESC, o_orderkey ASC
                   ) AS INTEGER) AS rn
            FROM orders JOIN customer ON o_custkey = c_custkey
        ) WHERE rn <= 3
    """,
}
