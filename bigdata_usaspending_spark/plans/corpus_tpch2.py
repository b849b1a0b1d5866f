"""TPC-H shapes, wave 2: the decision-support surface the first wave's
join/agg pipelines (Q3/4/5/6/7/8/12/18 in plans/corpus_more.py) did not
exercise — outer-join distributions, ratio aggregates, scalar subqueries,
correlated-aggregate filters, disjunctive join predicates, and anti-joins
against a scalar threshold.

Each query keeps the canonical TPC-H plan shape on the synthetic star
(columns adapted: the fixture has no partsupp/receiptdate/phone) and the
exact-decimal determinism contract of plans/corpus.py, so every money
number is bit-identical to the DuckDB oracle.

Spark-first notes per query:
- Q13: LEFT OUTER customer->filtered-orders then two hash aggregations;
  the orders-side filter stays BELOW the join (no WHERE on the outer side).
- Q14: single filtered scan of lineitem with a broadcast part join; the
  promo/total ratio is two conditional decimal sums in ONE aggregate.
- Q15: the revenue view is computed once and its global max joins back as
  a broadcast 1-row scalar — no second scan of lineitem, no window over a
  single partition.
- Q17: the correlated per-part average decorrelates into a pre-aggregation
  joined back on partkey (what Catalyst does to the subquery form); the
  brand filter prunes BEFORE both the aggregation and the join.
- Q19: OR-of-conjunctions as a residual filter over one partkey equi-join
  — Catalyst pushes the p_* conjuncts to the broadcast side build.
- Q22: scalar average as a broadcast 1-row cross join; "has no recent
  order" as a LEFT ANTI join (no NOT EXISTS re-scan per row).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions import exact_sum
from .corpus import D2D, SUM2
from .corpus_more import _REV_D, _REV_SQL, _revenue_col


_D38 = "decimal(38,6)"


def q_tpch_q13_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: LEFT OUTER join
    so zero-order customers survive into the c_count=0 bucket, then a
    second aggregation over the per-customer counts. Two shuffles (custkey,
    then c_count); the priority filter is applied to the orders side
    BEFORE the join, which an outer-join WHERE could not express."""
    cust = load(spark, sf, "customer").select("c_custkey")
    orders = load(spark, sf, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_tpch_q14_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14-shaped promo revenue share: one month of lineitem with a
    broadcast part join; numerator and denominator are conditional
    exact-decimal sums in the SAME single aggregate, ratio taken in double
    only after both sums are rounded — bit-reproducible by the oracle."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = load(spark, sf, "part").select("p_partkey", "p_type")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    prod = (
        F.col("l_extendedprice").cast(_REV_D)
        * (F.lit(1.0) - F.col("l_discount")).cast(_REV_D)
    ).cast(_D38)
    zero = F.lit(0).cast(_D38)
    agg = joined.agg(
        F.round(F.sum(F.when(F.col("p_type") == "PROMO", prod).otherwise(zero)), 2)
        .cast("double")
        .alias("_num"),
        F.round(F.sum(prod), 2).cast("double").alias("_den"),
    )
    return agg.select(
        (F.lit(100.0) * F.col("_num") / F.col("_den")).alias("promo_revenue")
    )


def q_tpch_q15_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier: quarterly revenue per supplier, then
    the supplier(s) matching the GLOBAL max — the scalar subquery becomes a
    broadcast 1-row join against the re-used revenue aggregate (the view is
    computed once; no single-partition global window)."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(_revenue_col("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("_mx"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q_tpch_q17_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17-shaped small-quantity revenue: lines of one brand whose
    quantity is under 20% of that part's average quantity. The correlated
    AVG decorrelates into a per-partkey pre-aggregation joined back on the
    (brand-pruned) lineitem subset; the average itself is an exact-decimal
    sum over a double count so the threshold is bit-deterministic."""
    part = load(spark, sf, "part").filter(F.col("p_brand") == "Brand#3").select(
        "p_partkey"
    )
    li = load(spark, sf, "lineitem")
    li_b = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_q = li_b.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (
            F.sum(F.col("l_quantity").cast(_REV_D))
            .cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("_avg_qty")
    )
    qualified = li_b.join(avg_q, li_b.l_partkey == F.col("_pk")).filter(
        F.col("l_quantity") < F.lit(0.2) * F.col("_avg_qty")
    )
    total = qualified.agg(
        F.round(F.sum(F.col("l_extendedprice").cast(_REV_D)), 2)
        .cast("double")
        .alias("_t")
    )
    return total.select((F.col("_t") / F.lit(7.0)).alias("avg_yearly"))


def q_tpch_q19_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate revenue: one partkey
    equi-join with an OR of three (brand, size-band, quantity-band)
    conjunctions as the residual predicate — the shape that breaks naive
    join-predicate pushdown but stays a single broadcast hash join here."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    sz = F.col("p_size")
    br = F.col("p_brand")
    cond = (
        ((br == "Brand#1") & sz.between(1, 10) & q.between(1, 20))
        | ((br == "Brand#2") & sz.between(11, 30) & q.between(10, 30))
        | ((br == "Brand#3") & sz.between(20, 50) & q.between(20, 40))
    )
    return joined.filter(cond).agg(_revenue_col("revenue"))


def q_tpch_q22_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22-shaped dormant high-balance customers: segment-filtered
    customers above the segments' positive-balance average (scalar
    aggregate broadcast back as a 1-row cross join) with NO order since
    1999 (LEFT ANTI against the date-filtered orders), rolled up per
    segment with an exact-decimal balance sum."""
    segs = ("BUILDING", "AUTOMOBILE", "MACHINERY")
    cust = load(spark, sf, "customer").filter(F.col("c_mktsegment").isin(*segs))
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast(_REV_D)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("_avg_bal")
    )
    recent = load(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    dormant = (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    )
    return (
        dormant.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum("c_acctbal", "totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_tpch_q13_shape": q_tpch_q13_shape,
    "q_tpch_q14_shape": q_tpch_q14_shape,
    "q_tpch_q15_shape": q_tpch_q15_shape,
    "q_tpch_q17_shape": q_tpch_q17_shape,
    "q_tpch_q19_shape": q_tpch_q19_shape,
    "q_tpch_q22_shape": q_tpch_q22_shape,
}

ROWS_ONLY_QUERIES: set[str] = set()

# DuckDB twin of the exact per-part average in Q17/Q22: decimal sum through
# the VARCHAR hop divided by a double count.
_AVG_Q = (
    D2D.format(x="SUM(CAST(l_quantity AS DECIMAL(19,4)))")
    + " / CAST(COUNT(*) AS DOUBLE)"
)
_AVG_BAL = (
    D2D.format(x="SUM(CAST(c_acctbal AS DECIMAL(19,4)))")
    + " / CAST(COUNT(*) AS DOUBLE)"
)

ORACLE_SQL: dict[str, str] = {
    "q_tpch_q13_shape": """
        WITH per_cust AS (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        SELECT c_count, COUNT(*) AS custdist
        FROM per_cust
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "q_tpch_q14_shape": f"""
        WITH j AS (
            SELECT p_type,
                   CAST(CAST(l_extendedprice AS DECIMAL(19,4))
                        * CAST(1.0 - l_discount AS DECIMAL(19,4))
                        AS DECIMAL(38,6)) AS prod
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
        )
        SELECT 100.0
               * {D2D.format(x="ROUND(SUM(CASE WHEN p_type = 'PROMO' THEN prod ELSE CAST(0 AS DECIMAL(38,6)) END), 2)")}
               / {D2D.format(x="ROUND(SUM(prod), 2)")} AS promo_revenue
        FROM j
    """,
    "q_tpch_q15_shape": f"""
        WITH rev AS (
            SELECT l_suppkey, {_REV_SQL} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        ORDER BY s_suppkey
    """,
    "q_tpch_q17_shape": f"""
        WITH li_b AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#3'
        ),
        avg_q AS (
            SELECT l_partkey AS _pk, {_AVG_Q} AS _avg_qty
            FROM li_b GROUP BY l_partkey
        )
        SELECT {D2D.format(x="ROUND(SUM(CAST(l_extendedprice AS DECIMAL(19,4))), 2)")}
               / 7.0 AS avg_yearly
        FROM li_b JOIN avg_q ON l_partkey = _pk
        WHERE l_quantity < 0.2 * _avg_qty
    """,
    "q_tpch_q19_shape": f"""
        SELECT {_REV_SQL} AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 40)
    """,
    "q_tpch_q22_shape": f"""
        WITH seg AS (
            SELECT * FROM customer
            WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
        ),
        avg_bal AS (
            SELECT {_AVG_BAL} AS _avg_bal FROM seg WHERE c_acctbal > 0
        )
        SELECT c_mktsegment, COUNT(*) AS numcust,
               {SUM2.format(c='c_acctbal')} AS totacctbal
        FROM seg, avg_bal
        WHERE c_acctbal > _avg_bal
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '1999-01-01'
          )
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
}
