"""TPC-H shapes, wave 3: the remaining seven of the 22 canonical
decision-support shapes (Q2/Q9/Q10/Q11/Q16/Q20/Q21), completing full
TPC-H plan-shape coverage together with plans/corpus.py (Q1 =
q_pricing_summary), corpus_more.py (Q3/4/5/6/7/8/12/18) and
corpus_tpch2.py (Q13/14/15/17/19/22).

The fixture star has no partsupp table and no commit/receipt dates, so —
as in wave 2 — each query keeps the CANONICAL PLAN SHAPE on adapted
columns: the part-supplier catalog is derived from distinct
(l_partkey, l_suppkey) lineitem pairs, supply cost from the min observed
unit price, stock-on-hand from shipped-quantity aggregates, and
"kept waiting" from l_shipdate lagging o_orderdate. Money numbers follow
the exact-decimal determinism contract of plans/corpus.py (decimal sums,
ROUND(...,2), VARCHAR-hop double cast in the oracle) so every value is
bit-identical to DuckDB.

Spark-first notes per query:
- Q2: the correlated MIN-cost subquery decorrelates into a per-part
  pre-aggregation joined back on (partkey, cost) equality; the dim chain
  supplier->nation->region is broadcast; final order+limit is
  TakeOrderedAndProject, not a global sort.
- Q9: five-table star join — part/supplier/nation broadcast onto the
  lineitem scan, ONE shuffle for the (nation, year) aggregate; profit is
  a single decimal expression so partial aggregation stays map-side.
- Q10: quarter-filtered orders join returned lines, one aggregate on
  customer, top-20 via TakeOrderedAndProject (k·partitions rows move,
  never the full customer list).
- Q11: grouped value per partkey with a global-fraction HAVING; the
  scalar total re-uses the SAME aggregate via a broadcast 1-row cross
  join — no second scan, no single-partition window.
- Q16: the part-supplier bridge dedups (partkey, suppkey) BEFORE joining
  part attributes (smallest shuffle first); the complaint-supplier
  exclusion is a broadcast LEFT ANTI; COUNT(DISTINCT) runs on the
  already-distinct bridge so the final agg is a plain count.
- Q20: both the all-time and the 1996 quantity sums come from ONE
  grouped conditional aggregate over a single lineitem scan (no
  self-join of two aggregates); qualifying pairs semi-join suppliers.
- Q21: the EXISTS/NOT-EXISTS double-correlation collapses into one
  per-order aggregate (distinct suppliers, distinct LATE suppliers)
  joined back to the late pairs — two shuffles on l_orderkey total,
  where the textbook nested-EXISTS form re-scans lineitem three times.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from .corpus import D2D
from .corpus_more import _REV_D, _REV_SQL, _revenue_col


_D38 = "decimal(38,6)"


def _ps_catalog(spark: SparkSession, sf: str) -> DataFrame:
    """Derived part-supplier catalog (the fixture has no partsupp):
    one row per observed (l_partkey, l_suppkey) with the minimum unit
    price as the supply-cost stand-in. Double division is bit-identical
    across engines (IEEE 754), MIN is order-independent, so the derived
    cost is oracle-deterministic. One shuffle on (partkey, suppkey)."""
    li = load(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost")
    )


_PS_SQL = """
    SELECT l_partkey, l_suppkey,
           MIN(l_extendedprice / l_quantity) AS ps_supplycost
    FROM lineitem GROUP BY l_partkey, l_suppkey
"""


def q_tpch_q2_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2-shaped minimum-cost supplier: for STANDARD parts of size
    >= 25, the supplier(s) in EUROPE offering that part at its regional
    minimum cost. The correlated MIN subquery decorrelates into a
    per-part pre-aggregation joined back on cost equality; supplier,
    nation and region are broadcast dims; top-100 is
    TakeOrderedAndProject."""
    part = (
        load(spark, sf, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") >= 25))
        .select("p_partkey", "p_name")
    )
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    nat = load(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = load(spark, sf, "region").filter(F.col("r_name") == "EUROPE").select("r_regionkey")
    euro_supp = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = _ps_catalog(spark, sf)
    offers = (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(F.broadcast(euro_supp), ps.l_suppkey == F.col("s_suppkey"))
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name", "ps_supplycost")
    )
    min_cost = offers.groupBy(F.col("p_partkey").alias("_pk")).agg(
        F.min("ps_supplycost").alias("_min_cost")
    )
    return (
        offers.join(
            min_cost,
            (offers.p_partkey == F.col("_pk"))
            & (offers.ps_supplycost == F.col("_min_cost")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "ps_supplycost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q_tpch_q9_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9-shaped product profit by (nation, year): lineitem with
    part (name filter), supplier->nation and orders joined in, profit =
    price*(1-discount) - 0.1*retail*quantity entirely in decimal so the
    (nation, year) sums are bit-deterministic. part/supplier/nation
    broadcast; orders co-shuffles with lineitem on orderkey; ONE final
    aggregate shuffle on (nation, year)."""
    part = load(spark, sf, "part").filter(F.col("p_name").like("%o%")).select(
        "p_partkey", "p_retailprice"
    )
    supp = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf, "nation").select("n_nationkey", "n_name")
    orders = load(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf, "lineitem")
    rev = (
        F.col("l_extendedprice").cast(_REV_D)
        * (F.lit(1.0) - F.col("l_discount")).cast(_REV_D)
    ).cast(_D38)
    cost = (
        (F.col("p_retailprice") * F.lit(0.1)).cast(_REV_D)
        * F.col("l_quantity").cast(_REV_D)
    ).cast(_D38)
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return (
        joined.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            (rev - cost).alias("_amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("_amount"), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q_tpch_q10_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item reporting: customers ranked by
    revenue lost to returns in one quarter. Orders quarter filter prunes
    at the scan; customer and nation broadcast; ONE aggregate shuffle on
    custkey; top-20 via TakeOrderedAndProject with custkey tiebreak so
    equal-revenue rows order deterministically."""
    orders = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = load(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey", "c_mktsegment"
    )
    nat = load(spark, sf, "nation").select("n_nationkey", "n_name")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_revenue_col("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q_tpch_q11_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11-shaped important-stock identification: per-part catalog
    value for one nation's suppliers, keeping parts above a fixed
    fraction of the nation's total. The scalar total re-uses the SAME
    grouped aggregate through a broadcast 1-row cross join (one lineitem
    scan, one shuffle); value is an exact-decimal sum so the threshold
    comparison is bit-deterministic on both engines."""
    nat = load(spark, sf, "nation").filter(F.col("n_name") == "NATION_7").select(
        "n_nationkey"
    )
    supp = load(spark, sf, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    li = load(spark, sf, "lineitem").join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
    )
    value = (
        li.groupBy("l_partkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast(_REV_D)), 2)
            .cast("double")
            .alias("value")
        )
    )
    total = value.agg(F.sum("value").alias("_total"))
    return (
        value.join(F.broadcast(total))
        .filter(F.col("value") > F.col("_total") * F.lit(0.0015))
        .select("l_partkey", "value")
        .orderBy(F.desc("value"), "l_partkey")
    )


def q_tpch_q16_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16-shaped supplier count by part attributes: how many
    distinct non-excluded suppliers offer each (brand, type, size) combo
    outside one brand/type family. The bridge dedups (partkey, suppkey)
    FIRST (smallest shuffle), part attrs broadcast on, excluded
    suppliers (name ending '7', the complaints stand-in) removed by a
    broadcast LEFT ANTI, and the distinct-count aggregate runs over
    already-distinct pairs."""
    bridge = (
        load(spark, sf, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    part = load(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(10, 20, 30, 40, 50)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    excluded = load(spark, sf, "supplier").filter(
        F.col("s_name").like("%7")
    ).select("s_suppkey")
    return (
        bridge.join(F.broadcast(part), bridge.l_partkey == part.p_partkey)
        .join(F.broadcast(excluded), bridge.l_suppkey == excluded.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q_tpch_q20_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20-shaped excess-stock suppliers: suppliers in one region
    holding 'excess stock' of red parts — shipped more than twice as
    much OUTSIDE 1996 as in 1996 for some red part they supply. Both
    quantity sums come from ONE grouped conditional aggregate over a
    single lineitem scan (the canonical correlated subquery pair,
    decorrelated); the part name filter broadcasts; qualifying pairs
    LEFT SEMI join suppliers so each supplier appears once."""
    red = load(spark, sf, "part").filter(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    li = load(spark, sf, "lineitem")
    y96 = F.col("l_shipdate").between(
        F.lit("1996-01-01").cast("timestamp"), F.lit("1996-12-31").cast("timestamp")
    )
    pairs = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(y96, F.col("l_quantity")).otherwise(F.lit(0.0))).alias("_q96"),
            F.sum(F.when(~y96, F.col("l_quantity")).otherwise(F.lit(0.0))).alias("_qrest"),
        )
        .filter((F.col("_q96") > 0) & (F.col("_qrest") > F.lit(2.0) * F.col("_q96")))
        .select("l_suppkey")
    )
    nat = load(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    reg = load(spark, sf, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    supp = (
        load(spark, sf, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        supp.join(pairs, supp.s_suppkey == pairs.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


def q_tpch_q21_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21-shaped suppliers-who-kept-orders-waiting: for finished
    multi-supplier orders, the sole supplier whose lines shipped more
    than 60 days after the order date. The canonical
    EXISTS / NOT-EXISTS double correlation collapses into one per-order
    aggregate (distinct suppliers, distinct late suppliers) joined back
    to the late (order, supplier) pairs — two orderkey shuffles total
    instead of three lineitem re-scans. Suppliers are region-filtered
    through broadcast dims; top-10 is TakeOrderedAndProject."""
    orders = load(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    rows = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .cast("int")
        .alias("_late"),
    )
    pairs = rows.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("_late").alias("_pair_late")
    )
    per_order = pairs.groupBy(F.col("l_orderkey").alias("_ok")).agg(
        F.count(F.lit(1)).alias("_ns"),
        F.sum("_pair_late").alias("_nlate"),
    )
    waiting = (
        pairs.filter(F.col("_pair_late") == 1)
        .join(per_order, pairs.l_orderkey == F.col("_ok"))
        .filter((F.col("_ns") > 1) & (F.col("_nlate") == 1))
    )
    nat = load(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    reg = load(spark, sf, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    supp = (
        load(spark, sf, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        waiting.join(F.broadcast(supp), waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_tpch_q2_shape": q_tpch_q2_shape,
    "q_tpch_q9_shape": q_tpch_q9_shape,
    "q_tpch_q10_shape": q_tpch_q10_shape,
    "q_tpch_q11_shape": q_tpch_q11_shape,
    "q_tpch_q16_shape": q_tpch_q16_shape,
    "q_tpch_q20_shape": q_tpch_q20_shape,
    "q_tpch_q21_shape": q_tpch_q21_shape,
}

ROWS_ONLY_QUERIES: set[str] = set()

ORACLE_SQL: dict[str, str] = {
    "q_tpch_q2_shape": f"""
        WITH ps AS ({_PS_SQL}),
        euro_supp AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ),
        offers AS (
            SELECT p_partkey, p_name, s_name, s_acctbal, n_name, ps_supplycost
            FROM ps
            JOIN part ON l_partkey = p_partkey
            JOIN euro_supp ON l_suppkey = s_suppkey
            WHERE p_type = 'STANDARD' AND p_size >= 25
        ),
        min_cost AS (
            SELECT p_partkey AS _pk, MIN(ps_supplycost) AS _min_cost
            FROM offers GROUP BY p_partkey
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
        FROM offers JOIN min_cost
          ON p_partkey = _pk AND ps_supplycost = _min_cost
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    "q_tpch_q9_shape": f"""
        WITH j AS (
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INT) AS o_year,
                   CAST(CAST(l_extendedprice AS DECIMAL(19,4))
                        * CAST(1.0 - l_discount AS DECIMAL(19,4))
                        AS DECIMAL(38,6))
                   - CAST(CAST(p_retailprice * 0.1 AS DECIMAL(19,4))
                          * CAST(l_quantity AS DECIMAL(19,4))
                          AS DECIMAL(38,6)) AS _amount
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%o%'
        )
        SELECT nation, o_year,
               {D2D.format(x="ROUND(SUM(_amount), 2)")} AS sum_profit
        FROM j
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
    """,
    "q_tpch_q10_shape": f"""
        SELECT c_custkey, c_name, c_acctbal, n_name, {_REV_SQL} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "q_tpch_q11_shape": f"""
        WITH value AS (
            SELECT l_partkey,
                   {D2D.format(x="ROUND(SUM(CAST(l_extendedprice AS DECIMAL(19,4))), 2)")}
                   AS value
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'
            GROUP BY l_partkey
        )
        SELECT l_partkey, value
        FROM value
        WHERE value > (SELECT SUM(value) FROM value) * 0.0015
        ORDER BY value DESC, l_partkey
    """,
    "q_tpch_q16_shape": """
        WITH bridge AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        )
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM bridge
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          AND p_size IN (10, 20, 30, 40, 50)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7'
          )
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "q_tpch_q20_shape": """
        WITH pairs AS (
            SELECT l_partkey, l_suppkey,
                   SUM(CASE WHEN l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                                 AND TIMESTAMP '1996-12-31'
                            THEN l_quantity ELSE 0.0 END) AS _q96,
                   SUM(CASE WHEN l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                                 AND TIMESTAMP '1996-12-31'
                            THEN 0.0 ELSE l_quantity END) AS _qrest
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'red%'
            GROUP BY l_partkey, l_suppkey
        )
        SELECT s_suppkey, s_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND EXISTS (
              SELECT 1 FROM pairs
              WHERE l_suppkey = s_suppkey
                AND _q96 > 0 AND _qrest > 2.0 * _q96
          )
        ORDER BY s_name
    """,
    "q_tpch_q21_shape": """
        WITH pairs AS (
            SELECT l_orderkey, l_suppkey,
                   MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                            THEN 1 ELSE 0 END) AS _pair_late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
            GROUP BY l_orderkey, l_suppkey
        ),
        per_order AS (
            SELECT l_orderkey AS _ok, COUNT(*) AS _ns,
                   SUM(_pair_late) AS _nlate
            FROM pairs GROUP BY l_orderkey
        )
        SELECT s_name, COUNT(DISTINCT l_orderkey) AS numwait
        FROM pairs
        JOIN per_order ON l_orderkey = _ok
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE _pair_late = 1 AND _ns > 1 AND _nlate = 1
          AND r_name = 'ASIA'
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10
    """,
}
