"""Fifth relational wave: the remaining TPC-H query shapes expressible
on this corpus's columns -- q7 (volume shipping), q8 (market share),
q13 (customer order-count distribution), q15 (top supplier via view +
scalar max), q22 (global sales opportunity).  With these, every TPC-H
query whose required columns exist in the corpus (no partsupp table, no
ship-mode/commit/receipt dates, no phone/comment columns) has a
registered adaptation: q1-q8, q10, q13-q15, q17-q19, q22.

Same construction as relational4: one SQL text for both engines via
``run_sql``; all double aggregates decimal-exact; all LIMIT /
threshold comparisons deterministic by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from eecs485_p4_mapreduce_spark.functions.numeric import davg_sql, dsum_sql
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import run_sql

_Q7 = f"""
    SELECT supp_nation, cust_nation, l_year,
           {dsum_sql('volume')} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
"""

_Q8 = f"""
    SELECT o_year,
           {dsum_sql("CASE WHEN nation = 'NATION_5' THEN volume ELSE 0.0 END")}
             / {dsum_sql('volume')} AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
        AND p.p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
"""

_Q13 = """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""

_Q15 = f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {dsum_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""

_Q22 = f"""
    SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
           {dsum_sql('c_acctbal')} AS totacctbal
    FROM (
      SELECT CAST(c.c_nationkey % 10 AS INT) AS cntrycode, c.c_acctbal
      FROM customer c
      WHERE c.c_acctbal > (
          SELECT {davg_sql('c2.c_acctbal')} FROM customer c2
          WHERE c2.c_acctbal > 0.0)
        AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-06-01')
    ) custsale
    GROUP BY cntrycode
"""



@query("tpch_q7_volume_shipping", oracle=_Q7)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7 (volume shipping): bilateral trade revenue between two
    nations by ship year.  The nation pair disjunction sits on two
    DIFFERENT dimension joins (supplier's nation vs customer's nation),
    so it cannot push to either scan alone -- it evaluates as a residual
    after both tiny broadcasts, while the date range does push into the
    lineitem scan.  The only large shuffle is lineitem⋈orders."""
    return run_sql(spark, sf_dir, _Q7)


@query("tpch_q8_market_share", oracle=_Q8)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 (national market share): one nation's share of regional
    revenue for one part type, by order year -- an 8-table join where
    nation joins TWICE under different roles (customer's region filter,
    supplier's nationality).  Share = conditional decimal sum over total
    decimal sum, one pass, bitwise-stable division."""
    return run_sql(spark, sf_dir, _Q8)


@query("tpch_q13_custdist", oracle=_Q13)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13 (customer distribution): histogram of per-customer order
    counts INCLUDING zero -- the left outer join with the filter in the
    join condition (not WHERE, which would turn it inner) is the whole
    point of the query.  Two aggregations: per-customer count, then the
    distribution over counts."""
    return run_sql(spark, sf_dir, _Q13)


@query("tpch_q15_top_supplier", oracle=_Q15)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15 (top supplier): a revenue CTE used twice -- joined to
    supplier AND aggregated for the scalar max threshold.  Decimal-exact
    revenue makes the max comparison pick identical suppliers on both
    engines (a raw double sum here is the classic cross-engine
    tie-break bug)."""
    return run_sql(spark, sf_dir, _Q15)


@query("tpch_q22_sales_opportunity", oracle=_Q22)
def tpch_q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22 (global sales opportunity): well-funded customers who
    placed no recent order (adapted: nationkey mod 10 stands in for the
    phone country code, and 'never ordered' becomes 'no order in the
    last 14 months' -- this corpus gives every customer some order).
    Combines an uncorrelated scalar average threshold with a NOT EXISTS
    anti-join; both lower to one
    broadcast threshold plus one left-anti shuffle join, not per-row
    subquery evaluation."""
    return run_sql(spark, sf_dir, _Q22)
