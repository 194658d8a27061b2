"""Sort / limit / top-k operators — SURVEY.md §2.6.

Global ``orderBy().limit(k)`` compiles to TakeOrderedAndProject —
per-partition top-k then a k-row merge on the driver; no global sort
materializes even at 100 TB. Pagination (offset) requires a global
sort — noted as a driver-side anti-pattern at scale; keyset
pagination is the scalable form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import sql_over
from ..tables import load


@query(
    "srt_multi_nulls",
    oracle="""
    SELECT c_custkey, seg_null AS segment, c_acctbal
    FROM (
      SELECT c_custkey, NULLIF(c_mktsegment, 'MACHINERY') AS seg_null, c_acctbal
      FROM customer
      ORDER BY seg_null ASC NULLS FIRST, c_acctbal DESC, c_custkey
      LIMIT 200
    ) t
    """,
)
def srt_multi_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit NULLS FIRST (nulls synthesized via
    nullif), truncated with a fully-tiebroken LIMIT so the result set
    is deterministic (core)."""
    c = load(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("segment"),
            "c_acctbal",
        )
        .orderBy(
            F.col("segment").asc_nulls_first(),
            F.col("c_acctbal").desc(),
            F.col("c_custkey"),
        )
        .limit(200)
    )


@query(
    "srt_topk_global",
    oracle="""
    SELECT o_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(o_orderdate AS DATE) AS order_date
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def srt_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filter + 3-way join + group + global top-10
    (TakeOrderedAndProject). The flagship query (SURVEY §7 M0). One
    SQL text: the plan is analysed once, in a handful of py4j calls.

    Lineitem (the largest fact) streams and BOTH join strategies are
    Catalyst's: at small SF the filtered orders and customer sides sit
    under the broadcast threshold (verified BroadcastHashJoin in the
    plan); at 100 TB customer is SF-proportional (~15B rows) so
    stats/AQE push both to shuffled hash joins — no hint means the
    right plan at every scale."""
    return sql_over(
        spark,
        _Q3_SQL,
        lineitem=load(spark, sf_dir, "lineitem"),
        orders=load(spark, sf_dir, "orders"),
        customer=load(spark, sf_dir, "customer"),
    )


_Q3_SQL = """
SELECT o_orderkey, revenue, CAST(o_orderdate AS DATE) AS order_date
FROM (
  SELECT o_orderkey, o_orderdate,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
  FROM (SELECT * FROM {lineitem} WHERE l_shipdate > '1998-03-15')
  JOIN (SELECT * FROM {orders} WHERE o_orderdate < '1998-03-15')
    ON l_orderkey = o_orderkey
  JOIN (SELECT * FROM {customer} WHERE c_mktsegment = 'BUILDING')
    ON c_custkey = o_custkey
  GROUP BY o_orderkey, o_orderdate
)
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@query(
    "srt_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_orderkey
    LIMIT 50 OFFSET 100
    """,
)
def srt_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic page 2: order by unique key, offset 100 limit 50
    (API pagination, [P high])."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(100)
        .limit(50)
    )
