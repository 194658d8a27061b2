"""Set operators — SURVEY.md §2.7.

union/intersect/except over period slices. Generalizes the
reference's multi-page batch appends and overlapping re-pull dedup
([P high], SURVEY §2.7). INTERSECT/EXCEPT have SQL distinct
semantics — matched to Spark's intersect()/.exceptAll-vs-except
distinction (SURVEY §7 hard-part #2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load


def _slice(spark, sf_dir, lo: str, hi: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("od"))
    )


@query(
    "set_union_all",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od
    FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'
    UNION ALL
    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od
    FROM orders WHERE o_orderdate >= TIMESTAMP '1996-02-01' AND o_orderdate < TIMESTAMP '1996-03-01'
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two month slices (batch appends across API pages,
    [P high])."""
    a = _slice(spark, sf_dir, "1996-01-01", "1996-02-01")
    b = _slice(spark, sf_dir, "1996-02-01", "1996-03-01")
    return a.unionByName(b)


@query(
    "set_union_distinct",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od
    FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-03-01'
    UNION
    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od
    FROM orders WHERE o_orderdate >= TIMESTAMP '1996-02-01' AND o_orderdate < TIMESTAMP '1996-04-01'
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION with dedup of overlapping slices (overlapping re-pulls,
    [P high])."""
    a = _slice(spark, sf_dir, "1996-01-01", "1996-03-01")
    b = _slice(spark, sf_dir, "1996-02-01", "1996-04-01")
    return a.unionByName(b).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers active in both periods (INTERSECT, distinct
    semantics; core)."""
    orders = load(spark, sf_dir, "orders")
    a = orders.where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey")
    b = orders.where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_custkey")
    return a.intersect(b)


@query(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers in period A but not B. SQL EXCEPT has distinct
    semantics = Spark ``subtract`` (``exceptAll`` is bag-difference
    and would diverge; SURVEY §7 hard-part #2). Churn detection
    ([P low])."""
    orders = load(spark, sf_dir, "orders")
    a = orders.where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey")
    b = orders.where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_custkey")
    return a.subtract(b)


@query(
    "set_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL (multiplicity-preserving difference):
    a customer with 5 early orders and 2 late ones keeps 3 rows —
    vs `set_except`'s set semantics. Spark plans this as a
    left-anti-style hash join on counts, one shuffle."""
    o = load(spark, sf_dir, "orders")
    early = o.where(F.col("o_orderdate") < "1997-01-01").select(
        F.col("o_custkey").alias("custkey")
    )
    late = o.where(F.col("o_orderdate") >= "1997-01-01").select(
        F.col("o_custkey").alias("custkey")
    )
    return early.exceptAll(late)


@query(
    "set_intersect_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics INTERSECT ALL (multiplicity-preserving
    intersection): a customer with 5 early and 2 late orders keeps
    min(5,2)=2 rows — completes the set-op surface alongside
    `set_intersect`'s distinct semantics. One shuffle on the key,
    min-of-counts semantics planned as a hash join."""
    o = load(spark, sf_dir, "orders")
    early = o.where(F.col("o_orderdate") < "1997-01-01").select(
        F.col("o_custkey").alias("custkey")
    )
    late = o.where(F.col("o_orderdate") >= "1997-01-01").select(
        F.col("o_custkey").alias("custkey")
    )
    return early.intersectAll(late)


# ---------------------------------------------------------------------------
# set_union_by_name — schema-evolution union (unionByName, missing cols)
# ---------------------------------------------------------------------------


@query(
    "set_union_by_name",
    oracle="""
    WITH u AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL BY NAME
      SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
             o_orderkey, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(cents) AS BIGINT) AS n_with_cents,
           CAST(COUNT(order_year) AS BIGINT) AS n_with_year,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(SUM(order_year) AS BIGINT) AS sum_year
    FROM u
    GROUP BY o_orderstatus
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union — ``unionByName(allowMissingColumns=
    True)`` (DuckDB: ``UNION ALL BY NAME``): the two branches project
    DIFFERENT column sets in DIFFERENT orders (old extract has cents
    but no year, new extract has year but no cents, key columns
    swapped), and the union must align by NAME and NULL-fill each
    side's missing column — the positional UNION ALL (set_union_all)
    would mis-zip the swapped columns or reject the width mismatch.
    The disjoint pmod split makes every source row appear exactly
    once; COUNT(col) vs COUNT(*) pins the NULL-fill pattern per
    branch, the SUMs pin value survival. Plan: two scans of the same
    parquet (each with its parity filter pushed) + one combinable agg
    exchange."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    old_extract = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", cents
    )
    new_extract = o.where(F.col("o_orderkey") % 2 == 1).select(
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_orderkey",
        "o_orderstatus",
    )
    u = old_extract.unionByName(new_extract, allowMissingColumns=True)
    return u.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("cents").alias("n_with_cents"),
        F.count("order_year").alias("n_with_year"),
        F.sum("cents").alias("sum_cents"),
        F.sum("order_year").cast("long").alias("sum_year"),
    )
