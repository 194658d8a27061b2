"""Projection / filter / predicate operators — SURVEY.md §2.2.

These generalize the reference's validate/filter/field-mapping steps
([P]: drop bad duration/distance rows, map to publish schema —
SURVEY §3.1). All are pure narrow transformations: no shuffle, fully
pushed down to the parquet scan by Catalyst (verify: PushedFilters in
.explain()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load


@query(
    "prj_select_rename",
    oracle="""
    SELECT c_custkey AS cust_id, c_name AS cust_name, c_mktsegment AS segment
    FROM customer
    """,
)
def prj_select_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column subset + rename (publish-schema field mapping, [P high])."""
    return load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_name").alias("cust_name"),
        F.col("c_mktsegment").alias("segment"),
    )


@query(
    "prj_derived_expr",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS gross_charge
    FROM lineitem
    """,
)
def prj_derived_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic derived column (derived trip metrics, [P med]).

    Rounded to 6 dp, not 4: the true product of 2-dp decimals has at
    most 6 decimal digits, so round-6 is the identity on the exact
    value and both engines return the same double; round-4 sits on
    exact .xxxx5 ties where their half-rounding modes differ."""
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 6
        ).alias("gross_charge"),
    )


@query(
    "prj_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 100000 THEN 'small'
                WHEN o_totalprice < 250000 THEN 'medium'
                ELSE 'large' END AS price_tier
    FROM orders
    """,
)
def prj_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-WHEN bucket classification (trip-type classification, [P med])."""
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 250000, "medium")
        .otherwise("large")
        .alias("price_tier"),
    )


@query(
    "flt_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_quantity >= 10 AND l_quantity < 40
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    """,
)
def flt_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric + date band predicate (the reference's trip
    duration/distance validation filters, [P high])."""
    li = load(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") < 40)
        & (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@query(
    "flt_in_set",
    oracle="""
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def flt_in_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list on an enum column (vehicle-type/provider filter, [P med])."""
    return (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority")
    )


@query(
    "flt_null_coalesce",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'N/A') AS segment,
           CASE WHEN NULLIF(c_mktsegment, 'BUILDING') IS NULL THEN 1 ELSE 0 END AS was_null
    FROM customer
    WHERE COALESCE(NULLIF(c_mktsegment, 'AUTOMOBILE'), 'X') <> 'X'
    """,
)
def flt_null_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-aware filter + coalesce defaulting; nulls synthesized via
    nullif (missing-field handling, [P high])."""
    c = load(spark, sf_dir, "customer")
    seg_n = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return (
        c.where(F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("AUTOMOBILE")), F.lit("X")) != "X")
        .select(
            "c_custkey",
            F.coalesce(seg_n, F.lit("N/A")).alias("segment"),
            F.when(seg_n.isNull(), 1).otherwise(0).alias("was_null"),
        )
    )


@query(
    "flt_like_regex",
    oracle="""
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE p_name LIKE 's%' AND regexp_matches(p_brand, '^Brand#1[0-9]$')
    """,
)
def flt_like_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE prefix + regex predicate on strings (core)."""
    return (
        load(spark, sf_dir, "part")
        .where(F.col("p_name").like("s%") & F.col("p_brand").rlike("^Brand#1[0-9]$"))
        .select("p_partkey", "p_name", "p_brand")
    )


# ---------------------------------------------------------------------------
# prj_unpivot — wide-to-long reshape
# ---------------------------------------------------------------------------


@query(
    "prj_unpivot",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             ROUND(SUM(l_quantity), 4) AS sum_qty,
             ROUND(SUM(l_extendedprice), 4) AS sum_price,
             ROUND(SUM(l_discount), 4) AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM w
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM w
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM w
    """,
)
def prj_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of a per-flag aggregate into
    (key, metric, value) rows — the inverse of agg_pivot, used to
    normalize wide report tables back into EAV form. Spark's native
    ``DataFrame.unpivot`` expands rows map-side (an Expand node, no
    shuffle); the oracle is the equivalent UNION ALL."""
    li = load(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        F.round(F.sum("l_discount"), 4).alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="val",
    )
