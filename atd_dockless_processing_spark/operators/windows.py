"""Window-function operators — SURVEY.md §2.5.

Window ops shuffle once on the partition key, then sort within
partitions. At 100 TB the concern is partition-key skew: per-customer
and per-user partitions here are naturally bounded; a skewed key
would call for a two-level (salted partial) rewrite.
Every window has a total order (tie-breakers) so results hash
deterministically (SURVEY §5.2 item 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..session import sql_over
from ..tables import load


@query(
    "win_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) t WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer via row_number (core)."""
    return sql_over(spark, _TOPK_PER_CUSTOMER_SQL, orders=load(spark, sf_dir, "orders"))


_TOPK_PER_CUSTOMER_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM {orders}
)
WHERE rn <= 3
"""


@query(
    "win_rank_dense",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice,
           CAST(RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS INTEGER) AS rnk,
           CAST(DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS INTEGER) AS drnk
    FROM part
    """,
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank + dense_rank within brand (tie-heavy ordering; core).
    rank/dense_rank are deterministic under ties, so no tie-break
    column is needed for hash stability."""
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return load(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           CAST(date_diff('second',
                LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                CAST(ts AS TIMESTAMP)) AS BIGINT) AS gap_s,
           LEAD(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event_id
    FROM events
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap via lag(ts) + lead(event_id) (trip
    sequence deltas, [P med])."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts = F.col("ts").cast("timestamp")
    return load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (ts.cast("long") - F.lag(ts).over(w).cast("long")).alias("gap_s"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_rev
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer over order date (core)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("running_rev"),
    )


@query(
    "win_moving_avg",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(AVG(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
    FROM orders
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average of order totalprice per customer
    (smoothing, [P low])."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-6, 0)
    )
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w), 4).alias("ma7"),
    )


@query(
    "win_ntile_pct",
    oracle="""
    SELECT o_orderkey,
           CAST(NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS quartile,
           ROUND(PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank
    FROM orders
    """,
)
def win_ntile_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) + percent_rank over order totals (core), computed as
    an exact RANGE-PARTITIONED global rank (r7 de-weak — the naive
    ``Window.orderBy`` form is a single-reducer sort, the one plan
    shape that can never scale; ×100 A/B: 41.3 s single-reducer vs
    8.0 s distributed, identical rows at every SF):

    1. ``repartitionByRange`` on the total order (sampled range
       boundaries, each partition a contiguous key range);
    2. per-partition ``row_number`` — parallel local sorts;
    3. per-partition counts -> prefix-sum offsets (a P-row window,
       driver-scale) broadcast-joined back; global rank = offset +
       local rank. Both consumers read ONE physical range exchange
       (ReuseExchange; equality across forms is pinned by a test, as
       boundary sampling must not diverge between consumers);
    4. closed forms: percent_rank = (r-1)/(n-1) (ordering is unique,
       so rank == row_number; single correctly-rounded IEEE division
       on both engines); ntile(4) from the SQL-standard remainder
       rule — the first n%4 buckets take ceil(n/4) rows.
    """
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    rp = o.repartitionByRange(32, "o_totalprice", "o_orderkey")
    wloc = Window.partitionBy("pid").orderBy("o_totalprice", "o_orderkey")
    loc = rp.withColumn("pid", F.spark_partition_id()).withColumn(
        "rn", F.row_number().over(wloc)
    )
    wcum = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    off = (
        loc.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "pid",
            F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("off"),
            F.sum("c").over(Window.partitionBy()).alias("n"),
        )
    )
    g = loc.join(F.broadcast(off), "pid").select(
        "o_orderkey", (F.col("off") + F.col("rn")).alias("r"), "n"
    )
    k = ((F.col("n") - F.col("n") % 4) / 4).cast("long")  # floor(n/4)
    m = F.col("n") % 4
    big = m * (k + 1)  # rows covered by the m size-(k+1) buckets
    quartile = (
        F.when(F.col("r") <= big, ((F.col("r") - 1) / (k + 1)).cast("long") + 1)
        .otherwise(m + ((F.col("r") - big - 1) / k).cast("long") + 1)
    )
    return g.select(
        "o_orderkey",
        quartile.cast("int").alias("quartile"),
        F.round((F.col("r") - 1) / (F.col("n") - 1), 6).alias("pct_rank"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW), 4) AS rev_7d
    FROM orders
    WHERE o_custkey < 100
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE window frame: trailing-7-day revenue per
    customer — the frame is bounded by VALUE distance (6 days back in
    epoch seconds = 518400), not row count, so multiple orders on one
    day all fall in each other's frame and gaps shorten the window.
    This is the moving-aggregate semantics a rows-frame cannot give
    on irregular event times."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-518400, 0)
    )
    o = load(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    return o.select(
        "o_orderkey", F.round(F.sum("o_totalprice").over(w), 4).alias("rev_7d")
    )


@query(
    "win_cume_dist",
    oracle="""
    SELECT o_orderkey,
           ROUND(CUME_DIST() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey), 4) AS cd
    FROM orders
    WHERE o_custkey < 50
    """,
)
def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distribution within group (empirical CDF position
    of each order's value; total order via the key tie-break)."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    o = load(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    return o.select(
        "o_orderkey", F.round(F.cume_dist().over(w), 4).alias("cd")
    )


@query(
    "win_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 4) AS first_price,
           ROUND(LAST_VALUE(o_totalprice) OVER w, 4) AS last_price,
           ROUND(NTH_VALUE(o_totalprice, 2) OVER w, 4) AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value(2) over the full partition
    frame (customer's order history by date): first order's price,
    latest order's price, second order's price per row. The explicit
    unbounded-following frame matters — the default frame would make
    last_value = current row. nth_value is NULL for 1-order customers
    on both engines."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.first("o_totalprice").over(w), 4).alias("first_price"),
        F.round(F.last("o_totalprice").over(w), 4).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w), 4).alias("second_price"),
    )


# ---------------------------------------------------------------------------
# Percent-rank / nth-value window
# ---------------------------------------------------------------------------


@query(
    "win_percent_rank",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           nth_value(o_orderkey, 3) OVER (
             PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS third_cheapest
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank (relative standing in [0,1]) and nth_value(3)
    over a full-partition frame, per priority class — completes the
    ranking-window surface beside rank/dense_rank/ntile/cume_dist.
    Ordering embeds o_orderkey as tie-break so both window results
    are deterministic under any partitioning (nth_value over a
    tie-ambiguous sort would be engine-defined).

    Both windows share one exchange+sort on (priority, price, key);
    percent_rank's default running frame and nth_value's explicit
    unbounded frame are computed in the same WindowExec pass."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.nth_value("o_orderkey", 3).over(wfull).alias("third_cheapest"),
    )


# ---------------------------------------------------------------------------
# win_distinct_count — running distinct count over a window
# ---------------------------------------------------------------------------


@query(
    "win_distinct_count",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_types_seen
    FROM events
    """,
)
def win_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over an ordered window — "how many
    distinct event types has this device exhibited so far" (feature
    engineering for behavioral models; usage-diversity scoring).
    Spark does not support DISTINCT aggregates in window frames, so
    the engine expresses it as size(collect_set(...)) over the
    running ROWS frame — set semantics give exactly the distinct
    count and the result is order-insensitive within the frame; the
    DuckDB oracle uses its native COUNT(DISTINCT ...) OVER, making
    this a genuine cross-formulation check (different algorithms,
    same semantics).

    Plan shape: ONE window exchange on user_id with a (ts, event_id)
    total-order sort. Scale note: the collect_set state is bounded
    by the DISTINCT cardinality of the collected column (5 types
    here), NOT the frame length — this pattern is safe whenever the
    tracked domain is small (types, status codes, countries) and
    wrong for high-cardinality domains, where the production answer
    is a per-frame sketch (agg_hll_deterministic registers as
    window state)."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).cast("long").alias("n_types_seen"),
    )


# ---------------------------------------------------------------------------
# win_rolling_median — exact rolling median over a trailing row frame
# ---------------------------------------------------------------------------


@query(
    "win_rolling_median",
    oracle="""
    WITH f AS (
      SELECT user_id, event_id,
             list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS l
      FROM events WHERE user_id % 20 = 0
    )
    SELECT user_id, event_id,
           CAST(len(l) AS INT) AS frame_n,
           (l[((len(l) - 1) // 2) + 1] + l[(len(l) // 2) + 1]) / 2.0 AS rmed
    FROM f
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of `value` over the trailing 5 events
    per user — the robust windowed smoother ([P med]: the windowed
    sibling of evt_outlier_mad; telemetry dashboards prefer it to
    the mean precisely where spikes exist). Spark has no native
    percentile window over a row frame, so the frame is materialized
    as a sorted array (collect_list over ROWS BETWEEN 4 PRECEDING)
    and the median read by index — DuckDB builds the IDENTICAL list
    window, so both engines pick the same two order statistics and
    share one (a+b)/2 IEEE expression (exact, no rounding needed).

    Plan shape: one window exchange on user; O(frame) state per row.
    At 100 TB frame materialization is O(k log k) per row with k=5 —
    constant — and the user filter (%20) is pushed to the scan
    (PushedFilters); a quantile-sketch frame is only needed for
    k in the thousands."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id") % 20 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return (
        ev.select(
            "user_id",
            "event_id",
            F.sort_array(F.collect_list("value").over(w)).alias("l"),
        )
        .withColumn("frame_n", F.size("l"))
        .select(
            "user_id",
            "event_id",
            "frame_n",
            F.expr("(l[(frame_n - 1) div 2] + l[frame_n div 2]) / 2.0").alias("rmed"),
        )
    )


# ---------------------------------------------------------------------------
# win_fill_forward — LOCF via IGNORE NULLS window (gap fill surface)
# ---------------------------------------------------------------------------


@query(
    "win_fill_forward",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE WHEN event_id % 5 = 0 THEN value END AS v
      FROM events
    ), f AS (
      SELECT user_id,
             LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
      FROM e
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(fv) AS BIGINT) AS n_filled,
           CAST(SUM(CAST(ROUND(fv * 10000, 0) AS BIGINT)) AS BIGINT)
             AS sum_filled_e4
    FROM f
    GROUP BY user_id
    """,
)
def win_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF) through the WINDOW IGNORE-NULLS surface:
    ``last(v, ignorenulls=True)`` over an ordered per-user frame
    carries the latest observed value across the NULL gaps — the
    standard sparse-sensor densification, and the surface itself
    (`IGNORE NULLS`, distinct from a join- or interpolation-based
    fill: evt_ts_interpolate covers linear interpolation,
    evt_time_weighted_avg the duration-weighted LOCF aggregate).
    Sparsity is manufactured deterministically (value visible only
    when event_id % 5 == 0) so both engines fill the identical gap
    pattern; (ts, event_id) ordering makes the carried value unique
    under ts ties. Rows BEFORE a user's first observation stay NULL —
    COUNT(fv) < COUNT(*) pins that IGNORE NULLS does not invent a
    value. The checked sum is FP-EXACT: each filled value is scaled
    and rounded to an e4 integer PER ROW (deterministic — fv is a
    carried member of the column, not an accumulated float), then
    summed as BIGINT, so per-engine accumulation order cannot move
    the hash (r10 ADVICE #2; the sql_group_by_all integer-cents
    pattern). Plan: ONE user_id exchange, in-partition sort + running
    window + re-agg on the same key (no second exchange) — the
    win_topk_per_group family."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_id") % 5 == 0, F.col("value")).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.select(
        "user_id", F.last("v", ignorenulls=True).over(w).alias("fv")
    )
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("fv").alias("n_filled"),
        F.sum(F.round(F.col("fv") * 10000, 0).cast("bigint")).alias(
            "sum_filled_e4"
        ),
    )


# ---------------------------------------------------------------------------
# share-of-total window (ratio_to_report)
# ---------------------------------------------------------------------------


@query(
    "win_ratio_to_report",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND(o_totalprice /
                 SUM(o_totalprice) OVER (PARTITION BY o_orderpriority),
                 6) AS share
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    """,
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total within group (Oracle's ratio_to_report): each
    order's fraction of its priority class's total price. One shuffle
    on the partition key; the unbounded-frame sum and the projection
    share that single exchange. The date filter pushes to the parquet
    scan."""
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    w = Window.partitionBy("o_orderpriority")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") / F.sum("o_totalprice").over(w), 6).alias(
            "share"
        ),
    )
