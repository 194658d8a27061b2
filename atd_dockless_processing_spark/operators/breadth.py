"""Relational-breadth operators, batch M9 (SURVEY.md §2.15 cont.):
argmax/argmin/mode aggregates, bitwise functions, gaps-and-islands
streak detection, share-of-total window, and error-safe (TRY_*)
arithmetic.

Reference parity: the reference checkout was empty at survey time
(SURVEY.md §0); these generalize standard relational surface the
reference's SQL layer exposes ([P] per SURVEY §2 conventions).

Scale design notes (100 TB):
- ``agg_minmax_by``: max_by/min_by are ordinary declarative
  aggregates — partial (map-side) combine applies, so the shuffle
  carries one row per (group, agg) regardless of input size. The
  modal-status sub-aggregate is count-then-argmax: two combinable
  shuffles on low-cardinality keys, never a sort.
- ``evt_gap_islands``: one shuffle to (user) partitions; the
  row_number-difference trick turns consecutive-run detection into a
  pure in-partition window + hash agg (no self-join, no iteration).
- ``win_ratio_to_report``: single shuffle on the partition key; the
  partition-total sum is computed by the same window exchange that
  the projection consumes — no second pass over the fact table.
- Tie-breaking discipline: every argmax/argmin uses a composite
  scalar key that embeds the tie-breaker (amount then key, count
  then value), so results are deterministic under any partitioning —
  the property that makes re-runs hash-stable on a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load

# ---------------------------------------------------------------------------
# argmax / argmin / mode aggregates
# ---------------------------------------------------------------------------


@query(
    "agg_minmax_by",
    oracle="""
    WITH sc AS (
      SELECT o_orderpriority, o_orderstatus, o_orderkey, o_totalprice,
             printf('%013d|%013d', CAST(ROUND(o_totalprice * 100) AS BIGINT),
                    o_orderkey) AS price_key
      FROM orders
    ),
    base AS (
      SELECT o_orderpriority,
             max_by(o_orderkey, price_key) AS top_order,
             min_by(o_orderkey, price_key) AS bottom_order,
             ROUND(MAX(o_totalprice), 4) AS max_price,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM sc GROUP BY o_orderpriority
    ),
    cnt AS (
      SELECT o_orderpriority, o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM sc GROUP BY 1, 2
    ),
    modal AS (
      SELECT o_orderpriority,
             max_by(o_orderstatus, printf('%010d|%s', n, o_orderstatus))
               AS modal_status
      FROM cnt GROUP BY o_orderpriority
    )
    SELECT base.*, modal.modal_status
    FROM base JOIN modal USING (o_orderpriority)
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin/mode per group: the highest/lowest-value order id
    per priority via max_by/min_by, plus the modal order status
    (mode composed as count-then-argmax so ties break
    deterministically — count desc, then status desc — identically in
    both engines; native mode() has engine-defined ties).

    Tie-safety: the oracle's ordering key embeds the tie-breaker in
    one zero-padded string '%013d|%013d' (cents | orderkey) —
    lexicographic order equals (price, orderkey) order. The Spark
    side orders by the equivalent STRUCT key (cents, orderkey):
    struct comparison is field-by-field, which equals the padded
    string's lexicographic order for non-negative fixed-width ints,
    so the ARGMAX — the only value that crosses engines — is
    identical, while the engine skips 15M java.util.Formatter calls
    per column (×100 A/B, BASELINE.md; scripts/ab_minmax.py at commit
    37ae0cc: format_string 4.79 s, lpad-concat 2.70 s, struct 1.69 s
    — results equal)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        "o_orderkey",
        "o_totalprice",
        F.struct(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            F.col("o_orderkey").alias("k"),
        ).alias("price_key"),
    )
    base = o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "price_key").alias("top_order"),
        F.min_by("o_orderkey", "price_key").alias("bottom_order"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    modal = (
        o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("o_orderpriority")
        .agg(
            F.max_by(
                "o_orderstatus",
                F.struct(F.col("n").alias("n"), F.col("o_orderstatus").alias("s")),
            ).alias("modal_status")
        )
    )
    return base.join(modal, "o_orderpriority")


# ---------------------------------------------------------------------------
# bitwise expression surface
# ---------------------------------------------------------------------------


@query(
    "fn_bitwise",
    oracle="""
    SELECT event_type,
           CAST(SUM(bit_count(event_id)) AS BIGINT) AS sum_popcount,
           CAST(SUM(event_id & 255) AS BIGINT) AS sum_low_byte,
           CAST(SUM(xor(event_id, 90) & 1023) AS BIGINT) AS sum_xor_mask,
           CAST(SUM((event_id & 15) << 2) AS BIGINT) AS sum_shifted,
           CAST(SUM(event_id | 4096) AS BIGINT) AS sum_or_flag
    FROM events
    GROUP BY event_type
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression surface (AND/OR/XOR/shift/popcount) over
    event ids — the bit-flag decode path of compact encodings. All
    JVM-side integer ops inside one codegen stage; one combinable agg
    shuffle."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.bit_count("event_id")).alias("sum_popcount"),
        F.sum(F.expr("event_id & 255")).alias("sum_low_byte"),
        F.sum(F.expr("(event_id ^ 90) & 1023")).alias("sum_xor_mask"),
        F.sum(F.expr("shiftleft(event_id & 15, 2)")).alias("sum_shifted"),
        F.sum(F.expr("event_id | 4096")).alias("sum_or_flag"),
    )


# ---------------------------------------------------------------------------
# gaps-and-islands: consecutive-day activity streaks
# ---------------------------------------------------------------------------


@query(
    "evt_gap_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
      FROM events
    ),
    grp AS (
      SELECT user_id, day_num,
             day_num - ROW_NUMBER() OVER
               (PARTITION BY user_id ORDER BY day_num) AS island
      FROM days
    ),
    islands AS (
      SELECT user_id, island,
             CAST(COUNT(*) AS BIGINT) AS streak,
             MIN(day_num) AS start_day
      FROM grp GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(streak) AS BIGINT) AS max_streak,
           CAST(min_by(start_day, -streak * 100000 + start_day) AS BIGINT)
             AS best_start_day
    FROM islands GROUP BY user_id
    """,
)
def evt_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-day activity streaks.
    Trip/visit streak reconstruction ([P med] — the session/trip
    rebuild family, SURVEY §2.10) without self-joins or iteration.

    r7 single-exchange form: ONE pass collecting each user's distinct
    active days as a set (partial collect_set dedupes map-side, so
    the exchange carries per-task (user, day) partials bounded by the
    calendar, not events), then the whole island structure — count,
    longest streak, its start — falls out of ONE linear fold over the
    sorted day array (`F.aggregate`): a day extends the current run
    iff it is prev+1, otherwise the run closes and a strictly-longer
    run displaces the best (strict > keeps the EARLIEST start on
    ties, matching the composite argmin key in the oracle; starts are
    visited in chronological order). All-integer state → exact. The
    classic row_number-difference window form (two exchanges:
    distinct at (user, day), then re-shuffle to user partitions +
    sort) is pinned equal in tests; A/B at ×100: 1.97 s → 1.85 s, and
    one fewer full exchange is the 100 TB win."""
    per = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("day_num"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_set("day_num")).alias("ds"))
    )
    init = F.struct(
        F.element_at("ds", 1).alias("prev"),
        F.element_at("ds", 1).alias("cur_start"),
        F.lit(1).alias("cur_len"),
        F.lit(1).alias("n"),
        F.lit(0).alias("max_streak"),
        F.lit(0).alias("best"),
    )

    def step(acc: F.Column, d: F.Column) -> F.Column:
        closes_better = acc.cur_len > acc.max_streak
        return F.when(
            d == acc.prev + F.lit(1),
            F.struct(
                d.alias("prev"),
                acc.cur_start.alias("cur_start"),
                (acc.cur_len + 1).alias("cur_len"),
                acc.n.alias("n"),
                acc.max_streak.alias("max_streak"),
                acc.best.alias("best"),
            ),
        ).otherwise(
            F.struct(
                d.alias("prev"),
                d.alias("cur_start"),
                F.lit(1).alias("cur_len"),
                (acc.n + 1).alias("n"),
                F.when(closes_better, acc.cur_len)
                .otherwise(acc.max_streak)
                .alias("max_streak"),
                F.when(closes_better, acc.cur_start)
                .otherwise(acc.best)
                .alias("best"),
            )
        )

    def fin(acc: F.Column) -> F.Column:
        closes_better = acc.cur_len > acc.max_streak
        return F.struct(
            acc.n.alias("n"),
            F.when(closes_better, acc.cur_len)
            .otherwise(acc.max_streak)
            .alias("max_streak"),
            F.when(closes_better, acc.cur_start)
            .otherwise(acc.best)
            .alias("best"),
        )

    st = F.aggregate(
        F.slice("ds", 2, F.greatest(F.size("ds") - 1, F.lit(0))),
        init,
        step,
        fin,
    )
    return per.select("user_id", st.alias("_st")).select(
        "user_id",
        F.col("_st.n").cast("long").alias("n_islands"),
        F.col("_st.max_streak").cast("long").alias("max_streak"),
        F.col("_st.best").cast("long").alias("best_start_day"),
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


# ---------------------------------------------------------------------------
# error-safe arithmetic (TRY_ semantics)
# ---------------------------------------------------------------------------


@query(
    "fn_try_arith",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) FILTER (value / NULLIF(event_id % 3, 0) IS NULL)
                AS BIGINT) AS n_null_div,
           ROUND(SUM(value / NULLIF(event_id % 3, 0)), 4) AS sum_safe_div,
           CAST(SUM(event_id + user_id) AS BIGINT) AS sum_try_add,
           CAST(COUNT(TRY_CAST(event_type AS DOUBLE)) AS BIGINT) AS n_castable
    FROM events
    GROUP BY event_type
    """,
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic: try_divide (NULL on zero divisor, not an
    exception — ANSI-mode-safe), try_add (NULL on bigint overflow;
    equals plain + here, asserting the no-overflow path), try_cast
    (NULL on malformed input). The malformed-row-tolerant ingest
    posture ([P high]: provider feeds contain malformed records that
    must not kill the job)."""
    ev = load(spark, sf_dir, "events")
    safe_div = F.try_divide(F.col("value"), F.expr("event_id % 3"))
    return ev.groupBy("event_type").agg(
        F.count_if(safe_div.isNull()).alias("n_null_div"),
        F.round(F.sum(safe_div), 4).alias("sum_safe_div"),
        F.sum(F.try_add(F.col("event_id"), F.col("user_id"))).alias("sum_try_add"),
        F.count(F.expr("try_cast(event_type AS DOUBLE)")).alias("n_castable"),
    )
