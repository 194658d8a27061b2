"""Batch event-time operators — SURVEY.md §2.10 (evt_*).

Tumbling/sliding/session windows and cohorting over the events
table. These generalize the reference's 15-minute/day privacy time
binning and trip/session reconstruction ([P], SURVEY §2.10). The
streaming twins live in ``streaming/stream_queries.py``.

Timestamp discipline: events.ts is parquet timestamp[ns]; Spark
truncates to µs (values are µs-precise, so lossless) while DuckDB
keeps ns — all projections go through date_trunc/cast, never raw ts
(SURVEY §1.2 item 1).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.json_fast import with_json_field
from ..registry import query, register_layout
from ..session import conf_override, sql_over
from ..tables import Layout, load, read_parquet, rows_below


@query(
    "evt_tumbling_hour",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0, 4)
             AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def evt_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts per event type via
    F.window(ts, '1 hour') — project window.start (equals
    date_trunc for aligned tumbling windows). Privacy time-binning
    ([P high]).

    r10 (VERDICT r9 item 2): the registered key now routes through the
    LAYOUT-AWARE ``tumbling_hour_plan`` (the ``multiway5_plan``
    dispatch precedent). When the one-time µs-staged narrow events
    layout ``_TUMBLING_US_LAYOUT`` exists for this sf_dir, the scan
    reads it directly — the round-6 rehearsal (BASELINE.md; its
    script is readable at commit 0b198ec) measured the
    SAME query at 0.46× DuckDB on that layout at ×100, vs 2.93× on
    an ns-encoded source (the parquet reader's per-value NANOS→µs
    conversion tax, not a plan defect). Without the layout (driver
    sweep at sf0.01, fresh deployments) the ad-hoc plan over
    ``load(events)`` runs unchanged. Both forms aggregate the same
    instants — value-identical by construction, pinned by a
    cross-form equality test — so the layout probe is a pure
    physical-scan dispatch, never a parity hazard. The streaming twin
    ``stm_tumbling_availablenow`` inherits the batch ratio (same agg
    shape; scripts/scale_index.py)."""
    return tumbling_hour_plan(spark, sf_dir)


def _write_events_us(spark: SparkSession, sf_dir: str, staged: str) -> None:
    """The µs-staged events layout's write: ts re-encoded
    TIMESTAMP_MICROS (what a Spark production writer emits — reading
    it costs no per-value NANOS→µs conversion), narrowed to the
    binning columns (ts, event_type, value)."""
    with conf_override(
        spark, {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
    ):
        (
            load(spark, sf_dir, "events")
            .select("ts", "event_type", "value")
            .write.mode("overwrite")
            .parquet(staged)
        )


# One-time production events layout for the time-binning family: pay
# the write once, reuse it for every tumbling/sliding query on the same
# events table — the 100 TB amortizer, same economics as the bucketed
# join layouts. A plain path probe: no catalog state.
_TUMBLING_US_LAYOUT = register_layout(
    Layout("events_us", "tumbling µs-staged events", ("events",), _write_events_us)
)


def _tumbling_us_available(sf_dir: str) -> bool:
    """The µs-staged layout's dispatch probe, by the name the benchmark
    runner's layout report imports (the layout needs no session)."""
    return _TUMBLING_US_LAYOUT.available(None, sf_dir)


def tumbling_hour_plan(spark: SparkSession, sf_dir: str, adhoc: bool = False) -> DataFrame:
    """Tumbling-hour plan dispatch: the µs-staged scan when the layout
    is live and ``adhoc`` is not set, else ad hoc. Shared window-agg
    tail keeps the forms logically identical."""
    if _TUMBLING_US_LAYOUT.serves("evt_tumbling_hour", spark, sf_dir, adhoc):
        (staged,) = _TUMBLING_US_LAYOUT.paths(sf_dir)
        ev = read_parquet(spark, staged)
    else:
        ev = load(spark, sf_dir, "events")
    return sql_over(spark, _TUMBLING_HOUR_SQL, events=ev)


# r13: sum in EXACT integer cents (events.value is 2-decimal money; the
# floor(x*100+0.5) lift recovers the exact cent value from the double
# in BOTH engines), so the rounded sum is bit-identical regardless of
# scan partitioning — required because the µs-staged layout is
# pre-built at the driver-sweep sf_dir and live during hash-gated runs
# (r12 ADVICE #1 discipline, same as join_inner/multiway5; 2^63 wrap
# bound and guard-band argument in functions/exact.py).
_TUMBLING_HOUR_SQL = """
SELECT w.start AS hour_start, event_type, n_events, sum_value
FROM (
  SELECT window(ts, '1 hour') AS w, event_type, count(1) AS n_events,
         round(sum(floor(value * 100 + 0.5D)) / 100D, 4) AS sum_value
  FROM {events}
  GROUP BY w, event_type
)
"""


@query(
    "evt_sliding_window",
    oracle="""
    WITH offs AS (SELECT UNNEST([0, 1800]) AS off)
    SELECT make_timestamp(
             ((FLOOR((epoch(CAST(ts AS TIMESTAMP)) - off) / 3600) * 3600 + off) * 1000000)::BIGINT
           ) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events CROSS JOIN offs
    GROUP BY 1, 2
    """,
)
def evt_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 minutes: each event lands in 2
    windows. Oracle reproduces the window algebra with epoch math
    (core stream shape).

    Scale note (r7): the classic two-level rewrite (tumbling 30-min
    pre-agg, then the tiny bin summary exploded ×2 and re-summed —
    halves the agg hash probes) was A/B'd at ×100 and REJECTED as a
    wash (0.757 s native vs 0.760 s two-level, exact-equal outputs):
    the per-row cost here is scan + window assignment, not the
    Expand through the combinable partial agg. The 2.02× ×100 row is
    the sub-second dispatch/agg-constant regime (same disposition as
    evt_tumbling_hour's µs-staged decomposition)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


@query(
    "evt_session_batch",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
    ), grp AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM grp
    GROUP BY user_id, sess_id
    """,
)
def evt_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch session_window(ts, '30 minutes') per user. Spark's
    session end = last event + gap (SURVEY §2.10 note) — the oracle's
    lag/cumsum sessionization adds the interval explicitly."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "evt_sessionize_lag",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), flagged AS (
      SELECT user_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
    )
    SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM flagged
    GROUP BY user_id
    """,
)
def evt_sessionize_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + 30-min gap flag (pure window form, no
    session_window) -> sessions per user ([P med]: trip
    reconstruction)."""
    return sql_over(spark, _SESSIONIZE_SQL, events=load(spark, sf_dir, "events"))


_SESSIONIZE_SQL = """
SELECT user_id, sum(new_sess) AS n_sessions, count(1) AS n_events
FROM (
  SELECT user_id, ts,
         CASE WHEN CAST(ts AS BIGINT) - CAST(lag(ts) OVER w AS BIGINT) IS NULL
                OR CAST(ts AS BIGINT) - CAST(lag(ts) OVER w AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM {events})
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
GROUP BY user_id
"""


@query(
    "evt_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS active_week
      FROM events
    )
    SELECT cohort_week, active_week,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM firsts JOIN activity USING (user_id)
    GROUP BY cohort_week, active_week
    """,
)
def evt_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention matrix: cohort = first-event week, counts per
    (cohort_week, active_week) (ext).

    Single-exchange form (r7): ONE events pass collecting each user's
    distinct active weeks as a set (partial collect_set combines
    map-side, so the user_id exchange carries per-task (user, week)
    partials — bounded by weeks-per-user, not events-per-user), then
    cohort_week = array_min(weeks) and the matrix = count over the
    exploded sets. Exactly the two-pass firsts⋈activity semantics:
    date_trunc('week', ·) is monotonic, so week(MIN(ts)) ==
    MIN(week(ts)), and each user contributes exactly once per active
    week by set construction (ts is non-null in the events schema —
    collect_set's null-dropping can't bite). Replaces two full scans
    + a distinct + a user_id join (r6: 2.32× at ×100) with one scan
    + one exchange (r7 A/B: 1.81 s → 1.20 s; equality pinned in
    tests). At 100 TB the per-user set stays bounded by the calendar
    (≤52 cells/user/year), so the agg state cannot blow up."""
    ev = load(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "user_id",
            F.date_trunc("week", F.col("ts").cast("timestamp"))
            .cast("date")
            .alias("wk"),
        )
        .groupBy("user_id")
        .agg(F.collect_set("wk").alias("weeks"))
    )
    return (
        per_user.select(
            F.array_min("weeks").alias("cohort_week"),
            F.explode("weeks").alias("active_week"),
        )
        .groupBy("cohort_week", "active_week")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "evt_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.s_ts
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.c_ts
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_after,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_after
    """,
)
def evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users who signed up, then clicked
    AFTER the first signup, then purchased AFTER that first click —
    strict event-time ordering, not mere co-occurrence.

    r14 optimization round, second step — SORT-FREE AGGREGATE-HOF
    form (guide §2.3 aggregate before you shuffle + §4.1 HOFs over
    arrays). The funnel firsts need NO ordering of the event stream:
    c_ts = min click ts strictly greater than s_ts, p_ts = min
    purchase ts strictly greater than c_ts — each an `array_min`
    over a filtered UNSORTED array. One combinable groupBy(user_id)
    collects s_ts = min(signup ts) plus the per-user click/purchase
    ts arrays (`collect_list` skips the non-matching-type NULLs), a
    codegen projection does the two array_min(filter(...)) walks,
    and the final count is a single-row agg. ONE exchange, ZERO
    sorts. Null semantics do the stage gating for free: s_ts NULL ⇒
    the `x > s_ts` predicate is NULL ⇒ filter drops every click ⇒
    c_ts NULL ⇒ purchases drop likewise.

    History of the three forms at ×100: stage-join (r8, 6 filtered
    scans + 2 joins) 1.942–2.259 s = 1.77×; running-min window (r14
    step 1, 1 scan / 1 exchange / 1 full per-user sort) 1.657 s =
    1.30× on its epoch. Window-vs-this A/B (r14b host): same-process
    comparisons proved ORDER-DEPENDENT (first-measured form reads
    ~2.2–2.5 s, interleaving poisons the ObjectHashAggregate side —
    full story in OPTIMIZATION_r14.md); the honest fresh-process
    isolated epochs read **agg-HOF 1.135/1.159 s vs window
    1.222/1.196 s** against DuckDB ~1.2 s — BOTH ≈1.0×, this form
    ~5% faster in both epochs and structurally sort-free (the
    window's full per-partition sort is its 100 TB liability; the
    collect partials ship exactly the bytes the window form
    shuffled, and arrays are event-count-bounded per user).
    Value-identical; three-way cross-form equality pinned in tests
    (driver corpus + a synthetic order-edge corpus:
    click-before-signup, same-ts ties, purchase-before-click)."""
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("signup", "click", "purchase"))
        .select("user_id", "ts", "event_type")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s_ts"),
        F.collect_list(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("clicks"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("purchases"),
    )
    walked = per_user.withColumn(
        "c_ts", F.expr("array_min(filter(clicks, x -> x > s_ts))")
    ).withColumn("p_ts", F.expr("array_min(filter(purchases, x -> x > c_ts))"))
    return walked.agg(
        F.count("s_ts").alias("n_signup"),
        F.count("c_ts").alias("n_click_after"),
        F.count("p_ts").alias("n_purchase_after"),
    )


def _funnel_window_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r14-step-1 single-pass running-min window funnel (one
    exchange + one full per-user sort), kept as the second
    cross-form equality witness for the registered sort-free
    aggregate-HOF form (isolated ×100 epochs: window 1.20–1.22 s vs
    agg-HOF 1.14–1.16 s — see the registered docstring)."""
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("signup", "click", "purchase"))
        .select("user_id", "ts", "event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s_run = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    ev2 = ev.withColumn("s_run", s_run)
    qual_c = F.when(
        (F.col("event_type") == "click") & (F.col("ts") > F.col("s_run")),
        F.col("ts"),
    )
    ev3 = ev2.withColumn("c_run", F.min(qual_c).over(w))
    per_user = ev3.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s_ts"),
        F.min(qual_c).alias("c_ts"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("c_run")),
                F.col("ts"),
            )
        ).alias("p_ts"),
    )
    return per_user.agg(
        F.count("s_ts").alias("n_signup"),
        F.count("c_ts").alias("n_click_after"),
        F.count("p_ts").alias("n_purchase_after"),
    )


def _funnel_stage_join_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 stage-join funnel (conditional min-aggregate per
    stage, joined forward), kept as the cross-form equality witness
    for the single-pass window rewrite (measured 1.77× vs the
    rewrite's 1.30× at ×100 — see the registered docstring)."""
    ev = load(spark, sf_dir, "events")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after")))
    )


@query(
    "evt_time_spine",
    oracle="""
    WITH spine AS (
      SELECT CAST(UNNEST(generate_series(DATE '1997-01-01', DATE '1997-03-31',
                                         INTERVAL 1 DAY)) AS DATE) AS day
    ), daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
      GROUP BY 1
    )
    SELECT spine.day, CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_orders
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
)
def evt_time_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling: generate a contiguous daily spine with
    ``sequence()`` + explode, left-join daily counts, zero-fill the
    missing days — the time-series densification every reporting
    rollup needs (a day with no trips must appear as 0, not vanish).
    The spine is generated, not stored, and broadcast to the counts."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1997-01-01").cast("date"),
                F.lit("1997-03-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    daily = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return spine.join(daily, spine.day == daily.d, "left").select(
        "day", F.coalesce("n", F.lit(0)).alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Per-user anomaly screen (z-score)
# ---------------------------------------------------------------------------


@query(
    "evt_anomaly_zscore",
    oracle="""
    WITH z AS (
      SELECT event_type,
             (value - AVG(value) OVER (PARTITION BY user_id)) /
             NULLIF(STDDEV_SAMP(value) OVER (PARTITION BY user_id), 0) AS zs
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE ABS(zs) > 2) AS BIGINT) AS n_anomalies,
           ROUND(AVG(ABS(zs)), 4) AS avg_absz
    FROM z
    GROUP BY event_type
    """,
)
def evt_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user anomaly screen: z-score each event value against its
    user's own mean/stddev (whole-history frame), flag |z| > 2, and
    report anomaly rates per event type — the outlier/abuse filter a
    telemetry or training-data pipeline runs before ingestion
    (single-event users yield NULL stddev → NULL z → never flagged,
    identically in both engines; zero stddev is NULLIF-guarded so
    neither engine divides by zero).

    One exchange on user_id feeds both window aggregates (Catalyst
    computes avg and stddev over the same WindowExec), then one
    map-combinable agg on event_type. No self-join — the classic
    two-pass formulation collapses into the window."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    zs = (F.col("value") - F.avg("value").over(w)) / F.nullif(
        F.stddev_samp("value").over(w), F.lit(0.0)
    )
    return (
        e.select("event_type", zs.alias("zs"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_if(F.abs("zs") > 2).alias("n_anomalies"),
            F.round(F.avg(F.abs("zs")), 4).alias("avg_absz"),
        )
    )


# ---------------------------------------------------------------------------
# evt_markov_transitions — event-type transition matrix
# ---------------------------------------------------------------------------


@query(
    "evt_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), trans AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY prev_type), 4) AS p_next
    FROM trans
    """,
)
def evt_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: count (prev_type -> next_type) adjacencies ordered by
    (ts, event_id) within user, and the conditional probability
    P(next | prev) — the product-analytics "what do users do after X"
    operator and the input to behavioral-cloning/session-model
    features.

    Plan shape: one window lag (exchange on user_id) -> partial-agg
    groupBy on the 5x5 transition key -> a second tiny window over
    ~25 rows for row-normalization. The heavy exchange is the first
    one only; the normalization windows over the aggregated matrix,
    not the events. At 100 TB user_id partitioning is the natural
    key (millions of small groups — no skew; a power user's history
    still fits a partition).
    """
    ev = load(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    )
    trans = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type"), F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 4).alias("p_next"),
    )


# ---------------------------------------------------------------------------
# evt_attribution_last_touch — marketing-style attribution
# ---------------------------------------------------------------------------


@query(
    "evt_attribution_last_touch",
    oracle="""
    WITH touched AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type
      FROM events
    )
    SELECT COALESCE(touch_type, '(none)') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(SUM(value), 4) AS attributed_value
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def evt_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: credit each purchase to the user's most
    recent preceding NON-purchase event (last_value IGNORE NULLS over
    an unbounded-preceding frame, (ts, event_id)-ordered; purchases
    with no prior touch fall into '(none)') — the standard
    marketing/product attribution operator.

    Plan shape: one window exchange on user_id carries the whole
    computation (the conditional projection rides inside the window
    stage), then a 5-row agg. Identical IGNORE NULLS frame semantics
    on both engines."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_type", "value", touch.alias("touch_type"))
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch_type", F.lit("(none)")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("attributed_value"),
        )
    )


# ---------------------------------------------------------------------------
# evt_session_window_native — Spark's native session_window aggregation
# ---------------------------------------------------------------------------


# NB: the oracle's "> 1800" gap rule must stay in lockstep with Spark's
# merge-at-exactly-gap session semantics; the same rule appears in the
# sessionization oracles in events.py and stream_queries.py —
# change all or none (oracle SQL is newline-collapsed, so no -- comments).
@query(
    "evt_session_window_native",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_s
      FROM ordered
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM sess
    GROUP BY user_id, sid
    """,
)
def evt_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` aggregate
    (30-minute gap): the engine merges per-user event-time sessions
    inside the aggregation operator itself — no lag/cumsum window
    pass, one exchange, and the same primitive works unchanged in
    Structured Streaming with state eviction at the watermark (the
    scale story: session state is bounded by the gap horizon, not the
    stream length). Complements evt_sessionize_lag (window-function
    formulation) and stm_stateful_session (explicit GroupState):
    three formulations, one semantics.

    Spark defines a session as [min ts, max ts + gap); the oracle
    reproduces exactly that from the lag/cumsum formulation. Session
    identity depends only on ts gaps, so no tie-break ordering is
    needed (equal timestamps always co-session)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# evt_time_weighted_avg — TSDB-style time-weighted mean
# ---------------------------------------------------------------------------


@query(
    "evt_time_weighted_avg",
    oracle="""
    WITH stepped AS (
      SELECT user_id, value,
             epoch_us(ts) AS t_us,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           ROUND(SUM(value * (next_us - t_us))
                 / NULLIF(SUM(next_us - t_us), 0), 4)
             AS time_weighted_avg,
           ROUND(SUM(next_us - t_us) / 1000000.0 / 3600.0, 4) AS span_hours
    FROM stepped
    WHERE next_us IS NOT NULL
    GROUP BY user_id
    """,
)
def evt_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user (step-function/LOCF semantics):
    each event's value holds until the next event, weighted by the
    exact microsecond interval — the TSDB aggregate where plain AVG
    is wrong whenever sampling is irregular (a value held for 2 hours
    must count 120x more than one held for a minute).

    Plan shape: one window exchange on user_id (lead), then a
    combinable agg on the same key — AQE collapses the second
    exchange since partitioning is preserved. Weights are exact
    integer microsecond deltas (unix_micros / epoch_us on both
    engines); the double sums divide out, rounded to 4 decimals."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("t_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    ).where(F.col("next_us").isNotNull())
    dur = F.col("next_us") - F.col("t_us")
    # nullif guard on the divisor: a user whose >=2 events all share one
    # microsecond has sum(dur)=0, where Spark's non-ANSI divide yields
    # NULL but DuckDB's IEEE float divide yields NaN — nullif makes both
    # engines return NULL on that degenerate input.
    return stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(
            F.sum(F.col("value") * dur) / F.nullif(F.sum(dur), F.lit(0)), 4
        ).alias("time_weighted_avg"),
        F.round(F.sum(dur) / 1000000.0 / 3600.0, 4).alias("span_hours"),
    )


# ---------------------------------------------------------------------------
# evt_rfm_segments — recency/frequency/monetary segmentation
# ---------------------------------------------------------------------------


@query(
    "evt_rfm_segments",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(ts) AS last_seen,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(value) AS monetary
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ), scored AS (
      SELECT user_id, frequency, monetary,
             NTILE(5) OVER (ORDER BY last_seen, user_id) AS r_score,
             NTILE(5) OVER (ORDER BY frequency, user_id) AS f_score,
             NTILE(5) OVER (ORDER BY monetary, user_id) AS m_score
      FROM per_user
    )
    SELECT CONCAT(CAST(r_score AS VARCHAR), CAST(f_score AS VARCHAR),
                  CAST(m_score AS VARCHAR)) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(SUM(monetary), 4) AS segment_value
    FROM scored
    GROUP BY 1
    """,
)
def evt_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-analytics operator:
    per user, recency (last purchase), frequency (purchase count),
    monetary (purchase value); each scored into quintiles (NTILE(5),
    user_id tie-break for determinism) and concatenated into a
    '555'-style segment; emits users and value per segment.

    r8 de-weak (verdict item 3; 4.69× → ~3.0× = the scan+agg floor):
    the registered plan is now the ARROW GATHER scorer — one per-user
    agg exchange, then the (small) user dimension gathers to a single
    partition where ONE ``mapInPandas`` pass computes all three
    quintiles via the exact NTILE closed form (0-based rank r,
    q = n//5, rem = n%5: bucket = r//(q+1) if r < rem·(q+1) else
    rem + (r − rem·(q+1))//q, then +1 — SQL NTILE's ceil-first split)
    over stable ``np.lexsort`` orders (user_id tie-break), and
    pre-aggregates the ≤125 segments in-batch. This replaces the
    three CHAINED single-partition JVM ntile sorts (serial Exchange
    SinglePartition + WindowExec each, ~0.6 s of the 1.42 s ×100
    total) with one narrow Arrow pass: ×100 A/B (BASELINE.md)
    chained 1.42 s / branch-join-with-checkpoint 1.00 s / gather
    0.89–1.00 s vs DuckDB 0.294 s; 0.89 s equals the measured
    scan+agg-only floor (rfm_agg_only, BASELINE.md), i.e. the
    ntile term is now ~0 and the residual is the purchase-scan +
    per-user-agg constant shared by every form. coalesce(1) instead
    of repartition(1) REJECTED by measurement (1.52 s — it collapses
    the agg's reduce side to one task). Rounding stays JVM-side
    (``F.round`` HALF_UP) for rounding-mode parity with the oracle.

    All forms are value-identical (cross-form equality pinned in
    tests at sf0.01 + sf0.1 and asserted at ×100 in the A/B), so the
    size gate below is a pure PERFORMANCE gate, never a parity one
    (the agg_grouping_sets precedent, not the agg_percentiles
    hazard): from ``_RFM_GATHER_MAX_EVENTS`` on the single-partition
    gather would bottleneck one worker, so the plan falls back to
    the chained-window form; at 100M+ users the measured crossover
    is the unpivot/range-partition form (win_ntile_pct machinery) —
    r7 ×100 A/B kept it REJECTED at this scale (1.54 s: explode ×3
    + re-group outweigh parallelizing 150k-row sorts)."""
    ev = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("value").alias("monetary"),
    )
    if rows_below("evt_rfm_segments", sf_dir, "events", _RFM_GATHER_MAX_EVENTS):
        seg = per_user.repartition(1).mapInPandas(
            _rfm_score_batches, "segment string, n_users long, segment_value double"
        )
        return seg.withColumn("segment_value", F.round("segment_value", 4))
    return _rfm_chained_plan(per_user)


# From this events-row-count on, or when the count is unknown, the
# user dimension is no longer a safe single-partition gather (one
# Arrow worker holds every user); the chained-window form takes over.
# Pure performance gate — the forms are pinned value-identical.
_RFM_GATHER_MAX_EVENTS = 50_000_000


def _rfm_score_batches(it):
    """mapInPandas scorer: exact NTILE(5) closed form per metric over
    stable lexsort (metric, user_id) orders; segments pre-aggregated
    in-batch (sums left unrounded — the caller rounds JVM-side)."""
    import numpy as np
    import pandas as pd

    parts = list(it)
    if not parts:
        return
    pdf = pd.concat(parts)
    n = len(pdf)
    if n == 0:
        return
    uid = pdf["user_id"].to_numpy()

    def ntile5(metric):
        idx = np.lexsort((uid, metric))
        rank = np.empty(n, dtype=np.int64)
        rank[idx] = np.arange(n)
        q, rem = divmod(n, 5)
        cut = rem * (q + 1)
        return (
            np.where(
                rank < cut, rank // (q + 1), rem + (rank - cut) // np.maximum(q, 1)
            )
            + 1
        )

    r = ntile5(pdf["last_seen"].to_numpy().astype("datetime64[us]").astype(np.int64))
    f = ntile5(pdf["frequency"].to_numpy())
    m = ntile5(pdf["monetary"].to_numpy())
    out = (
        pd.DataFrame({"seg": r * 100 + f * 10 + m, "monetary": pdf["monetary"].to_numpy()})
        .groupby("seg", sort=False)
        .agg(n_users=("monetary", "size"), segment_value=("monetary", "sum"))
        .reset_index()
    )
    out["segment"] = out["seg"].astype(str)
    yield out[["segment", "n_users", "segment_value"]]


def _rfm_chained_plan(per_user: DataFrame) -> DataFrame:
    """The pre-r8 registered form: three chained global ntile windows
    (each Exchange SinglePartition + sort). Above-gate fallback and
    the cross-form equality witness."""
    scored = per_user.select(
        "monetary",
        F.ntile(5).over(Window.orderBy("last_seen", "user_id")).alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id")).alias("f_score"),
        F.ntile(5).over(Window.orderBy("monetary", "user_id")).alias("m_score"),
    )
    return scored.groupBy(
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ).alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.sum("monetary"), 4).alias("segment_value"),
    )


# ---------------------------------------------------------------------------
# evt_dau_wau_rolling — rolling active-user counts
# ---------------------------------------------------------------------------


@query(
    "evt_dau_wau_rolling",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), spine AS (
      SELECT DISTINCT day FROM pairs
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM pairs GROUP BY day
    ), contrib AS (
      SELECT pairs.day + CAST(o.off AS INTEGER) AS target, pairs.user_id
      FROM pairs CROSS JOIN (SELECT UNNEST(generate_series(0, 6)) AS off) o
    ), wau AS (
      SELECT target AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM contrib
      WHERE target IN (SELECT day FROM spine)
      GROUP BY target
    )
    SELECT dau.day, dau.dau, wau.wau,
           ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness
    FROM dau JOIN wau USING (day)
    """,
)
def evt_dau_wau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active-user metrics: daily active users (DAU), 7-day
    rolling distinct actives (WAU, window ending on the day), and the
    DAU/WAU stickiness ratio — the standard growth dashboard triple.

    r14 optimization round — INTERVAL-COVER rewrite (guide §2.3/§2.4:
    shuffle fewer bytes, remove the fan-out; the collect_set-fold
    house pattern of evt_gap_islands/evt_cohort_retention). The old
    form fanned every (day, user) pair out ×7 and distinct-counted
    per target day, AND re-executed the (day, user) dedup subtree in
    three branches (DataFrame DAGs have no cross-consumer reuse —
    the llm_bm25_topk finding; the plan held THREE events scans).
    WAU(t) = #users with ≥1 active day in [t-6, t] is exactly the
    number of per-user merged [d, d+6] cover intervals containing t,
    so instead: per user, fold the sorted distinct-day array into
    merged intervals (array ≤ calendar days — bounded), emit
    (start, +1) / (end+1, -1) deltas, and read WAU off a running sum
    over the calendar. The corpus-sized work is now ONE scan + ONE
    (day, user) dedup exchange (localCheckpoint'd, shared by the DAU
    and interval branches) + one user-keyed exchange of the deduped
    pairs; the ×7 replication and the second distinct-aggregate are
    gone. The final running sum is an UNPARTITIONED window — safe
    here only because its input is calendar-bounded (delta days +
    spine days, ≤ a few hundred rows at any corpus size).

    ×100 A/B (same session, 5 hot runs each): DuckDB 2.998 s, old
    fan-out form 5.021 s (1.67×), this form 3.143 s (1.05×) —
    value-identical on the full ×100 corpus; cross-form equality is
    also pinned in tests (driver corpus + synthetic gap/adjacent
    interval edges). Adjacent intervals need no merge: their
    (b+1, −1)/(a=b+1, +1) deltas cancel in the per-day sum; only
    overlapping ones (next day ≤ current end) fold together."""
    pairs = _dau_wau_pairs(spark, sf_dir).localCheckpoint(eager=False)
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    days = pairs.groupBy("user_id").agg(
        F.array_sort(F.collect_set("day")).alias("ds")
    )
    empty = F.array().cast("array<struct<s:date,e:date>>")
    ivs = F.aggregate(
        "ds",
        empty,
        lambda acc, d: F.when(
            (F.size(acc) == 0) | (d > F.element_at(acc, -1)["e"]),
            F.concat(
                acc,
                F.array(F.struct(d.alias("s"), F.date_add(d, 6).alias("e"))),
            ),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.date_add(d, 6).alias("e"),
                    )
                ),
            )
        ),
    )
    deltas = (
        days.select(F.explode(ivs).alias("iv"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("iv.s").alias("day"), F.lit(1).alias("dlt")),
                    F.struct(
                        F.date_add("iv.e", 1).alias("day"),
                        F.lit(-1).alias("dlt"),
                    ),
                )
            ).alias("x")
        )
        .groupBy(F.col("x.day").alias("day"))
        .agg(F.sum("x.dlt").alias("dlt"))
    )
    merged = deltas.join(dau, "day", "full_outer").select(
        "day", F.coalesce("dlt", F.lit(0)).alias("dlt"), "dau"
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = merged.withColumn("wau", F.sum("dlt").over(w)).where(
        F.col("dau").isNotNull()
    )
    return out.select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 4).alias("stickiness"),
    )


def _dau_wau_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (day, user) dedup for evt_dau_wau_rolling and its twin."""
    return (
        load(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )


def _dau_wau_fanout_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 ×7 fan-out + count_distinct form, kept as the
    cross-form equality witness for the interval-cover rewrite
    (measured 1.67× vs the rewrite's 1.05× at ×100 — see the
    registered docstring)."""
    pairs = _dau_wau_pairs(spark, sf_dir)
    spine = pairs.select("day").distinct()
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = pairs.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
        "user_id",
    ).select(F.date_add("day", F.col("off")).alias("day"), "user_id")
    wau = (
        contrib.join(spine, "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 4).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# evt_state_intervals — MDS availability: time-in-state per (state, day)
# ---------------------------------------------------------------------------


@query(
    "evt_state_intervals",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_type AS state,
             epoch_us(ts) AS t0,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS t1,
             CAST(ts AS DATE) AS d0,
             CAST(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS DATE) AS d1
      FROM events
    ), days AS (
      SELECT user_id, state, t0, t1, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM iv WHERE t1 IS NOT NULL
    ), clipped AS (
      SELECT state, CAST(day AS DATE) AS day, user_id,
             LEAST(t1, epoch_us(CAST(day AS TIMESTAMP) + INTERVAL 1 DAY))
               - GREATEST(t0, epoch_us(CAST(day AS TIMESTAMP))) AS overlap_us
      FROM days
    )
    SELECT state, day,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_devices,
           CAST(SUM(overlap_us) AS BIGINT) AS state_us,
           ROUND(SUM(overlap_us) / 3600000000.0, 4) AS state_hours
    FROM clipped
    WHERE overlap_us > 0
    GROUP BY state, day
    """,
)
def evt_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDS availability rollup ([P high]: the status_changes half of
    the MDS spec the reference consumes beside trips): each event puts
    its device (user_id) into a state (event_type) that holds until
    the device's next event; the published product is exact
    time-in-state per (state, UTC day), with intervals SPLIT at day
    boundaries so a state held across midnight is attributed to both
    days pro-rata — where a naive "attribute to start day" rollup is
    wrong for exactly the long-idle intervals that dominate
    availability.

    Plan shape: one window exchange on user_id (lead), then a
    map-side day-sequence explode (bounded: span-days per interval,
    no corpus-wide explode), then one combinable agg exchange on
    (state, day) — the distinct-device count rides the same exchange
    via Spark's 2-phase distinct expansion. All durations are exact
    integer microseconds (unix_micros both engines; BIGINT sums
    HUGEINT-cast per the house rule); hours divide the SAME exact
    integer by the same literal on both engines, so the rounded
    double is bit-identical. At 100 TB: devices shard the window,
    (state, day) is low-cardinality with map-side partial agg — no
    skew (states are a handful, days are bounded)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("t0"),
        F.lead(F.unix_micros("ts")).over(w).alias("t1"),
        F.to_date("ts").alias("d0"),
        F.lead(F.to_date("ts")).over(w).alias("d1"),
    ).where(F.col("t1").isNotNull())
    days = iv.select(
        "user_id",
        "state",
        "t0",
        "t1",
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    day_start = F.unix_micros(F.col("day").cast("timestamp"))
    day_end = F.unix_micros(F.date_add("day", 1).cast("timestamp"))
    overlap = F.least("t1", day_end) - F.greatest("t0", day_start)
    return (
        days.select("state", "day", "user_id", overlap.alias("overlap_us"))
        .where(F.col("overlap_us") > 0)
        .groupBy("state", "day")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.countDistinct("user_id").alias("n_devices"),
            F.sum("overlap_us").alias("state_us"),
            F.round(F.sum("overlap_us") / 3600000000.0, 4).alias("state_hours"),
        )
    )


# ---------------------------------------------------------------------------
# evt_ts_interpolate — linear interpolation onto a regular time grid
# ---------------------------------------------------------------------------

_INTERP_STEP_US = 6 * 3600 * 1000000  # 6-hour grid


@query(
    "evt_ts_interpolate",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS t, value, event_id FROM events
    ), bounds AS (
      SELECT user_id,
             ((MIN(t) + {_INTERP_STEP_US} - 1) // {_INTERP_STEP_US})
               * {_INTERP_STEP_US} AS g0,
             MAX(t) AS tmax
      FROM ev GROUP BY user_id
    ), grid AS (
      SELECT user_id,
             UNNEST(generate_series(g0, tmax, {_INTERP_STEP_US})) AS t
      FROM bounds WHERE g0 <= tmax
    ), unioned AS (
      SELECT user_id, t, value, 0 AS is_grid, event_id FROM ev
      UNION ALL
      SELECT user_id, t, NULL, 1, NULL FROM grid
    ), bracketed AS (
      SELECT user_id, t, is_grid,
             last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY t, is_grid, COALESCE(event_id, -1)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
             last_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY t, is_grid, COALESCE(event_id, -1)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
             first_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY t, is_grid, COALESCE(event_id, -1)
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1,
             first_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY t, is_grid, COALESCE(event_id, -1)
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1
      FROM unioned
    )
    SELECT user_id, make_timestamp(t) AS grid_ts,
           CAST(t1 - t0 AS BIGINT) AS gap_us,
           v0 + (v1 - v0) * (CAST(t - t0 AS DOUBLE)
                             / NULLIF(CAST(t1 - t0 AS DOUBLE), 0.0e0))
             AS interp_value
    FROM bracketed
    WHERE is_grid = 1 AND t0 IS NOT NULL AND t1 IS NOT NULL
    """,
)
def evt_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling of each device's irregular
    value series onto a regular 6-hour grid — the gap-filling
    `interpolate()` half of the time-bucket toolkit (the LOCF half is
    ``evt_time_weighted_avg``) ([P med]: regularizing irregular
    sensor/telemetry series is the standard prep for forecasting and
    joins against calendar spines). For each grid point g bracketed
    by events (t0,v0) <= g < (t1,v1):
    v = v0 + (v1-v0) * (g-t0)/(t1-t0).

    Formulation: grid timestamps from per-device bounds (ceil-div
    integer arithmetic in exact microseconds), UNION'd with the
    events under an (t, is_grid, event_id) TOTAL order so a grid
    point coinciding with an event resolves deterministically to
    that event (ratio exactly 0); brackets via IGNORE-NULLS
    last/first over the running and following ROWS frames — the
    same union+window formulation in both engines, so the
    interpolation expression is the identical IEEE tree on identical
    bracket integers (correctly-rounded ops only: no ROUND needed).

    Plan shape: per-device bounds agg (1 exchange) -> bounded grid
    explode (span/6h rows per device) -> union -> ONE window
    exchange on user_id evaluating all four brackets in a single
    WindowExec pass-pair. At 100 TB devices shard the window;
    per-device state is O(1) (running last / pending first). The
    NULLIF guard is structural belt-and-braces: the tag ordering
    makes t1 > g >= t0 strict."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        "value",
        "event_id",
    )
    step = F.lit(_INTERP_STEP_US)
    # ceil-div in exact INTEGER arithmetic (`div`, not floor(a/b):
    # a double division of ~1.7e15 microsecond values can round the
    # quotient across an integer boundary and mis-place the grid)
    bounds = (
        ev.groupBy("user_id")
        .agg(F.min("t").alias("tmin"), F.max("t").alias("tmax"))
        .select(
            "user_id",
            F.expr(
                f"((tmin + {_INTERP_STEP_US} - 1) div {_INTERP_STEP_US})"
                f" * cast({_INTERP_STEP_US} as bigint)"
            ).alias("g0"),
            "tmax",
        )
    )
    grid = bounds.where(F.col("g0") <= F.col("tmax")).select(
        "user_id", F.explode(F.sequence("g0", "tmax", step)).alias("t")
    )
    unioned = ev.select(
        "user_id", "t", "value", F.lit(0).alias("is_grid"), "event_id"
    ).unionAll(
        grid.select(
            "user_id",
            "t",
            F.lit(None).cast("double"),
            F.lit(1),
            F.lit(None).cast("long"),
        )
    )
    order = [F.col("t"), F.col("is_grid"), F.coalesce("event_id", F.lit(-1))]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    ev_t = F.when(F.col("is_grid") == 0, F.col("t"))
    ev_v = F.when(F.col("is_grid") == 0, F.col("value"))
    bracketed = unioned.select(
        "user_id",
        "t",
        "is_grid",
        F.last(ev_t, ignorenulls=True).over(wb).alias("t0"),
        F.last(ev_v, ignorenulls=True).over(wb).alias("v0"),
        F.first(ev_t, ignorenulls=True).over(wf).alias("t1"),
        F.first(ev_v, ignorenulls=True).over(wf).alias("v1"),
    )
    return (
        bracketed.where(
            (F.col("is_grid") == 1)
            & F.col("t0").isNotNull()
            & F.col("t1").isNotNull()
        )
        .select(
            "user_id",
            F.timestamp_micros("t").alias("grid_ts"),
            (F.col("t1") - F.col("t0")).alias("gap_us"),
            (
                F.col("v0")
                + (F.col("v1") - F.col("v0"))
                * (
                    (F.col("t") - F.col("t0")).cast("double")
                    / F.nullif(
                        (F.col("t1") - F.col("t0")).cast("double"), F.lit(0.0)
                    )
                )
            ).alias("interp_value"),
        )
    )


# ---------------------------------------------------------------------------
# evt_rebalance_detect — MDS relocation (rebalancing) detection
# ---------------------------------------------------------------------------


@query(
    "evt_rebalance_detect",
    oracle="""
    WITH cells AS (
      SELECT user_id, ts, event_id,
             CONCAT(CAST(CAST(FLOOR(value / 50) AS BIGINT) AS VARCHAR), '_',
                    COALESCE(CAST(CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INTEGER) / 25.0) AS BIGINT) AS VARCHAR), 'x')) AS o_cell,
             CONCAT(CAST(CAST(FLOOR((value + (user_id % 7) * 30.0e0) / 50) AS BIGINT) AS VARCHAR), '_',
                    COALESCE(CAST(CAST(FLOOR((CAST(json_extract_string(props, '$.k') AS INTEGER) + event_id % 5) / 25.0) AS BIGINT) AS VARCHAR), 'x')) AS d_cell
      FROM events
    ), seq AS (
      SELECT user_id, o_cell,
             LAG(d_cell) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_d_cell
      FROM cells
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_trips,
           CAST(SUM(CASE WHEN prev_d_cell IS NOT NULL
                          AND prev_d_cell <> o_cell THEN 1 ELSE 0 END)
                AS BIGINT) AS n_relocations
    FROM seq
    GROUP BY user_id
    """,
)
def evt_rebalance_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDS relocation (rebalancing) detection — the fleet-operations
    signal beside trips and availability ([P high]: dockless
    providers physically rebalance vehicles; a device whose next trip
    STARTS in a different cell than its last trip ENDED moved without
    a trip record, which public dockless analyses count as a
    relocation). Origin/destination cells use the geo_od_matrix
    derivation (same NULL-safe grid formula); a relocation is
    lag(d_cell) != o_cell per device in (ts, event_id) order.

    Plan shape: codegen cell derivation (JSON parsed once in the
    scan stage) -> ONE window exchange on user_id (lag) -> combinable
    per-device agg riding the same partitioning (groupBy user_id
    after partitionBy user_id: Catalyst reuses the exchange — no
    second shuffle). Integer-exact counts. At 100 TB devices shard
    the window; state is one row."""
    ev = with_json_field(
        load(spark, sf_dir, "events"), "k", "props", "k", "int"
    ).select("user_id", "ts", "event_id", "value", "k")
    k = F.col("k")
    o_cell = F.concat_ws(
        "_",
        F.floor(F.col("value") / 50).cast("string"),
        F.coalesce(F.floor(k / 25.0).cast("string"), F.lit("x")),
    )
    d_cell = F.concat_ws(
        "_",
        F.floor((F.col("value") + (F.col("user_id") % 7) * F.lit(30.0)) / 50).cast(
            "string"
        ),
        F.coalesce(
            F.floor((k + F.col("event_id") % 5) / 25.0).cast("string"), F.lit("x")
        ),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        o_cell.alias("o_cell"),
        F.lag(d_cell).over(w).alias("prev_d_cell"),
    )
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_trips"),
        F.sum(
            F.when(
                F.col("prev_d_cell").isNotNull()
                & (F.col("prev_d_cell") != F.col("o_cell")),
                1,
            ).otherwise(0)
        ).alias("n_relocations"),
    )


# ---------------------------------------------------------------------------
# evt_outlier_mad — median-absolute-deviation robust outlier screen
# ---------------------------------------------------------------------------


@query(
    "evt_outlier_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5e0) AS med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, m.med,
             quantile_cont(abs(e.value - m.med), 0.5e0) AS mad
      FROM events e JOIN med m ON m.event_type = e.event_type
      GROUP BY e.event_type, m.med
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           d.med, d.mad,
           CAST(SUM(CASE WHEN abs(e.value - d.med) > 3e0 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN mad d ON d.event_type = e.event_type
    GROUP BY e.event_type, d.med, d.mad
    """,
)
def evt_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen per event type — the
    ROBUST anomaly gate (evt_anomaly_zscore's mean/stddev screen is
    itself dragged by the outliers it hunts; MAD is the standard
    robust replacement [P med]). Two-pass: per-type interpolated
    median, then the median of absolute deviations, then count values
    beyond 3 MAD.

    Exactness: both engines compute the SAME interpolated quantile
    ((a + b)/2 between the two straddling order statistics — Spark
    `percentile`, DuckDB `quantile_cont`, identical IEEE ops on
    identical inputs); deviations/products/compares are single
    correctly-rounded expressions, and a value landing EXACTLY on
    3·MAD is excluded identically on both sides. Plan shape: two agg
    exchanges over events (median, then MAD — an exact two-pass is
    irreducible for nested medians) with the 5-row med/mad dims
    BROADCAST back; the outlier count rides the second broadcast. At
    100 TB the production posture: a Greenwald-Khanna sketch swap of
    both medians (``percentile_approx`` 2500) was measured and
    rejected (r7 ×100 A/B, rehearsal harness: sketch 3.43 s = 4.50×
    vs exact 2.8-3.1 s = 3.72× over DuckDB 0.76 s) — events.value
    medians sit over a per-group distinct set the exact value→count
    buffer handles cheaper than per-row GK summary updates; unlike
    agg_percentiles (15M wide-spread totalprices, sketch won 1.94×),
    here exact IS the faster path and is the only form at every size.
    The residual ratio is the irreducible 3-pass structure (median →
    MAD → score, identical on both engines) times Spark's per-pass
    exchange constant.

    r7 defuse of the 3-pass constant: the registered plan is now
    ``_mad_hist_plan`` — ONE events pass building a per-type
    (value, count) histogram (map-side combinable; events.value is a
    2-decimal reading so the histogram is bounded by the value domain,
    ~56k cells/type, independent of row count), with the median, the
    MAD, and the 3·MAD screen all derived from the tiny histogram.
    Bit-equality with the 3-pass ``percentile`` form is pinned in
    tests (sf0.1 + sf0.01); ×100 A/B in BASELINE round-7 de-weak. For
    unbounded value domains (continuous doubles) the histogram
    degenerates to row cardinality and the 3-pass ``_mad_plan`` is
    the right form — a deployment calls ``_mad_plan(ev)`` directly;
    since the two forms are pinned bit-identical the choice is a pure
    performance posture, never a parity one. There is no
    cheap automatic gate: distinct-cardinality of the value column is
    not in parquet footers, and a discovery job would cost more than
    the histogram it guards."""
    return _mad_hist_plan(load(spark, sf_dir, "events"))


def _mad_plan(ev: DataFrame) -> DataFrame:
    """3-pass MAD screen over interpolated ``percentile`` medians
    (hash-exact): the bit-equality reference for ``_mad_hist_plan``."""

    def med_of(col: str) -> F.Column:
        return F.expr(f"percentile({col}, 0.5d)")

    med = ev.groupBy("event_type").agg(med_of("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type", "med").agg(
        med_of("abs(value - med)").alias("mad")
    )
    scored = ev.join(F.broadcast(mad), "event_type")
    return scored.groupBy("event_type", "med", "mad").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(
                F.abs(F.col("value") - F.col("med")) > 3.0 * F.col("mad"), 1
            ).otherwise(0)
        ).alias("n_outliers"),
    ).select("event_type", "n_events", "med", "mad", "n_outliers")


def _wmedian(h: DataFrame, key: str, out: str) -> DataFrame:
    """Interpolated weighted median of histogram column ``key``
    (weights ``cnt_nn``/ordered cumsum ``cum``/group size ``n`` must
    already be attached) — EXACTLY Spark ``percentile(x, 0.5)``:
    position p = 0.5·(n−1) (0-based), and between the straddling
    order statistics the interpolation is
    ``(hi−p)·lower + (p−lo)·higher`` (Percentile.scala's form [P]),
    which the cross-form test pins bit-identical to the aggregate.
    NULL values carry cnt_nn = 0 so no index can land on them."""
    p = (F.col("n") - 1).cast("double") * F.lit(0.5)
    lo = F.floor(p)
    hi = F.ceil(p)
    prev = F.col("cum") - F.col("cnt_nn")
    nn = F.col("cnt_nn") > 0
    at = lambda i: F.max(  # noqa: E731  (the unique covering row)
        F.when(nn & (prev <= i) & (i < F.col("cum")), F.col(key))
    )
    parts = h.groupBy("event_type", "n").agg(
        at(lo).alias("_lo_v"), at(hi).alias("_hi_v")
    )
    med = F.when(F.col("_lo_v") == F.col("_hi_v"), F.col("_lo_v")).otherwise(
        (hi.cast("double") - p) * F.col("_lo_v")
        + (p - lo.cast("double")) * F.col("_hi_v")
    )
    return parts.select("event_type", "n", med.alias(out))


def _mad_hist_plan(ev: DataFrame) -> DataFrame:
    """Single-pass histogram MAD screen (r7). The raw table is read
    ONCE into a per-(event_type, value) count — partial-aggregated
    map-side, so the exchange carries the value-domain cardinality,
    not the row count — and the three logical passes (median, MAD,
    3·MAD screen) all run over that tiny histogram: the median as an
    interpolated weighted quantile (ordered-window cumsum + index
    lookup), the MAD as the same weighted quantile over |v − med|
    (re-sorting the histogram, no re-grouping — duplicate deviations
    need no merge for an order statistic), and the screen as a
    conditional weighted sum. Identical doubles to the 3-pass
    ``_mad_plan``: same interpolation formula, and |v−med|, 3·mad,
    and the strict > compare are single correctly-rounded IEEE ops on
    the same values (hazard #6). The event_type exchange after the
    histogram is 5-partition-tiny; med/mad ride back as broadcasts."""
    hist = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    hist = hist.localCheckpoint(eager=False)  # 3 consumers, one agg

    def attach(df: DataFrame, key: str) -> DataFrame:
        wp = Window.partitionBy("event_type")
        wc = wp.orderBy(F.col(key).asc_nulls_last(), "value").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cnt_nn = F.when(
            F.col(key).isNotNull(), F.col("cnt")
        ).otherwise(F.lit(0))
        return df.select(
            "event_type",
            "value",
            "cnt",
            cnt_nn.alias("cnt_nn"),
            key,
        ).select(
            "*",
            F.sum("cnt_nn").over(wc).alias("cum"),
            F.sum("cnt_nn").over(wp).alias("n"),
        )

    med = _wmedian(
        attach(hist.withColumn("v", F.col("value")), "v"), "v", "med"
    ).select("event_type", "med")
    dev = hist.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = _wmedian(attach(dev, "dev"), "dev", "mad").select(
        "event_type", "mad"
    )
    scored = hist.join(F.broadcast(med), "event_type").join(
        F.broadcast(mad), "event_type"
    )
    return (
        scored.groupBy("event_type", "med", "mad")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3.0 * F.col("mad"),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
        .select("event_type", "n_events", "med", "mad", "n_outliers")
    )


# ---------------------------------------------------------------------------
# evt_ewma / evt_cusum_changepoint — per-entity integer state recursions
# ---------------------------------------------------------------------------

# Both keys share the same staging: per-user event series in total
# (ts, event_id) order with the value lifted to FIXED-POINT integers
# x = CAST(FLOOR(value*1000) AS BIGINT). floor-then-cast is mandatory:
# a bare CAST(double AS BIGINT) truncates in Spark but ROUNDS in
# DuckDB (hazard rule set). events.value is positive (verified
# precondition below), so truncating div (Spark/Python) and floor div
# (DuckDB //) agree on every intermediate.

_SEQ_SQL = """
      SELECT user_id,
             CAST(FLOOR(value * 1000) AS BIGINT) AS x,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
"""


def _user_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 1000).cast("long").alias("x"),
    )


@query(
    "evt_ewma",
    oracle=f"""
    WITH RECURSIVE seq AS ({_SEQ_SQL}),
    walk AS (
      SELECT user_id, rn, x, x AS e FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, s.x, (3 * w.e + s.x) // 4
      FROM walk w JOIN seq s
        ON s.user_id = w.user_id AND s.rn = w.rn + 1
    )
    SELECT user_id,
           CAST(MAX(rn) AS BIGINT) AS n_events,
           MAX_BY(e, rn) AS ewma_fix,
           CAST(MAX(e) AS BIGINT) AS max_ewma_fix
    FROM walk GROUP BY user_id
    """,
)
def evt_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per entity in FIXED-
    POINT integer arithmetic (alpha = 1/4): e' = (3*e + x) div 4 —
    the smoothing primitive every telemetry pipeline runs, made
    bit-identical across engines/partitionings/retries by keeping
    the whole recursion in integers (a float EWMA cannot give this;
    the llm/gph fixed-point posture). Truncation loss < 1 fixed-
    point unit per step, bounded and monotone.

    An EWMA is a LEFT FOLD over time order — the operator Spark's
    window frames genuinely cannot express (no fold-window; a
    prefix-list HOF would be O(n²) per entity). The house route is
    the sanctioned custom-stateful one: applyInPandas per entity,
    O(1) state per group, one shuffle on user_id — identical shape
    to applyInPandasWithState in streaming. The oracle walks the
    SAME recursion as a recursive CTE, so this is a genuine
    cross-formulation check (imperative fold vs fixpoint SQL).

    At 100 TB: per-entity series arrive pre-bucketed by entity key;
    the fold is a single pass per group with constant state — the
    textbook applyInPandas shape (SURVEY §2.12)."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        e = None
        mx = 0
        for x in pdf["x"]:
            x = int(x)
            e = x if e is None else (3 * e + x) // 4
            mx = e if e > mx else mx
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(pdf)],
                "ewma_fix": [e],
                "max_ewma_fix": [mx],
            }
        )

    return (
        _user_series(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandas(
            fold,
            "user_id long, n_events long, ewma_fix long, max_ewma_fix long",
        )
    )


_CUSUM_K = 250_000  # drift allowance (fixed-point units)
_CUSUM_H = 1_000_000  # alarm threshold


@query(
    "evt_cusum_changepoint",
    oracle=f"""
    WITH RECURSIVE seq AS ({_SEQ_SQL}),
    walk AS (
      SELECT user_id, rn, GREATEST(0, x - {_CUSUM_K}) AS s
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, GREATEST(0, w.s + s.x - {_CUSUM_K})
      FROM walk w JOIN seq s
        ON s.user_id = w.user_id AND s.rn = w.rn + 1
    )
    SELECT user_id,
           CAST(MAX(s) AS BIGINT) AS max_cusum,
           CAST(SUM(CASE WHEN s > {_CUSUM_H} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarms
    FROM walk GROUP BY user_id
    """,
)
def evt_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint/drift detector per entity — the sequential
    mean-shift screen ([P med]: sustained upward drift in a metric
    that a z-score-per-point misses): S' = max(0, S + x - K) with
    alarm when S crosses H, in the same fixed-point integers and the
    same applyInPandas-fold / recursive-CTE-oracle machinery as
    evt_ewma (one shared staging, two declared semantics). K and H
    are shared literals; every comparison is integer-exact, so the
    alarm count is bit-stable — the property a production alerting
    pipeline needs to be idempotent across retries.

    Plan/scale shape: identical to evt_ewma (one user_id shuffle,
    O(1) per-group state, single pass)."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        s = 0
        mx = 0
        alarms = 0
        for x in pdf["x"]:
            s = s + int(x) - _CUSUM_K
            s = 0 if s < 0 else s
            mx = s if s > mx else mx
            alarms += 1 if s > _CUSUM_H else 0
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "max_cusum": [mx],
                "n_alarms": [alarms],
            }
        )

    return (
        _user_series(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandas(fold, "user_id long, max_cusum long, n_alarms long")
    )


# ---------------------------------------------------------------------------
# evt_attribution_linear — multi-touch linear attribution
# ---------------------------------------------------------------------------


@query(
    "evt_attribution_linear",
    oracle="""
    WITH conv AS (
      SELECT event_id AS cid, user_id, ts FROM events
      WHERE event_type = 'purchase'
    ), touch AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type <> 'purchase'
    ), pairs AS (
      SELECT c.cid, t.event_type AS touch_type
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id
       AND t.ts < c.ts
       AND t.ts >= c.ts - INTERVAL 7 DAY
    ), sized AS (
      SELECT cid, touch_type,
             COUNT(*) OVER (PARTITION BY cid) AS n
      FROM pairs
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(1000000 // n) AS BIGINT) AS credit_micro
    FROM sized GROUP BY touch_type
    """,
)
def evt_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — the equal-credit complement
    of evt_attribution_last_touch ([P med]: the other standard
    attribution model): every non-purchase touch in the 7 days
    before a conversion shares the conversion's credit equally.
    The per-touch credit is the SCALED INTEGER 1000000 div n (n =
    touches for that conversion) — summing exact micro-credits
    instead of accumulating 1.0/n doubles removes the summation-
    order hazard entirely (each conversion distributes n*(10^6 div
    n) micro-units; the div remainder is the declared rounding, not
    FP noise).

    Plan shape: the conv-touch pairing is an EQUI-join on user_id
    with the 7-day range as a residual predicate (never a theta-only
    join); per-conversion size is a window riding the pair shuffle's
    partitioning hash? — no: the window re-partitions on cid, then
    ONE combinable agg on touch_type. At 100 TB the user_id equi-key
    bounds candidates to within-entity pairs and the 7-day window
    caps them per conversion; skewed power users salt like any hot
    join key."""
    ev = load(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("cuser"),
        F.col("ts").alias("cts"),
    )
    touch = ev.where(F.col("event_type") != "purchase").select(
        "user_id", "ts", F.col("event_type").alias("touch_type")
    )
    pairs = conv.join(
        touch,
        (touch.user_id == conv.cuser)
        & (touch.ts < conv.cts)
        & (touch.ts >= conv.cts - F.expr("INTERVAL 7 DAYS")),
    ).select("cid", "touch_type")
    sized = pairs.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("cid"))
    )
    return sized.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum(F.expr("1000000 div n")).alias("credit_micro"),
    )


# ---------------------------------------------------------------------------
# evt_path_topk — top navigation paths (first-5 event types per session)
# ---------------------------------------------------------------------------


@query(
    "evt_path_topk",
    oracle="""
    WITH r AS (
      SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
               ORDER BY ts, event_id) AS rk
      FROM events
    ), p AS (
      SELECT user_id, day,
             string_agg(event_type, '>' ORDER BY rk) AS path
      FROM r WHERE rk <= 5 GROUP BY user_id, day
    ), c AS (
      SELECT path, COUNT(*) AS n FROM p GROUP BY path
    ), t AS (
      SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rk
      FROM c
    )
    SELECT path, CAST(n AS BIGINT) AS n_sessions, CAST(rk AS BIGINT) AS rk
    FROM t WHERE rk <= 10
    """,
)
def evt_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 navigation paths — the ordered-prefix product question
    ("which journeys happen most?") behind the Markov transition
    matrix ([P med]: evt_markov_transitions gives edge rates; this
    ranks whole paths). Session = (user, day); path = the first 5
    event types in (ts, event_id) order joined with '>'.

    Determinism: the within-session order is total (event_id breaks
    ts ties), the path string is assembled from rank-sorted structs
    (array_sort on (rk, type) = order by rk), and the top-10 is
    tie-broken by path. Plan shape: one window exchange on
    (user, day) → path strings, one combinable path count, then a
    single-partition top-10 over the tiny path summary (the
    srt_topk_global shape). At 100 TB the path summary is bounded by
    the type-alphabet^5, not the event count."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date").alias("day"),
        "ts",
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    r = ev.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5)
    paths = r.groupBy("user_id", "day").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rk", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    top = counts.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("path")))
    ).where(F.col("rk") <= 10)
    return top.select("path", F.col("n").alias("n_sessions"), F.col("rk").cast("long").alias("rk"))


# ---------------------------------------------------------------------------
# evt_interarrival_hist — inter-event gap distribution
# ---------------------------------------------------------------------------


@query(
    "evt_interarrival_hist",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP))
             - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT CAST(LEAST(gap_us // 60000000, 60) AS BIGINT) AS gap_min_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY 1
    """,
)
def evt_interarrival_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time histogram — the telemetry cadence
    distribution ([P med]: "how often do devices report?" drives
    both the reference's availability math and anomaly thresholds;
    the histogram of per-entity consecutive gaps is its standard
    answer). Gap = within-user consecutive epoch-µs difference
    (lag over (ts, event_id) total order), binned to minutes and
    capped at a 60+ tail bucket — all integer, TZ-immune (offsets
    cancel in the difference, hazard rule 10).

    Plan shape: one window exchange on user (shared with every other
    per-user sequence operator — at 100 TB this partitioning is
    produced once and reused), then ONE combinable ≤61-cell agg.
    The distinct-user count per bucket is Spark's inherent 2-phase
    distinct expansion over the already-small (bucket, user)
    stream."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("eu"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.withColumn("gap_us", F.col("eu") - F.lag("eu").over(w)).where(
        F.col("gap_us").isNotNull()
    )
    return (
        g.select(
            "user_id",
            F.least(F.expr("gap_us div 60000000"), F.lit(60)).alias(
                "gap_min_bucket"
            ),
        )
        .groupBy("gap_min_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# evt_new_vs_returning — daily first-time vs returning activity KPI
# ---------------------------------------------------------------------------


@query(
    "evt_new_vs_returning",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
               AS day
      FROM events
    ), firsts AS (
      SELECT user_id, MIN(day) AS first_day FROM e GROUP BY user_id
    ), daily AS (
      SELECT e.day,
             COUNT(DISTINCT e.user_id) AS n_active,
             COUNT(DISTINCT CASE WHEN e.day = f.first_day
                                 THEN e.user_id END) AS n_new
      FROM e JOIN firsts f USING (user_id)
      GROUP BY e.day
    )
    SELECT day,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(n_active - n_new AS BIGINT) AS n_returning,
           CAST(SUM(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_users
    FROM daily
    """,
)
def evt_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily NEW vs RETURNING activity — the operational KPI on top
    of the cohort machinery ([P high]: the reference's public
    dashboards report daily device/user activity; "how many of
    today's actives are first-timers?" is the growth-vs-retention
    split every ops review opens with). A user is NEW on their
    first-seen day; cum_users is the running registered-population
    curve (its last value = total distinct users — a built-in
    self-check).

    Plan-shape history: the naive daily-distinct form Expand-doubled
    the full event stream through a 2-column distinct; the r12
    pair-summary form collapsed events once into distinct (user,
    day) pairs (×100 A/B 3.20 → 2.02 s). At 100 TB the first-seen
    dim is the user registry you already keep. TZ posture: date
    derivation matches the house date_trunc precedent
    (evt_cohort_retention).

    r14 optimization round, step 1 — the pairs⋈firsts JOIN is gone:
    a user is NEW on day d iff their min(day) == d, so n_new(d) is
    just a COUNT of firsts grouped by first_day (×100: 2.756 →
    2.342 s). Step 2 — ONE corpus-sized exchange instead of two:
    the checkpointed distinct-(user, day) + groupBy(user) pair both
    hashed the full pair stream; `groupBy(user).collect_set(day)`
    does the dedup AND the per-user gather in a single exchange
    (partial_collect_set dedups map-side; the set is calendar-
    bounded, ≤ #distinct days, so rows stay narrow), then n_active /
    n_new fall out of one explode + day-level agg — n_new(d) counts
    exploded days equal to their user's array_min (≡ min(day) ==
    first seen). ×100 same-session A/Bs (two epochs): registered
    1.920/1.756 s → this form **1.685/1.210 s (1.77×/1.53× →
    1.56×/1.05× vs DuckDB)**; value-identical 30 rows (dtype-exact
    pandas equality), pair-join twin pinned in tests."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date").alias("day"),
    )
    per_user = e.groupBy("user_id").agg(F.collect_set("day").alias("days"))
    exploded = per_user.select(
        F.explode("days").alias("day"),
        F.array_min("days").alias("first_day"),
    )
    daily = exploded.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(
            F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
        ).alias("n_new"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(w).alias("cum_users"),
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
    sorted day array (`aggregate`): a day extends the current run
    iff it is prev+1, otherwise the run closes and a strictly-longer
    run displaces the best (strict > keeps the EARLIEST start on
    ties, matching the composite argmin key in the oracle; starts are
    visited in chronological order). All-integer state → exact. The
    classic row_number-difference window form (two exchanges:
    distinct at (user, day), then re-shuffle to user partitions +
    sort) is pinned equal in tests; A/B at ×100: 1.97 s → 1.85 s, and
    one fewer full exchange is the 100 TB win."""
    return sql_over(spark, _GAP_ISLANDS_SQL, events=load(spark, sf_dir, "events"))


def _closed_run(acc: str) -> str:
    """max_streak and best once the run in fold state ``acc`` closes:
    a strictly longer run displaces the best."""
    better = f"{acc}.cur_len > {acc}.max_streak"
    return (
        f"CASE WHEN {better} THEN {acc}.cur_len ELSE {acc}.max_streak END AS max_streak, "
        f"CASE WHEN {better} THEN {acc}.cur_start ELSE {acc}.best END AS best"
    )


# x_0: the fold state, y_0: the next active day, x_1: the last state
_GAP_ISLANDS_SQL = f"""
SELECT user_id, CAST(_st.n AS BIGINT) AS n_islands,
       CAST(_st.max_streak AS BIGINT) AS max_streak,
       CAST(_st.best AS BIGINT) AS best_start_day
FROM (
  SELECT user_id,
         aggregate(
           slice(ds, 2, greatest(size(ds) - 1, 0)),
           struct(element_at(ds, 1) AS prev, element_at(ds, 1) AS cur_start, 1 AS cur_len,
                  1 AS n, 0 AS max_streak, 0 AS best),
           (x_0, y_0) -> CASE WHEN y_0 = x_0.prev + 1
             THEN struct(y_0 AS prev, x_0.cur_start AS cur_start, x_0.cur_len + 1 AS cur_len,
                         x_0.n AS n, x_0.max_streak AS max_streak, x_0.best AS best)
             ELSE struct(y_0 AS prev, y_0 AS cur_start, 1 AS cur_len, x_0.n + 1 AS n,
                         {_closed_run("x_0")}) END,
           x_1 -> struct(x_1.n AS n, {_closed_run("x_1")})
         ) AS _st
  FROM (
    SELECT user_id, array_sort(collect_set(day_num)) AS ds
    FROM (
      SELECT user_id, datediff(CAST(ts AS DATE), CAST('1970-01-01' AS DATE)) AS day_num
      FROM {{events}}
    )
    GROUP BY user_id
  )
)
"""
