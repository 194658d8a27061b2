"""Aggregation operators — SURVEY.md §2.4.

All use ``groupBy().agg()`` — Catalyst plans two-phase hash
aggregation (map-side partial + final) automatically, so at 100 TB
the shuffle carries pre-aggregated partials, not raw rows. FP
discipline: every double aggregate is round(x, 4) on both engines
(SURVEY §1.2 item 2).
"""

from __future__ import annotations

import uuid as _uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, parquet_nrows


@query(
    "agg_global",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(MIN(l_discount), 4) AS min_disc,
           ROUND(MAX(l_tax), 4) AS max_tax
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-group) aggregate: count/sum/avg/min/max (summary
    stats, [P high])."""
    return load(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.min("l_discount"), 4).alias("min_disc"),
        F.round(F.max("l_tax"), 4).alias("max_tax"),
    )


@query(
    "agg_groupby_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary (per-group rollup, [P high]:
    per-geography/per-day reporting)."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
        F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "agg_distinct_count",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group via 64-BIT BUCKET BITMAPS
    (unique-device counts, [P high]; r7 de-weak). The naive
    ``countDistinct`` plans a two-phase distinct aggregate that
    shuffles one row per distinct (group, key) pair; for a
    NON-NEGATIVE INTEGRAL key the bitmap form is exact and ~64×
    denser: map side emits ``(group, key div 64, 1 << key%64)``,
    ``bit_or`` combines masks per bucket (combinable partial agg —
    locally dense keys collapse 64:1 BEFORE the exchange), and
    ``sum(bit_count(mask))`` is the exact distinct count. The row
    count rides the same single scan/exchange via a per-bucket
    ``count``. ×100 A/B: 2.73 s countDistinct → 1.13 s bitmap
    (identical results; DuckDB 1.07 s → 1.06×). Generic/non-integral
    keys keep ``countDistinct``; the unbounded-domain sketch path is
    ``agg_approx_distinct`` (HLL)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr("o_custkey div 64").alias("w"),
        F.expr("shiftleft(cast(1 as bigint), cast(o_custkey % 64 as int))").alias(
            "m"
        ),
    )
    words = o.groupBy("o_orderpriority", "w").agg(
        F.bit_or("m").alias("mask"), F.count(F.lit(1)).alias("c")
    )
    return words.groupBy("o_orderpriority").agg(
        F.sum(F.bit_count("mask")).cast("long").alias("n_custs"),
        F.sum("c").alias("n_orders"),
    )


@query("agg_approx_distinct")  # rows-only: HLL sketches differ across engines
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per priority. Rows-only:
    HLL estimates are engine-specific (SURVEY §1.2 item 5). This is
    the 100 TB path for distinct counts — fixed-size sketch, no
    distinct expansion shuffle."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "agg_filtered",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
           ROUND(SUM(l_extendedprice) FILTER (WHERE l_quantity >= 25), 4) AS sum_bulk_price,
           ROUND(SUM(CASE WHEN l_tax > 0.04 THEN l_extendedprice ELSE 0 END), 4) AS sum_taxed
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: FILTER / sum(case when) (core)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
        F.round(F.sum(F.when(F.col("l_quantity") >= 25, F.col("l_extendedprice"))), 4).alias(
            "sum_bulk_price"
        ),
        F.round(
            F.sum(F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice")).otherwise(0.0)), 4
        ).alias("sum_taxed"),
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT o_orderstatus,
           array_to_string(list_sort(array_agg(DISTINCT o_orderpriority)), '|') AS priorities
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group sorted distinct list (deterministic collect_list —
    collect_set order is nondeterministic, so sort_array makes it
    deterministic; core). Serialized via array_join so pandas-based
    comparison harnesses can hash the column (numpy arrays are
    unhashable); oracle mirrors with array_to_string.

    Plan (r11 pairs-first rewrite, the agg_cube precedent): a direct
    collect_set over the fact stream is a TypedImperativeAggregate,
    which forces ObjectHashAggregateExec and drops the 15M-row pass
    out of whole-stage codegen. Distinct-pair pre-agg first — a
    codegen HashAggregate whose exchange is bounded by |status| ×
    |priority| (~15 rows) — then the collect runs over the tiny
    summary. Same two-exchange count, but the full-corpus pass stays
    in codegen: ×100 A/B 0.723 s → 0.381 s (2.51× → 1.32× vs DuckDB
    0.288 s, same session). Value-identical by construction: the
    pair pre-agg preserves exactly the distinct (status, priority)
    combinations collect_set would return."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
        .groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("o_orderpriority")), "|"
            ).alias("priorities")
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                      AS BIGINT) / 100.0, 4) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS multi-grain aggregate (multi-grain reports,
    [P med]), ADAPTIVE on input size (r7 de-weak; footer-metadata
    count). A silent size switch is SAFE here — unlike
    agg_percentiles' exact→sketch swap (env-gated since r8), both
    forms below are value-identical at any size, so the oracle
    contract holds on either side:

    - at/below ``_PCTL_EXACT_MAX_ROWS`` (driver/bench scale): the
      planner's ``groupingSets`` Expand — ONE exchange, the fewest
      stages, right when the ×3 row replication is cheap;
    - above it: FROM THE FINEST GRAIN — one combinable exchange at
      (status, priority) collapses the stream to #distinct-pairs ×
      partitions map-side, then all three sets re-aggregate via an
      Expand of the ≤25-row PARTIAL (×100 A/B: full-stream Expand
      3.19 s, decimal finest-grain 1.47 s, cents union 0.73 s, cents
      tiny-partial Expand 0.55 s vs DuckDB 0.31 s = 1.77×, was 2.36×).

    Both forms produce IDENTICAL values at any size: counts are
    integers and prices become EXACT INTEGER CENTS map-side
    (floor(x*100 + 0.5) — totalprice is cents-valued, the house
    half-up floor tree), summed as LONGs — associative, order-free,
    ~3× cheaper per row than a DECIMAL cast; the oracle mirrors the
    identical integer tree and divides by 100.0 once at the output.
    Cross-form equality is pinned in tests.

    (History: the former SQL-view GROUPING SETS formulation also
    defeated cached-table reuse — the analyzer's Expand rewrite
    mutates the child subtree before CacheManager's canonicalized
    match runs; the DataFrame forms here hit the cache.)"""
    from ..tables import parquet_nrows

    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    nrows = parquet_nrows(sf_dir, "orders")
    if nrows is not None and nrows <= _PCTL_EXACT_MAX_ROWS:
        return (
            o.groupingSets(
                [["o_orderstatus"], ["o_orderpriority"], []],
                "o_orderstatus",
                "o_orderpriority",
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum(cents) / 100.0, 4).alias("sum_price"),
            )
        )
    fine = (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(cents).alias("s"),
        )
    )
    out = lambda d: d.select(  # noqa: E731
        "o_orderstatus",
        "o_orderpriority",
        F.col("c").alias("n_orders"),
        F.round(F.col("s") / 100.0, 4).alias("sum_price"),
    )
    null_s = F.lit(None).cast("string")
    # re-aggregate ALL THREE sets in one pass: Expand (explode) the
    # ≤25-row partial — the same plan shape the planner builds over
    # the full input, applied where it belongs; one re-agg exchange
    # instead of three branches + union (0.73 → 0.55 s at ×100)
    g = fine.select(
        F.explode(
            F.array(
                F.struct(F.col("o_orderstatus").alias("st"), null_s.alias("pr")),
                F.struct(null_s.alias("st"), F.col("o_orderpriority").alias("pr")),
                F.struct(null_s.alias("st"), null_s.alias("pr")),
            )
        ).alias("g"),
        "c",
        "s",
    )
    return out(
        g.groupBy(
            F.col("g.st").alias("o_orderstatus"),
            F.col("g.pr").alias("o_orderpriority"),
        ).agg(F.sum("c").alias("c"), F.sum("s").alias("s"))
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT r_name, n_name,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           ROUND(SUM(c_acctbal), 4) AS sum_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(region, nation) hierarchy aggregate (core)."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.round(F.sum("c_acctbal"), 4).alias("sum_bal"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(status, priority) aggregate (core).

    Pairs-first form (round-6 completion sweep): Catalyst plans CUBE
    as Expand ×4 over every input row — 60M expanded rows at ×100.
    COUNT is exactly decomposable, so the corpus first collapses to
    the ~15 distinct (status, priority) pairs with a plain
    map-combinable count, and the CUBE's Expand runs over the pair
    summary (SUM(n) ≡ COUNT(*) per subset, integer-exact — the same
    rewrite is NOT applied to agg_grouping_sets/agg_rollup, whose
    float SUMs would change accumulation order at the ROUND margin)."""
    pairs = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        pairs.cube("o_orderstatus", "o_orderpriority")
        .agg(F.sum("n").alias("n_orders"))
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
           ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
           ROUND(STDDEV_SAMP(l_discount), 6) AS sd_disc,
           ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/corr (ext). Rounding
    magnitudes chosen so both engines' numerically-stable one-pass
    algorithms agree at the rounded precision (SURVEY §1.2 item 2)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.stddev_samp("l_discount"), 6).alias("sd_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
    )


_PCTL_EXACT_MAX_ROWS = 5_000_000

# Greenwald-Khanna summary accuracy for the opt-in sketch path:
# rank error ≤ n/_PCTL_SKETCH_ACCURACY. 2500 chosen by ×100 A/B
# (1.24 s at 10000 vs 1.11 s at 2500 — summary size is the update
# cost) while keeping the sf0.1 boundary test inside 0.5%.
_PCTL_SKETCH_ACCURACY = 2500


_PCTL_QS = (0.5, 0.9, 0.99)


def _percentiles_exact_hist(o: DataFrame) -> DataFrame:
    """Exact p50/p90/p99 per priority via a (priority, value)
    HISTOGRAM instead of the ``percentile`` TypedImperativeAggregate
    (r14 optimization round; the evt_outlier_mad precedent — "the
    3-pass structure WAS reducible" — applied to this key's 1-pass
    structure, which was off whole-stage codegen).

    Why: ``percentile`` plans as ObjectHashAggregate — each partial
    builds a per-group OpenHashMap value→count buffer OUTSIDE
    whole-stage codegen, the exchange ships serialized maps, and the
    final merge + sort of each group's full value domain runs
    single-threaded per group (5 tasks here). This form runs the
    heavy 15M-row pass as a codegen HashAggregate collapsing to the
    value-domain cells (~150k at any replication of this corpus —
    prices repeat, keys shift), then derives the EXACT interpolated
    percentiles from the tiny weighted histogram: cumulative counts
    give each cell its 0-based rank span [hi-cnt, hi), the cells
    holding ranks floor(pos)/ceil(pos) are picked out with
    conditional aggregates, and the interpolation below replicates
    Spark's ``Percentile.getPercentile`` FORMULA EXACTLY —
    ``(higher - pos) * vlow + (pos - lower) * vhigh`` with
    pos = q * (n-1) — so the result is the same IEEE double the
    TypedImperativeAggregate returns, not merely close (equality with
    the ``percentile()`` form is pinned in tests at three SFs plus a
    synthetic single-row/exact-rank edge corpus).

    Measured outcome (r14 ×100 A/B, two epochs): REJECTED — this
    form read 2.728 s vs the ``percentile()`` plan's 1.557 s, then
    1.474 vs 1.299 s in a quieter window. On THIS corpus ~150k
    distinct prices are visible to every partition, so the partial
    (priority, value) cells shuffled here cost what the partial
    value→count maps cost there, and the extra exchange + two
    windows are pure overhead. The helper stays as the measured,
    equality-pinned alternative (it wins only when the value domain
    is far smaller than per-partition row count — the
    evt_outlier_mad regime, ~56k cells/type vs millions of rows);
    the registered exact plan remains ``_percentiles_plan``."""
    from pyspark.sql import Window

    cells = (
        o.where(F.col("o_totalprice").isNotNull())
        .groupBy("o_orderpriority", "o_totalprice")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("o_orderpriority")
    cum = cells.withColumn("hi", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    lo = F.col("hi") - F.col("cnt")
    v = F.col("o_totalprice")
    aggs = [F.sum("cnt").alias("n_orders")]
    for i, q in enumerate(_PCTL_QS):
        pos = F.lit(q) * (F.col("n") - 1).cast("double")
        lower, higher = F.floor(pos), F.ceil(pos)
        aggs.append(
            F.max(F.when((lo <= lower) & (lower < F.col("hi")), v)).alias(f"vl{i}")
        )
        aggs.append(
            F.max(F.when((lo <= higher) & (higher < F.col("hi")), v)).alias(f"vh{i}")
        )
    out = cum.groupBy("o_orderpriority").agg(*aggs)
    cols = [F.col("o_orderpriority"), F.col("n_orders")]
    for i, (q, name) in enumerate(zip(_PCTL_QS, ("p50", "p90", "p99"))):
        pos = F.lit(q) * (F.col("n_orders") - 1).cast("double")
        lower, higher = F.floor(pos), F.ceil(pos)
        interp = F.when(lower == higher, F.col(f"vl{i}")).otherwise(
            (higher.cast("double") - pos) * F.col(f"vl{i}")
            + (pos - lower.cast("double")) * F.col(f"vh{i}")
        )
        cols.append(F.round(interp, 4).alias(name))
    return out.select(*cols)


def _percentiles_plan(o: DataFrame, exact: bool) -> DataFrame:
    """Shared p50/p90/p99-per-priority plan; ``exact`` picks the
    aggregate. ONE array-argument call either way — three separate
    ``percentile(c, q)`` calls build three independent
    TypedImperativeAggregate value→count buffers over the same column
    (3× the per-row update cost; r7 ×100 A/B: 3.80 s three-call vs
    1.49 s single-array — 2.55× faster)."""
    agg = (
        "percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))"
        if exact
        else "percentile_approx(o_totalprice, array(0.5D, 0.9D, 0.99D), "
        f"{_PCTL_SKETCH_ACCURACY})"
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.expr(agg).alias("ps"))
        .select(
            "o_orderpriority",
            "n_orders",
            F.round(F.col("ps")[0], 4).alias("p50"),
            F.round(F.col("ps")[1], 4).alias("p90"),
            F.round(F.col("ps")[2], 4).alias("p99"),
        )
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles (p50/p90/p99) per group. The REGISTERED key is
    ALWAYS the EXACT linear-interpolated ``percentile`` — it must
    satisfy its declared ``quantile_cont`` oracle at ANY scale the
    driver sweeps, so no silent input-size switch is allowed here
    (r8 contract fix: the former >5M-row auto-sketch would have
    hash-failed a larger sweep while the registry still declared an
    exact oracle).

    The production scale path is ``percentile_approx``
    (Greenwald-Khanna summary, accuracy ``_PCTL_SKETCH_ACCURACY`` →
    rank error ≤ n/2500): MERGEABLE bounded state where exact
    percentile's TypedImperativeAggregate materializes an
    O(group-distinct) value→count map no 100 TB group should pay.
    Because the sketch deliberately breaks exact-oracle parity, it is
    never dispatched from this key: a 100 TB deployment calls
    ``_percentiles_plan(df, exact=False)`` directly. Boundary
    agreement (sketch within 0.5% of exact on the largest local
    corpus) is asserted in tests.

    r14 optimization round, attempted and REJECTED BY MEASUREMENT:
    a histogram-exact rewrite (``_percentiles_exact_hist`` — codegen
    HashAggregate over (priority, value) cells + Percentile-formula
    interpolation, value-IDENTICAL and equality-pinned in tests)
    targeted the off-codegen ObjectHashAggregate plan, but measured
    SLOWER at ×100 in both A/B epochs (2.728 vs 1.557 s, then 1.474
    vs 1.299 s hot): the partial value→count maps this corpus ships
    (~150k distinct prices × 32 partitions) cost the same either way,
    and the histogram form adds an exchange + two windows on top.
    The ``percentile()`` single-array form therefore STAYS the
    registered exact plan; the helper remains as the measured
    alternative for bounded value domains (OPTIMIZATION_r14.md)."""
    return _percentiles_plan(load(spark, sf_dir, "orders"), exact=True)


@query(
    "agg_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide reshape): order counts by priority x status.
    The pivot values are DECLARED (['F','O','P']) — at 100 TB an
    undeclared pivot runs an extra distinct-scan job to discover the
    columns; declaring them keeps it one pass."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


_HIST_LO, _HIST_HI, _HIST_NB = 0.0, 600000.0, 12


@query(
    "agg_histogram",
    oracle=f"""
    SELECT CAST(least(floor((o_totalprice - {_HIST_LO}) / {(_HIST_HI - _HIST_LO) / _HIST_NB}),
                      {_HIST_NB - 1}) AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(MIN(o_totalprice), 4) AS lo_price,
           ROUND(MAX(o_totalprice), 4) AS hi_price
    FROM orders
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (12 buckets over order totals, top bucket
    clamps the tail) — the profiling primitive behind range-partition
    sizing and skew detection. Pure expression + one combinable
    aggregation; at 100 TB this is how you CHOOSE partition bounds
    before a range-partitioned write."""
    w = (_HIST_HI - _HIST_LO) / _HIST_NB
    bucket = F.least(
        F.floor((F.col("o_totalprice") - _HIST_LO) / w), F.lit(_HIST_NB - 1)
    ).cast("int")
    o = load(spark, sf_dir, "orders")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 4).alias("lo_price"),
        F.round(F.max("o_totalprice"), 4).alias("hi_price"),
    )


# ---------------------------------------------------------------------------
# agg_corr_cov — distributed correlation via exact power sums
# ---------------------------------------------------------------------------

# Σlo < rows·2^32 must fit the decimal(18,0) cast: 1e18 / 2^32 ≈ 2.3e8,
# the long-unit form's binding rows/group bound (agg_corr_cov docstring).
_CORR_COV_UNITS_MAX_ROWS = 230_000_000


@query(
    "agg_corr_cov",
    oracle="""
    WITH sums AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity      AS DECIMAL(18,4))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
             SUM(CAST(l_quantity      AS DECIMAL(19,4))
               * CAST(l_quantity      AS DECIMAL(19,4))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(19,4))
               * CAST(l_extendedprice AS DECIMAL(19,4))) AS syy,
             SUM(CAST(l_quantity      AS DECIMAL(19,4))
               * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS corr_qty_price,
           ROUND((CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                 / CAST(n AS DOUBLE), 4) AS covar_pop,
           ROUND((CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                 / CAST(NULLIF(n - 1, 0) AS DOUBLE), 4) AS covar_samp
    FROM sums
    """,
)
def agg_corr_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation + covariance of (l_quantity, l_extendedprice) per
    return flag via ONE-PASS power sums: n, Σx, Σy, Σx², Σy², Σxy as
    map-side-combinable aggregates, closed-form corr/covariance from
    the sums afterward. The sums are EXACT (no summation-order drift,
    no Welford merge-state concerns) so the double math's inputs are
    cross-engine bit-identical. Built-in corr()/covar_samp() would
    hide the sums inside engine-specific accumulation orders and
    could not be hash-checked at 4-6 decimals. Generalizes telemetry
    correlation screens ([P med], product analytics).

    r14 registered plan — long-unit split sums (guide §2.3 narrower
    types): the pre-r14 form accumulated six DECIMAL sums of
    decimal(18,4)/(37,8) per-row products — BigDecimal-backed multiply
    and add once a partial exceeds the long range, the dominant
    per-row cost. The same exact integers fall out of pure long
    arithmetic: lift to units ux = floor(x·1e4 + 0.5) (the exact.py
    idiom — recovers the unscaled value of CAST(x AS DECIMAL(18,4))
    on the same IEEE double), per-row long products, and hi/lo split
    sums at 2^32 (hi = p div 2^32, lo = p & (2^32−1)) so no partial
    can wrap. The exact decimal sums are reconstructed post-agg over
    the ≤3 surviving groups — Σhi·2^32 + Σlo in decimal(29,0), scale
    shift by an exact ×decimal(8,8) literal to decimal(38,8); every
    step stays ≤ precision 38, so Spark's precision-loss adjustment
    never fires — then the ONE decimal→double cast and the identical
    IEEE tail run as before: bit-identical by integer identity.

    PRECONDITIONS (load-bearing — r14 ADVICE): inputs must be
    NON-NEGATIVE. The unit lift floor(x·1e4 + 0.5) matches decimal
    HALF_UP only for x ≥ 0 (HALF_UP rounds away from zero; floor+0.5
    rounds toward +∞), and the hi/lo reconstruction hi·2^32 + lo
    assumes non-negative products — Spark's truncating ``div`` and
    two's-complement ``& 0xffffffff`` both break it for negatives.
    True for TPC-H qty/price by generator contract; a telemetry
    corpus with signed values must use the decimal twin (below).

    Overflow bounds at ×100 (60M rows; qty ≤ 50 → ux ≤ 5e5, price ≤
    105k → uy ≤ 1.05e9), worst case per term: per-row pyy = uy² ≤
    1.11e18 (8.4× long margin); Σlo < rows·2^32 vs decimal(18,0) →
    rows/group < ~2.3e8; Σhi(yy) ≤ rows·uy²/2^32 ≈ rows·2.6e8 vs
    decimal(17,0) → rows/group < ~3.9e8; Σuy ≤ rows·1.05e9 vs
    decimal(18,0) → rows/group < ~9.5e8; Σux vs decimal(15,0) →
    rows/group < ~2e9. Binding bound: the Σlo decimal(18,0) cast at
    **rows/group < ~2.3e8** — 11× above ×100. The sux/suy casts were
    widened to 15,0/18,0 in r15 so that they sit past this Σlo bound;
    they still bind before their own long-sum wraps (suy's cast at
    ~9.5e8 rows vs its long sum at ~8.8e9). The hi casts cannot widen
    past 17,0 without pushing the reconstruction over precision 38.
    PAST the bound this form is wrong-by-construction: Spark 4.1 ANSI
    throws on the wrap (with ANSI off it would silently corrupt).

    Dispatch: the lineitem parquet footer count (metadata only, no
    Spark job) picks the form. At or above
    ``_CORR_COV_UNITS_MAX_ROWS`` total rows — an upper bound on every
    group's rows — or when the footers cannot be read (e.g. an
    object-store path), the plan is ``_corr_cov_decimal_twin``:
    the decimal power-sum form, identical output (equality-pinned), no
    row bound, ~4.7× slower per ×100 A/B. Below it, the long-unit
    form (the driver and bench corpora are 11×+ under the bound).

    Isolated-process ×100 A/B (fresh process per form, 5 hot runs, 2
    epochs): units 0.890/0.810 s vs decimal 3.873/4.163 s vs DuckDB
    2.810/2.370 s — ~4.7× faster, 0.32–0.34× vs the oracle (was
    1.61×). The decimal power-sum form stays as
    ``_corr_cov_decimal_twin``, equality-pinned (driver corpus +
    synthesized edge corpus)."""
    nrows = parquet_nrows(sf_dir, "lineitem")
    if nrows is None or nrows >= _CORR_COV_UNITS_MAX_ROWS:
        return _corr_cov_decimal_twin(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    ux = F.floor(F.col("l_quantity") * 10000 + F.lit(0.5)).cast("long")
    uy = F.floor(F.col("l_extendedprice") * 10000 + F.lit(0.5)).cast("long")
    t = li.select(F.col("l_returnflag"), ux.alias("ux"), uy.alias("uy")).select(
        "l_returnflag",
        "ux",
        "uy",
        (F.col("ux") * F.col("ux")).alias("pxx"),
        (F.col("uy") * F.col("uy")).alias("pyy"),
        (F.col("ux") * F.col("uy")).alias("pxy"),
    )
    m = F.lit(4294967295)
    sums = t.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ux").alias("sux"),
        F.sum("uy").alias("suy"),
        F.sum(F.expr("pxx div 4294967296")).alias("hxx"),
        F.sum(F.col("pxx").bitwiseAND(m)).alias("lxx"),
        F.sum(F.expr("pyy div 4294967296")).alias("hyy"),
        F.sum(F.col("pyy").bitwiseAND(m)).alias("lyy"),
        F.sum(F.expr("pxy div 4294967296")).alias("hxy"),
        F.sum(F.col("pxy").bitwiseAND(m)).alias("lxy"),
    )
    two32 = F.expr("CAST(4294967296 AS DECIMAL(10,0))")
    cent8 = F.expr("CAST(0.00000001 AS DECIMAL(8,8))")  # units² → value
    cent4 = F.expr("CAST(0.0001 AS DECIMAL(4,4))")  # units → value

    def rec8(h: str, l: str) -> Column:
        # decimal(17,0)·(10,0) → (28,0); + (18,0) → (29,0); ·(8,8) →
        # (38,8): all exact, precision never exceeds 38.
        s = F.col(h).cast("decimal(17,0)") * two32 + F.col(l).cast("decimal(18,0)")
        return (s * cent8).cast("double")

    return _corr_tail(
        sums,
        # r15 (ADVICE): widened from (14,0)/(17,0) so the Σlo cast —
        # not these — is the binding bound; ×cent4 keeps precision
        # ≤ 38 ((15,0)→(20,4), (18,0)→(23,4)).
        sx=(F.col("sux").cast("decimal(15,0)") * cent4).cast("double"),
        sy=(F.col("suy").cast("decimal(18,0)") * cent4).cast("double"),
        sxx=rec8("hxx", "lxx"),
        syy=rec8("hyy", "lyy"),
        sxy=rec8("hxy", "lxy"),
    )


def _corr_cov_decimal_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 decimal power-sum form: ``agg_corr_cov``'s plan at
    or past ``_CORR_COV_UNITS_MAX_ROWS`` and the cross-form equality
    witness for the long-unit plan (isolated ×100 epochs: decimal
    3.873/4.163 s vs units 0.890/0.810 s). Both forms
    feed the same exact sum VALUES — Σux/1e4 as decimal — into the
    shared ``_corr_tail``, so every output bit matches."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,4)")
    y = F.col("l_extendedprice").cast("decimal(18,4)")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    return _corr_tail(
        sums,
        sx=F.col("sx").cast("double"),
        sy=F.col("sy").cast("double"),
        sxx=F.col("sxx").cast("double"),
        syy=F.col("syy").cast("double"),
        sxy=F.col("sxy").cast("double"),
    )


def _corr_tail(
    sums: DataFrame,
    sx: Column,
    sy: Column,
    sxx: Column,
    syy: Column,
    sxy: Column,
) -> DataFrame:
    """Shared output tail: the exact→double power sums feed one IEEE
    expression + ROUND, identical across both forms and the DuckDB
    oracle."""
    nd = F.col("n").cast("double")
    cov_num = sxy - sx * sy / nd
    return sums.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.round(
            (nd * sxy - sx * sy)
            / (F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
        F.round(cov_num / nd, 4).alias("covar_pop"),
        # nullif guard on (n-1): a 1-row group must yield NULL on BOTH
        # engines — Spark's non-ANSI x/0 is NULL but DuckDB's IEEE
        # double division gives ±inf/NaN (same divergence class fixed
        # in evt_time_weighted_avg)
        F.round(
            cov_num / F.nullif((F.col("n") - F.lit(1)).cast("double"), F.lit(0.0)), 4
        ).alias("covar_samp"),
    )


# ---------------------------------------------------------------------------
# agg_hll_deterministic — cross-engine-deterministic HyperLogLog sketch
# ---------------------------------------------------------------------------

# Register rho (leading-zero-run length + 1) of the 60-bit hash tail,
# derived PURELY from the md5 hex string with TRIM/length/substr/CASE
# — shared verbatim between the Spark expression and the DuckDB
# oracle so both engines compute identical integers (no engine-
# specific bit intrinsics). An all-zero tail scores the sentinel 61.
_HLL_RHO = (
    "CAST(CASE WHEN TRIM(LEADING '0' FROM {t}) = '' THEN 61 "
    "ELSE (15 - length(TRIM(LEADING '0' FROM {t}))) * 4 "
    "+ CASE substr(TRIM(LEADING '0' FROM {t}), 1, 1) "
    "WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2 "
    "WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1 "
    "ELSE 0 END + 1 END AS INT)"
)

# Raw HLL estimator alpha_256 * m^2 / sum(2^-M_j), algebraically
# rescaled by 2^61 so every harmonic term 2^(61-M) is an EXACT
# bigint (shiftleft — POWER's double round-trips through a decimal
# cast differently per engine and was measured 2 ulp off); the sum
# accumulates in DECIMAL(38,0) (256 * 2^61 < 10^38, order-free) and
# is surfaced as the deterministic DOUBLE both engines derive from
# the same exact integer. One double division, identical both sides.
_HLL_EST = (
    "ROUND(0.7213e0 / (1e0 + 1.079e0 / 256e0) * 65536e0 "
    "* 2305843009213693952e0 / s_scaled, 4)"
)

# term: exact bigint 2^(61-m), then exact decimal accumulate; the
# shift spelling differs per engine (shiftleft vs <<) but both are
# integer-exact so no shared-fragment requirement.
_HLL_TERM_SPARK = "CAST(shiftleft(CAST(1 AS BIGINT), 61 - m) AS DECIMAL(38,0))"
_HLL_TERM_DUCK = "CAST((CAST(1 AS BIGINT) << (61 - m)) AS DECIMAL(38,0))"


@query(
    "agg_hll_deterministic",
    oracle="""
    WITH h AS (
      SELECT md5(CAST(o_custkey AS VARCHAR)) AS h FROM orders
    ), parts AS (
      SELECT CAST('0x' || substr(h, 1, 2) AS BIGINT) AS reg,
             substr(h, 3, 15) AS tail
      FROM h
    ), rho AS (
      SELECT reg, {rho} AS rho FROM parts
    ), regs AS (
      SELECT s.reg, COALESCE(MAX(r.rho), 0) AS m
      FROM range(256) s(reg) LEFT JOIN rho r ON r.reg = s.reg
      GROUP BY s.reg
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m_regs,
             CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS v_empty,
             MAX(m) AS r_max,
             CAST(SUM({term}) AS DOUBLE) AS s_scaled
      FROM regs
    )
    SELECT m_regs, v_empty, r_max, s_scaled, {est} AS est_r4 FROM agg
    """.format(
        rho=_HLL_RHO.format(t="tail"),
        est=_HLL_EST,
        term=_HLL_TERM_DUCK,
    ),
)
def agg_hll_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch that is hash-checkable ACROSS
    ENGINES — the deterministic twin of `agg_approx_distinct` (which
    stays rows-only because Spark's HLL++ and DuckDB's HLL use
    different hash functions). Every stage here is engine-neutral SQL:
    md5 (same bytes hashed on both sides), register = first 2 hex
    chars, rho = leading-zero run of the next 60 bits computed by
    string inspection (`_HLL_RHO`, shared verbatim), harmonic sum
    rescaled to an exact DECIMAL(38,0), and ONE double division for
    the raw estimate (no small/large-range correction — documented,
    identical formula both engines). Estimate at sf0.01: 1453.8 vs
    1500 true (within the m=256 ~6.5% standard error).

    Scale shape — this is the 100 TB distinct-count plan: NO distinct
    exchange at all. The scan maps each row to (register, rho) in
    codegen; `groupBy(reg).max` is map-side combinable, so the only
    shuffle carries <=256*n_partitions tiny rows regardless of input
    size (vs `distinct`'s full-width repartition of every unique
    key). Registers are MERGEABLE state: max-combine across
    partitions, shards, or days — the property that lets a cluster
    keep per-file sketches and union them for free. The 256-row spine
    join and final 1-row aggregate are negligible."""
    orders = load(spark, sf_dir, "orders")
    parts = orders.select(
        F.md5(F.col("o_custkey").cast("string")).alias("h")
    ).select(
        F.conv(F.substring("h", 1, 2), 16, 10).cast("bigint").alias("reg"),
        F.substring("h", 3, 15).alias("tail"),
    )
    rho = parts.select("reg", F.expr(_HLL_RHO.format(t="tail")).alias("rho"))
    regs = rho.groupBy("reg").agg(F.max("rho").alias("m_raw"))
    spine = spark.range(256).select(F.col("id").alias("reg"))
    full = spine.join(regs, "reg", "left").select(
        F.coalesce("m_raw", F.lit(0)).alias("m")
    )
    return full.agg(
        F.count(F.lit(1)).alias("m_regs"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).alias("v_empty"),
        F.max("m").alias("r_max"),
        F.sum(F.expr(_HLL_TERM_SPARK)).cast("double").alias("s_scaled"),
    ).select(
        "m_regs", "v_empty", "r_max", "s_scaled", F.expr(_HLL_EST).alias("est_r4")
    )


# ---------------------------------------------------------------------------
# agg_cms_heavy_hitters — deterministic Count-Min sketch frequency estimates
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_PROBES = 8  # probe keys 0..7

# Column index of key {k} in hash row {d}: 12 bits of md5 ("row:key")
# folded to the 1024 columns per row. Integer-exact on both engines; only the
# hex->int spelling differs (conv vs '0x' cast), values identical.
_CMS_COL_SPARK = (
    "(CAST(conv(substr(md5(CAST({d} AS STRING) || ':' || "
    "CAST({k} AS STRING)), 1, 3), 16, 10) AS INT) % 1024)"
)
_CMS_COL_DUCK = (
    "(CAST('0x' || substr(md5(CAST({d} AS VARCHAR) || ':' || "
    "CAST({k} AS VARCHAR)), 1, 3) AS INT) % 1024)"
)


@query(
    "agg_cms_heavy_hitters",
    oracle="""
    WITH cells AS (
      SELECT d.d, {col_k} AS c, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events e CROSS JOIN range(4) d(d)
      GROUP BY d.d, {col_k}
    ), probes AS (
      SELECT p.probe_id, d.d, {col_p} AS c
      FROM range(8) p(probe_id) CROSS JOIN range(4) d(d)
    ), est AS (
      SELECT p.probe_id, MIN(COALESCE(cl.cnt, 0)) AS est_cnt
      FROM probes p LEFT JOIN cells cl ON cl.d = p.d AND cl.c = p.c
      GROUP BY p.probe_id
    ), truth AS (
      SELECT user_id AS probe_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM events WHERE user_id BETWEEN 0 AND 7 GROUP BY user_id
    )
    SELECT e.probe_id, e.est_cnt, COALESCE(t.true_cnt, 0) AS true_cnt
    FROM est e LEFT JOIN truth t ON t.probe_id = e.probe_id
    """.format(
        col_k=_CMS_COL_DUCK.format(d="d.d", k="e.user_id"),
        col_p=_CMS_COL_DUCK.format(d="d.d", k="p.probe_id"),
    ),
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation, deterministic across
    engines (the second mergeable sketch next to
    `agg_hll_deterministic`): 4 hash rows x 1024 columns, cell index
    from md5("row:key") — every count is exact integer arithmetic, so
    Spark and DuckDB agree bit-for-bit with no FP hazard at all. The
    probe report returns est >= true by construction (CM never
    under-counts); the oracle rebuilds the identical sketch in SQL.

    Scale shape — frequency estimates over an unbounded key space
    with BOUNDED state: the scan fans each row to its 4 (row, col)
    cells map-side (array explode, in-stage), and the ONLY data
    shuffle is the combinable groupBy over <= 4096 cells — fixed
    size at any input scale, vs an exact per-key count whose state
    grows with distinct keys. Cells are MERGEABLE (sum-combine across
    partitions/shards/days). Probe estimation joins the 8x4 probe
    spine against the 4096-cell sketch — both broadcast-trivial. The
    exact `truth` branch scans only the probe keys (predicate pushed
    to parquet) to report estimation error; a production sketch
    would skip it."""
    events = load(spark, sf_dir, "events")
    cell_structs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.expr(_CMS_COL_SPARK.format(d=d, k="user_id")).alias("c"),
            )
            for d in range(_CMS_D)
        ]
    )
    cells = (
        events.select(F.explode(cell_structs).alias("x"))
        .groupBy(F.col("x.d").alias("d"), F.col("x.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probes = (
        spark.range(_CMS_PROBES)
        .select(F.col("id").alias("probe_id"))
        .select(
            "probe_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.expr(
                                _CMS_COL_SPARK.format(d=d, k="probe_id")
                            ).alias("c"),
                        )
                        for d in range(_CMS_D)
                    ]
                )
            ).alias("x"),
        )
        .select("probe_id", F.col("x.d").alias("d"), F.col("x.c").alias("c"))
    )
    est = (
        probes.join(cells, ["d", "c"], "left")
        .select("probe_id", F.coalesce("cnt", F.lit(0)).alias("cell_cnt"))
        .groupBy("probe_id")
        .agg(F.min("cell_cnt").alias("est_cnt"))
    )
    truth = (
        events.where(F.col("user_id").between(0, 7))
        .groupBy(F.col("user_id").alias("probe_id"))
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    return est.join(truth, "probe_id", "left").select(
        "probe_id",
        "est_cnt",
        F.coalesce("true_cnt", F.lit(0)).alias("true_cnt"),
    )


# ---------------------------------------------------------------------------
# agg_quantile_sketch — deterministic mergeable quantile sketch
# ---------------------------------------------------------------------------

_QSK_W = 215.0  # bucket width; 512 buckets cover [0, 110080) ⊇ price range
_QSK_NB = 512
_QSK_QS = (0.5, 0.9, 0.99, 0.999)


@query(
    "agg_quantile_sketch",
    oracle=f"""
    WITH buckets AS (
      SELECT CAST(LEAST(FLOOR(l_extendedprice / {_QSK_W}e0), {_QSK_NB - 1}) AS INTEGER) AS b,
             CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM lineitem
      GROUP BY 1
    ), cum AS (
      SELECT b, cnt,
             CAST(SUM(cnt) OVER (ORDER BY b) AS DOUBLE) AS cum,
             CAST(SUM(cnt) OVER () AS DOUBLE) AS n
      FROM buckets
    ), qs(q) AS (VALUES {', '.join(f'({q}e0)' for q in _QSK_QS)})
    SELECT q,
           ROUND(b * {_QSK_W}e0 + (q * n - (cum - cnt)) / cnt * {_QSK_W}e0, 4)
             AS est_value,
           CAST(n AS BIGINT) AS n_rows
    FROM cum CROSS JOIN qs
    WHERE cum >= q * n AND (cum - cnt) < q * n
    """,
)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MERGEABLE quantile sketch (the third member of
    the sketch family beside agg_hll_deterministic and
    agg_cms_heavy_hitters): fixed 512-bucket equi-width histogram
    over l_extendedprice, quantile estimates by linear interpolation
    inside the straddling bucket — the histogram-sketch design
    production systems use when percentile_approx's engine-specific
    sketch (cf. rows-only agg_approx_distinct) can't be
    cross-checked. Bucket counts are pure integer state that
    SUM-combines across partitions/shards/days; estimate error is
    bounded by the bucket width.

    Equi-width (not DDSketch log-buckets) on purpose: the bucket
    index is floor(x/w) — an identical IEEE expression tree on both
    engines, bit-identical everywhere — while log-bucketing's
    floor(ln x/ln γ) inherits the cross-engine ln() last-ulp hazard
    (the dq_psi_drift precedent). At 100 TB: ONE combinable agg
    exchange carrying ≤512·n_partitions slim rows; the cumsum/
    interpolation windows touch ≤512 rows (the single-partition
    window is bounded state, not corpus state). All interpolation
    arithmetic is DOUBLE on both engines (DuckDB SUM(BIGINT) would
    be HUGEINT — the house cast rule)."""
    li = load(spark, sf_dir, "lineitem")
    b = F.least(
        F.floor(F.col("l_extendedprice") / F.lit(_QSK_W)), F.lit(_QSK_NB - 1)
    ).cast("int")
    buckets = li.groupBy(b.alias("b")).agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    w_cum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = buckets.select(
        "b",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    qs = spark.createDataFrame([(q,) for q in _QSK_QS], "q double")
    rank = F.col("q") * F.col("n")
    prev = F.col("cum") - F.col("cnt")
    return (
        cum.crossJoin(F.broadcast(qs))
        .where((F.col("cum") >= rank) & (prev < rank))
        .select(
            "q",
            F.round(
                F.col("b") * F.lit(_QSK_W) + (rank - prev) / F.col("cnt") * F.lit(_QSK_W),
                4,
            ).alias("est_value"),
            F.col("n").cast("bigint").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# agg_bloom_membership — deterministic mergeable Bloom membership sketch
# ---------------------------------------------------------------------------

_BLM_M = 262144  # bits (2^18); kn/m ≈ 0.23 at sf0.1 → FP ≈ 0.2%
_BLM_K = 4  # hash functions

# shared md5 bit-position fragment (house pattern: md5 of the string
# key is byte-identical across engines; the 15-hex-digit prefix is a
# 60-bit non-negative int on both)
_BLM_POS_SQL = (
    "CAST('0x' || substr(md5(CAST({key} AS VARCHAR) || ':' || CAST({i} AS VARCHAR)), 1, 15)"
    f" AS BIGINT) % {_BLM_M}"
)


@query(
    "agg_bloom_membership",
    oracle=f"""
    WITH keys AS (
      SELECT DISTINCT o_custkey AS k FROM orders
    ), bits AS (
      SELECT DISTINCT {_BLM_POS_SQL.format(key="k", i="i")} AS pos
      FROM keys, range(0, {_BLM_K}) t(i)
    ), bounds AS (
      SELECT MIN(o_custkey) AS mn, MAX(o_custkey) AS mx FROM orders
    ), probes AS (
      SELECT probe_label, probe_key, actual FROM bounds, LATERAL (VALUES
        ('present_min', mn, 1), ('present_max', mx, 1),
        ('absent_below', mn - 1, 0), ('absent_above', mx + 1, 0),
        ('absent_neg7', CAST(-7 AS BIGINT), 0), ('absent_neg13', CAST(-13 AS BIGINT), 0)
      ) v(probe_label, probe_key, actual)
    ), probe_bits AS (
      SELECT probe_label, probe_key, actual,
             {_BLM_POS_SQL.format(key="probe_key", i="i")} AS pos
      FROM probes, range(0, {_BLM_K}) t(i)
    ), hits AS (
      SELECT probe_label, probe_key, actual,
             COUNT(bits.pos) AS n_hit
      FROM probe_bits LEFT JOIN bits USING (pos)
      GROUP BY 1, 2, 3
    )
    SELECT probe_label, probe_key,
           CAST(actual AS INTEGER) AS actual,
           CAST(CASE WHEN n_hit = {_BLM_K} THEN 1 ELSE 0 END AS INTEGER) AS claimed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_set_bits
    FROM hits
    """,
)
def agg_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable BLOOM membership sketch — the fourth
    sketch-family member (HLL = distinct, CMS = frequency, histogram
    = quantiles, Bloom = membership): every o_custkey sets K=4 bit
    positions derived from md5 (the cross-engine-deterministic house
    hash); a probe is CLAIMED present iff all its K positions are
    set. Probes are constructed so ground truth is analytic (min/max
    exist by definition; min-1, max+1 and negatives cannot), letting
    the report show claimed-vs-actual — the one-sided Bloom error
    (false positives possible, false negatives impossible).

    Scale shape: the bit set is bounded state (≤m = 262144 slim
    rows, reached after ONE map-side-combinable distinct exchange);
    it OR-merges across partitions/shards/days like the other
    sketches (union + distinct ≡ bitwise OR). Probe evaluation
    touches K·n_probes = 24 rows. The 100 TB use is the classic
    pre-join/existence filter: ship the ≤32 KB bitmap, not the key
    set."""
    orders = load(spark, sf_dir, "orders")

    def pos(key_col, i):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(key_col.cast("string"), F.lit(f":{i}"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % _BLM_M
        )

    keys = orders.select(F.col("o_custkey").alias("k")).distinct()
    bits = (
        keys.select(
            F.explode(F.array(*[pos(F.col("k"), i) for i in range(_BLM_K)])).alias(
                "pos"
            )
        )
        .distinct()
    )
    bounds = orders.agg(
        F.min("o_custkey").alias("mn"), F.max("o_custkey").alias("mx")
    )
    probes = bounds.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("present_min").alias("probe_label"),
                    F.col("mn").alias("probe_key"),
                    F.lit(1).alias("actual"),
                ),
                F.struct(
                    F.lit("present_max").alias("probe_label"),
                    F.col("mx").alias("probe_key"),
                    F.lit(1).alias("actual"),
                ),
                F.struct(
                    F.lit("absent_below").alias("probe_label"),
                    (F.col("mn") - 1).alias("probe_key"),
                    F.lit(0).alias("actual"),
                ),
                F.struct(
                    F.lit("absent_above").alias("probe_label"),
                    (F.col("mx") + 1).alias("probe_key"),
                    F.lit(0).alias("actual"),
                ),
                F.struct(
                    F.lit("absent_neg7").alias("probe_label"),
                    F.lit(-7).cast("long").alias("probe_key"),
                    F.lit(0).alias("actual"),
                ),
                F.struct(
                    F.lit("absent_neg13").alias("probe_label"),
                    F.lit(-13).cast("long").alias("probe_key"),
                    F.lit(0).alias("actual"),
                ),
            )
        ).alias("p")
    ).select("p.probe_label", "p.probe_key", "p.actual")
    probe_bits = probes.select(
        "probe_label",
        "probe_key",
        "actual",
        F.explode(
            F.array(*[pos(F.col("probe_key"), i) for i in range(_BLM_K)])
        ).alias("pos"),
    )
    # broadcast the RIGHT side of the left join (a left-side hint is
    # ignored for outer joins): the bit set is ≤m slim rows
    hits = (
        probe_bits.join(F.broadcast(bits), "pos", "left")
        .groupBy("probe_label", "probe_key", "actual")
        .agg(F.count(bits["pos"]).alias("n_hit"))
    )
    n_bits = bits.agg(F.count(F.lit(1)).alias("n_set_bits"))
    return (
        hits.crossJoin(F.broadcast(n_bits))
        .select(
            "probe_label",
            "probe_key",
            F.col("actual").cast("int").alias("actual"),
            F.when(F.col("n_hit") == _BLM_K, 1).otherwise(0).cast("int").alias("claimed"),
            "n_set_bits",
        )
    )


# ---------------------------------------------------------------------------
# agg_kmv_theta_sketch — KMV/theta distinct sketch with set operations
# ---------------------------------------------------------------------------

_KMV_K = 64
# 60-bit uniform hash of the key — the house md5 pattern (integer-
# exact both engines; only the hex->int spelling differs).
_KMV_H_SPARK = "CAST(conv(substr(md5(CAST({x} AS STRING)), 1, 15), 16, 10) AS BIGINT)"
_KMV_H_DUCK = "CAST('0x' || substr(md5(CAST({x} AS VARCHAR)), 1, 15) AS BIGINT)"
# KMV estimator on a k-min sample: (k-1) * 2^60 / theta, where theta
# is the k-th smallest hash; exact count when the set is smaller
# than k. Shared verbatim so the one division is the same IEEE op.
_KMV_EST = (
    "CASE WHEN {n} < {k} THEN CAST({n} AS DOUBLE) "
    "ELSE ({k} - 1.0e0) * 1152921504606846976e0 / {theta} END"
)


@query(
    "agg_kmv_theta_sketch",
    oracle=f"""
    WITH tagged AS (
      SELECT DISTINCT
             CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END
               AS cohort,
             o_custkey
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), hashed AS (
      SELECT cohort, o_custkey,
             {_KMV_H_DUCK.format(x="o_custkey")} AS h
      FROM tagged
    ), ranked AS (
      SELECT cohort, h,
             ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY h) AS r
      FROM hashed
    ), sk AS (
      SELECT cohort, h FROM ranked WHERE r <= {_KMV_K}
    ), stats AS (
      SELECT cohort, COUNT(*) AS n_sample, MAX(h) AS theta
      FROM sk GROUP BY cohort
    ), u_ranked AS (
      SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS r
      FROM (SELECT DISTINCT h FROM sk)
    ), u_stats AS (
      SELECT COUNT(*) AS n_sample, MAX(h) AS theta
      FROM u_ranked WHERE r <= {_KMV_K}
    ), truth AS (
      SELECT COUNT(DISTINCT CASE WHEN cohort = 'a' THEN o_custkey END)
               AS true_a,
             COUNT(DISTINCT CASE WHEN cohort = 'b' THEN o_custkey END)
               AS true_b,
             COUNT(DISTINCT o_custkey) AS true_union
      FROM tagged
    )
    SELECT CAST({_KMV_K} AS INT) AS k,
           CAST(t.true_a AS BIGINT) AS true_a,
           CAST(t.true_b AS BIGINT) AS true_b,
           CAST(t.true_union AS BIGINT) AS true_union,
           ROUND({_KMV_EST.format(n="sa.n_sample", theta="sa.theta", k=_KMV_K)}, 4)
             AS est_a,
           ROUND({_KMV_EST.format(n="sb.n_sample", theta="sb.theta", k=_KMV_K)}, 4)
             AS est_b,
           ROUND({_KMV_EST.format(n="su.n_sample", theta="su.theta", k=_KMV_K)}, 4)
             AS est_union,
           ROUND({_KMV_EST.format(n="sa.n_sample", theta="sa.theta", k=_KMV_K)}
                 + {_KMV_EST.format(n="sb.n_sample", theta="sb.theta", k=_KMV_K)}
                 - {_KMV_EST.format(n="su.n_sample", theta="su.theta", k=_KMV_K)}, 4)
             AS est_intersect
    FROM (SELECT * FROM stats WHERE cohort = 'a') sa
    CROSS JOIN (SELECT * FROM stats WHERE cohort = 'b') sb
    CROSS JOIN u_stats su
    CROSS JOIN truth t
    """,
)
def agg_kmv_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) / theta distinct sketch with SET
    OPERATIONS — fifth mergeable-sketch family member (HLL distinct /
    CMS frequency / histogram quantiles / Bloom membership / KMV
    set-algebra) and the one capability HLL lacks: because the sketch
    IS a uniform sample of the hash space, sketches compose under
    union (merge samples, keep k smallest) and intersection
    (inclusion-exclusion), giving cross-cohort overlap estimates
    without a distinct-pair shuffle ([P med]: theta sketches are the
    standard audience-overlap machinery).

    Cohorts: customers with 1-URGENT orders (a) vs 5-LOW orders (b).
    h = 60-bit md5 of the key; sketch = k=64 smallest distinct h per
    cohort; est = (k-1)*2^60/theta (exact count when |set| < k);
    union sketch = k smallest of the merged samples; intersection by
    inclusion-exclusion. true_* columns are the verification twin
    (the CMS probe-truth posture) — at 100 TB you'd drop them; the
    sketch path itself never shuffles more than k rows per cohort
    after the distinct.

    Exactness: hashes and thetas are exact integers; each estimate is
    ONE shared-verbatim IEEE division (ROUND 4 on both engines);
    inclusion-exclusion composes three such — same tree, bit-
    identical. Plan shape: distinct on (cohort, custkey) -> ONE
    window exchange on cohort (k-min selection; at scale this is a
    top-k-per-group TakeOrdered, not a full sort) -> <=2k slim rows
    drive everything downstream."""
    o = load(spark, sf_dir, "orders")
    tagged = (
        o.where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", "a")
            .otherwise("b")
            .alias("cohort"),
            "o_custkey",
        )
        .distinct()
    )
    hashed = tagged.select(
        "cohort", "o_custkey", F.expr(_KMV_H_SPARK.format(x="o_custkey")).alias("h")
    ).cache()
    w = Window.partitionBy("cohort").orderBy("h")
    sk = (
        hashed.select("cohort", "h", F.row_number().over(w).alias("r"))
        .where(F.col("r") <= _KMV_K)
        .cache()
    )
    stats = sk.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_sample"), F.max("h").alias("theta")
    )
    wu = Window.orderBy("h")
    u_stats = (
        sk.select("h")
        .distinct()
        .select("h", F.row_number().over(wu).alias("r"))
        .where(F.col("r") <= _KMV_K)
        .agg(F.count(F.lit(1)).alias("n_sample"), F.max("h").alias("theta"))
    )
    truth = tagged.agg(
        F.countDistinct(
            F.when(F.col("cohort") == "a", F.col("o_custkey"))
        ).alias("true_a"),
        F.countDistinct(
            F.when(F.col("cohort") == "b", F.col("o_custkey"))
        ).alias("true_b"),
        F.countDistinct("o_custkey").alias("true_union"),
    )
    sa = stats.where(F.col("cohort") == "a").select(
        F.col("n_sample").alias("na"), F.col("theta").alias("ta")
    )
    sb = stats.where(F.col("cohort") == "b").select(
        F.col("n_sample").alias("nb"), F.col("theta").alias("tb")
    )
    su = u_stats.select(
        F.col("n_sample").alias("nu"), F.col("theta").alias("tu")
    )
    est = lambda n, t: F.expr(  # noqa: E731
        _KMV_EST.format(n=n, theta=t, k=_KMV_K)
    )
    return (
        sa.crossJoin(sb)
        .crossJoin(su)
        .crossJoin(truth)
        .select(
            F.lit(_KMV_K).cast("int").alias("k"),
            "true_a",
            "true_b",
            "true_union",
            F.round(est("na", "ta"), 4).alias("est_a"),
            F.round(est("nb", "tb"), 4).alias("est_b"),
            F.round(est("nu", "tu"), 4).alias("est_union"),
            F.round(
                est("na", "ta") + est("nb", "tb") - est("nu", "tu"), 4
            ).alias("est_intersect"),
        )
    )


# ---------------------------------------------------------------------------
# agg_mode — deterministic per-group mode
# ---------------------------------------------------------------------------


@query(
    "agg_mode",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_orderpriority
        ORDER BY n DESC, o_orderstatus) AS rk
      FROM c
    )
    SELECT o_orderpriority, o_orderstatus AS mode_status,
           CAST(n AS BIGINT) AS mode_n
    FROM r WHERE rk = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC mode (most frequent value) per group — the
    categorical summary statistic ([P med]: modal vehicle type /
    status per region is a standard fleet report). Both engines have
    a native mode() whose TIE-BREAK IS ENGINE-DEFINED, so the house
    form makes the tie-break part of the declared semantics:
    rank by (count DESC, value ASC) and keep rank 1 — bit-identical
    everywhere, retry-stable.

    Plan shape: combinable (group, value) count (map-side partials
    absorb the categorical head), then a window over the tiny
    (group, value) summary — the second exchange moves |groups| ×
    |domain| rows, thousands at any input scale, never raw data.
    At 100 TB this is the only safe mode shape: a native mode() over
    a skewed group would still need the same pair count underneath."""
    c = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("n").desc(), F.col("o_orderstatus")
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            F.col("n").alias("mode_n"),
        )
    )


# ---------------------------------------------------------------------------
# agg_weighted_avg — exact weighted mean as a ratio of DECIMAL sums
# ---------------------------------------------------------------------------


@query(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_qty,
           ROUND(CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                          * CAST(floor(l_quantity + 0.5) AS BIGINT)) AS DOUBLE)
                 / (100.0 * CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT))
                                 AS DOUBLE)), 4)
             AS w_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per return flag — the exact
    ratio-of-sums form ([P med]: weighted KPIs are the first thing a
    fleet dashboard derives from trip aggregates; AVG() over a
    pre-joined fact double-counts unless weighted).

    Exactness via the INTEGER core (not decimal×decimal — the ×100
    rehearsal measured the per-row decimal multiply form at 2.3×
    DuckDB; this form is the fix): price lifts to integer cents and
    the integral quantity to long through shared floor(x+0.5) trees
    (testdata precondition: qty integral, price 2-decimal — asserted
    in tests), the per-row product stays in LONG codegen (≤5e8),
    and only the numerator ACCUMULATOR is DECIMAL(38) — order-free
    exact and overflow-proof at 100 TB row counts, where Σ p·q ~
    2e20 exceeds int64. One shared double division + ROUND at the
    boundary. Plan shape: single combinable groupBy over a 3-value
    flag domain; scan-bound at 100 TB."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.floor(F.col("l_quantity") + 0.5).cast("long")
    pc2 = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    num = F.sum((pc2 * qty).cast("decimal(38,0)"))
    den = F.sum(qty)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        den.alias("sum_qty"),
        F.round(
            num.cast("double") / (100.0 * den.cast("double")), 4
        ).alias("w_avg_price"),
    )


# ---------------------------------------------------------------------------
# agg_gini — exact Gini concentration coefficient
# ---------------------------------------------------------------------------


@query(
    "agg_gini",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),
                        o_orderkey) AS i
      FROM orders
    ), s AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sum_cents,
             SUM(i * cents) AS s2
      FROM c GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n, sum_cents,
           ROUND((2.0 * CAST(s2 AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sum_cents AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
    FROM s
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini concentration coefficient of order value per
    priority class — the inequality summary ([P med]: "is fleet
    revenue concentrated in few trips/devices?" is a standard ops
    question; Gini is its canonical statistic). Computed by the
    rank formula G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over ascending
    values — Σ i·xᵢ is invariant under tie permutations (equal x
    share the rank-block sum regardless of assignment), which is
    exactly what makes the HISTOGRAM form below legal.

    r14 registered plan — rank-block histogram, no per-row rank:
    the pre-r14 form ranked every row with a window partitioned by
    the 5 priority classes (parallelism 5, a full per-group sort of
    the whole fact — the evt_outlier_mad disease). But the value
    domain ≪ rows (~150k distinct cents vs 3M rows/group at ×100),
    so the same Σ i·xᵢ falls out of the (priority, cents) histogram:
    a tie block of c rows at cumulative offset C occupies ranks
    C+1..C+c, whose exact rank sum is c·C + c(c+1)/2, giving
    Σ i·xᵢ = Σ_cells cents·(c·C + c(c+1)/2). The map-side-combinable
    histogram groupBy replaces the row shuffle, and the only sort
    left is over cells (~20× fewer rows per group). Isolated-process
    ×100 A/B (fresh process per form, 5 hot runs, 2 epochs):
    hist 2.444/2.433 s vs rank 10.758/9.681 s vs DuckDB
    8.054/7.231 s — ~4× faster, 0.30–0.34× vs the oracle. The rank
    form stays as ``_gini_rank_twin``, equality-pinned (driver
    corpus + synthetic tie-block corpus).

    Exactness: values lift to integer cents via the shared
    floor(x·100+0.5) tree (hazard: bare double→int CAST rounds in
    DuckDB, truncates in Spark); the block rank sum c·C + c(c+1)/2
    is long-exact (c, C ≤ rowcount; products ≤ n² ≈ 2.3e14 at ×100,
    far under 2^63, and c(c+1) is always even so ``div 2`` is
    exact), lifted to DECIMAL(38) BEFORE the ×cents product exactly
    as the twin lifts i — identical integer s2, identical 6-op
    shared IEEE tail + ROUND 6."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    cells = o.groupBy("o_orderpriority", "cents").agg(
        F.count(F.lit(1)).alias("c")
    )
    # cumulative rows BEFORE this cell in (cents asc) order — cells
    # are unique per (priority, cents) so no tie-frame ambiguity
    wc = (
        Window.partitionBy("o_orderpriority")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = cells.withColumn("cbefore", F.coalesce(F.sum("c").over(wc), F.lit(0)))
    block = (
        F.col("c") * F.col("cbefore") + F.expr("(c * (c + 1)) div 2")
    ).cast("decimal(38,0)")
    s = cum.groupBy("o_orderpriority").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("cents")).alias("sum_cents"),
        F.sum(block * F.col("cents")).alias("s2"),
    )
    return _gini_tail(s)


def _gini_rank_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 per-row window-rank form, kept as the cross-form
    equality witness for the registered histogram plan (isolated
    ×100 epochs: rank 10.758/9.681 s vs hist 2.444/2.433 s). The
    declared (cents, orderkey) order makes the per-row ranking fully
    deterministic, and Σ i·xᵢ is tie-permutation invariant, so both
    forms compute the same exact DECIMAL s2."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    c = o.withColumn("i", F.row_number().over(w))
    s = c.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).alias("s2"),
    )
    return _gini_tail(s)


def _gini_tail(s: DataFrame) -> DataFrame:
    """Shared output tail: the ONE exact→double cast + 6-op IEEE
    Gini expression + ROUND 6, identical across both forms and the
    DuckDB oracle."""
    nd = F.col("n").cast("double")
    return s.select(
        "o_orderpriority",
        "n",
        "sum_cents",
        F.round(
            (2.0 * F.col("s2").cast("double")) / (nd * F.col("sum_cents").cast("double"))
            - (nd + 1.0) / nd,
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# agg_listagg — ordered LISTAGG ... WITHIN GROUP (Spark 4.0)
# ---------------------------------------------------------------------------


@query(
    "agg_listagg",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — `LISTAGG(x, d) WITHIN GROUP
    (ORDER BY x)` (Spark 4.0; DuckDB spells it string_agg … ORDER
    BY): the canonical "render the group as a delimited list"
    reporting operator. WITHIN GROUP makes the concatenation order
    part of the SEMANTICS (an unordered listagg would be
    partitioning-dependent and could never hash-check) — the key
    pins exactly that determinism guarantee cross-engine.

    Scale posture: holistic in the group's OWN content (the state is
    the concatenated string), so it belongs on bounded-cardinality
    groups — here nations-per-region (≤25 rows each) after a
    broadcast-sized dim join. For unbounded groups the right form is
    the capped collect (agg_collect_sorted's slice) — the operator's
    documented misuse is listagg over raw fact rows."""
    view = f"nr_listagg_{_uuid.uuid4().hex[:8]}"
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).createOrReplaceTempView(view)
    out = spark.sql(f"""
        SELECT r_name,
               LISTAGG(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
               CAST(COUNT(*) AS BIGINT) AS n_nations
        FROM {view}
        GROUP BY r_name
    """)
    spark.catalog.dropTempView(view)
    return out


# ---------------------------------------------------------------------------
# agg_regression — OLS regression aggregates (regr_slope/intercept/r2/count)
# ---------------------------------------------------------------------------


@query(
    "agg_regression",
    oracle="""
    SELECT l_returnflag,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR-REGRESSION aggregates (SQL:2016 `REGR_*`, Spark 3.4+;
    DuckDB spells them identically): per return flag, the OLS slope /
    intercept / R² / pair count of price-on-quantity — the built-in
    single-pass regression family beside agg_corr_cov's corr/covar
    (same moment sums underneath: slope = cov/var, all combinable
    map-side, ONE agg exchange at any scale).

    FP posture: the statistics are RATIOS of large moment sums, so
    cross-engine association-order error is relative (~1e-12) —
    slope/intercept round at 4, R² at 6 (values here ~1e-5, far from
    the rounding boundary). regr_count excludes NULL pairs by
    definition on both engines."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(
            F.regr_intercept("l_extendedprice", "l_quantity"), 4
        ).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n_pairs"),
    )


# ---------------------------------------------------------------------------
# agg_bitmap_distinct — exact distinct via bitmap aggregates (Spark 3.5)
# ---------------------------------------------------------------------------


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-count via BITMAP aggregates (Spark 3.5
    `bitmap_bucket_number` / `bitmap_bit_position` /
    `bitmap_construct_agg` / `bitmap_count`): customers per order
    priority, computed as per-(group, bucket) bitmaps summed per
    group — the engine-native form of the distributed exact-distinct
    bitmap pattern (Roaring-style bucketing: each key maps to a
    32768-bit bucket bitmap; bucket bitmaps OR map-side, so the
    exchange carries AT MOST one 4 KB bitmap per (group, bucket),
    never one row per distinct value). The DuckDB oracle is the
    semantic definition (COUNT(DISTINCT)); the hash check pins the
    bucket/position arithmetic exactly.

    Scale posture vs the WIRED exact-distinct key: agg_distinct_count
    has been a 64-BIT bucket-bitmap since r7 (``div 64`` + ``bit_or``
    masks — NOT Spark's Expand-based countDistinct, which it replaced
    by measurement). Both forms bound the exchange by KEY-SPACE /
    bucket-width rather than distinct cardinality; the bucket size is
    the tradeoff — 32768-bit buckets (this key) waste up to ~32 Kbit
    per sparsely-hit bucket where 64-bit buckets waste at most 63
    bits, so on the replica-offset (maximally sparse) rehearsal
    corpus the 64-bit form wins (1.26x vs 2.59x same-session at
    ×100), while truly DENSE key ranges amortize the bigger bucket's
    fixed cost across more set bits. For unbounded/non-integral keys
    the sketch family (agg_hll_deterministic) takes over. This key
    pins Spark's BUILT-IN bitmap-aggregate surface; the 64-bit form
    stays the wired general default."""
    o = load(spark, sf_dir, "orders")
    per_bucket = (
        o.select(
            "o_orderpriority",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("cnt"))
    )
    return per_bucket.groupBy("o_orderpriority").agg(
        F.sum("cnt").alias("n_custs")
    )


# ---------------------------------------------------------------------------
# agg_grouping_flags — CUBE subtotal disambiguation via GROUPING()
# ---------------------------------------------------------------------------


@query(
    "agg_grouping_flags",
    oracle="""
    SELECT CASE WHEN GROUPING(o_orderstatus)   = 1 THEN 'ALL' ELSE o_orderstatus   END AS status,
           CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
           CAST(GROUPING(o_orderstatus)   AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def agg_grouping_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with ``grouping()`` flags — the subtotal-row
    disambiguator the bare cube lacks: a NULL key cell can mean
    'subtotal over this column' OR 'the data was NULL', and only the
    GROUPING flag tells them apart (pinned here by rendering
    subtotal cells as a non-NULL 'ALL' sentinel keyed off the flag,
    which would collide with data NULLs if the flag lied). SUMs in
    integer cents: the four grouping sets accumulate floats in
    different orders, so a double SUM would be association-order
    FP-noise across engines; cents are exact. Plan: PAIRS-FIRST (the
    agg_cube rewrite, exact for COUNT/integer-SUM): the stream is
    reduced to the ≤|statuses|x|priorities| pair summary by one
    combinable exchange, and the CUBE's Expand x4 runs over that tiny
    summary instead of every row — measured 2.87x naive-cube vs 1.3x
    family after the rewrite at x100 (same A/B as agg_cube's
    2.92x -> 1.32x)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    pairs = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")
    )
    g_s = F.grouping("o_orderstatus").cast("int")
    g_p = F.grouping("o_orderpriority").cast("int")
    return (
        pairs.cube("o_orderstatus", "o_orderpriority")
        .agg(
            g_s.alias("g_status"),
            g_p.alias("g_priority"),
            F.sum("n").alias("n_orders"),
            F.sum("c").alias("total_cents"),
        )
        .select(
            F.when(F.col("g_status") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            F.when(F.col("g_priority") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderpriority"))
            .alias("priority"),
            "g_status",
            "g_priority",
            "n_orders",
            "total_cents",
        )
    )


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
    both engines; native mode() has engine-defined ties). max_by and
    min_by are ordinary declarative aggregates, so the map-side
    partial combine applies and the shuffle carries one row per
    (group, aggregate); the modal sub-aggregate is two combinable
    shuffles on low-cardinality keys, never a sort.

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
