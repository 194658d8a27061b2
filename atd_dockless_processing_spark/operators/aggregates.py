"""Aggregation operators — SURVEY.md §2.4.

All use ``groupBy().agg()`` — Catalyst plans two-phase hash
aggregation (map-side partial + final) automatically, so at 100 TB
the shuffle carries pre-aggregated partials, not raw rows. FP
discipline: every double aggregate is round(x, 4) on both engines
(SURVEY §1.2 item 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load


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


@query(
    "sql_tpch_q6",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 THROUGH THE SQL ENTRY POINT: temp view + spark.sql
    text — demonstrating that the engine's second API surface (SQL)
    compiles to the identical Catalyst plan as the DataFrame calls
    (same pushdown, same codegen). View name is uuid-scoped so
    concurrent/repeated runs never collide."""
    import uuid as _uuid

    view = f"lineitem_{_uuid.uuid4().hex[:8]}"
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    return spark.sql(f"""
        SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM {view}
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """)
