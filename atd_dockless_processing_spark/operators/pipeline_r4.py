"""Round-4 extensions — SURVEY.md §2.18.

Operators closing the round-3 verdict's remaining fidelity gaps, plus
further scale-pattern breadth (reference parity per SURVEY §0: the
checkout was empty, so each row cites the public capability it
generalizes):

- ``fn_geojson_route`` — parse a nested GeoJSON ``FeatureCollection``
  route column (the MDS trips ``route`` shape: array-of-Point-features
  with per-feature properties) into per-point rows and aggregate per
  trip, entirely with ``from_json`` + ``posexplode`` — no Python UDF.
- ``agg_corr_cov`` — distributed correlation/covariance via one-pass
  exact-decimal power sums (map-side combinable; no Welford merge).
- ``join_interval_overlap`` — interval-overlap (range) join via the
  bucket-blocked equi-join rewrite.
- ``src_partition_prune`` — read-side partition pruning over a
  date-partitioned staged dataset (``PartitionFilters`` in the plan).
- ``llm_dedup_url_canon`` — URL-canonicalization dedup (the crawl
  pipeline's exact-dup-by-canonical-URL step).
- ``src_incremental_extract`` — high-watermark incremental ingest
  (two scheduled pulls, exactly-once across the boundary) — the
  reference's paginated provider-pull semantics in batch form.

(The remaining round-4 key, ``fn_date_derive_tz``, lives with the
rest of the calendar derivation surface in ``functions/scalars.py``.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.json_fast import with_json_field
from ..registry import query
from ..tables import load, parquet_nrows, stage_scratch

# ---------------------------------------------------------------------------
# fn_geojson_route — nested FeatureCollection parsing
# ---------------------------------------------------------------------------

# The MDS trips `route` payload: a GeoJSON FeatureCollection whose
# features are Points with per-feature properties. Parsed with an
# explicit nested schema so Catalyst prunes unreferenced fields out
# of the JSON parser itself (JacksonParser only materializes the
# requested paths).
_ROUTE_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField(
            "features",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("type", T.StringType()),
                        T.StructField(
                            "properties",
                            T.StructType(
                                [
                                    T.StructField("seq", T.IntegerType()),
                                    T.StructField("t_us", T.LongType()),
                                ]
                            ),
                        ),
                        T.StructField(
                            "geometry",
                            T.StructType(
                                [
                                    T.StructField("type", T.StringType()),
                                    T.StructField(
                                        "coordinates", T.ArrayType(T.DoubleType())
                                    ),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)


def _stage_routes(spark: SparkSession, sf_dir: str) -> str:
    """Stage a (trip_id, route_json) parquet: one GeoJSON
    FeatureCollection string per user, points = that user's events in
    (ts, event_id) order, x = value, y = props.k — the same synthetic
    coordinate space as the geo operators (testdata has no lat/lon).

    Materializing to parquet (freshness-markered via stage_scratch)
    guarantees the query genuinely PARSES strings at runtime — an
    in-plan to_json∘from_json pair would be simplified away by
    Catalyst's OptimizeJsonExprs rule and prove nothing.
    """

    def build(indir: str) -> None:
        ev = with_json_field(
            load(spark, sf_dir, "events"), "y", "props", "k", "double"
        ).select(
            F.col("user_id").alias("trip_id"),
            F.struct(
                F.col("ts"), F.col("event_id"), F.col("value").alias("x"), F.col("y")
            ).alias("pt"),
        )
        # one shuffle: collect each trip's points, sort in-memory (struct
        # ordering = (ts, event_id) lexicographic), then emit the nested
        # FeatureCollection via to_json — all JVM-side expressions.
        (
            ev.groupBy("trip_id")
            .agg(F.array_sort(F.collect_list("pt")).alias("pts"))
            .select(
                "trip_id",
                F.to_json(
                    F.struct(
                        F.lit("FeatureCollection").alias("type"),
                        F.transform(
                            "pts",
                            lambda p, i: F.struct(
                                F.lit("Feature").alias("type"),
                                F.struct(
                                    i.cast("int").alias("seq"),
                                    F.unix_micros(p["ts"]).alias("t_us"),
                                ).alias("properties"),
                                F.struct(
                                    F.lit("Point").alias("type"),
                                    F.array(p["x"], p["y"]).alias("coordinates"),
                                ).alias("geometry"),
                            ),
                        ).alias("features"),
                    )
                ).alias("route_json"),
            )
            .write.mode("overwrite")
            .parquet(indir)
        )

    return stage_scratch("fn_geojson_route", sf_dir, "events", build)


@query(
    "fn_geojson_route",
    oracle="""
    SELECT user_id AS trip_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           FIRST(value ORDER BY ts, event_id) AS first_x,
           ROUND(SUM(value), 4) AS sum_x,
           MAX(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS max_y
    FROM events
    GROUP BY user_id
    """,
)
def fn_geojson_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-GeoJSON route parsing: the reference ingests MDS trip
    payloads whose ``route`` field is a GeoJSON FeatureCollection
    (array of Point features with per-feature properties) and flattens
    it for publication ([P high], SURVEY §3.1 step 1; round-3 verdict
    missing-list item 2). Staged input: one FeatureCollection string
    per trip built from events (see :func:`_stage_routes`); the query
    then does the real ingest work — ``from_json`` with an explicit
    nested schema, ``posexplode`` of the feature array, coordinate
    extraction — and reduces per trip. Zero Python UDFs: JacksonParser
    runs JVM-side and Catalyst prunes unread JSON paths.

    The oracle recomputes the same aggregates DIRECTLY from the events
    base table (different algorithm, no JSON), so the check proves the
    build→write→parse→flatten path is lossless end-to-end. first_x
    pins per-point ORDER (feature 0 must be the (ts, event_id)-first
    event); doubles round-trip exactly through Jackson's shortest-repr
    serialization, so only the summation-order-sensitive sum_x needs
    the round-4 gate.

    At 100 TB this is the scale-correct shape for route ingest: the
    staged table is partitioned on trip_id, parsing is map-side, and
    the per-trip reduce is a combinable single-exchange agg."""
    routes = spark.read.parquet(_stage_routes(spark, sf_dir))
    pts = routes.select(
        "trip_id",
        F.posexplode(
            F.from_json("route_json", _ROUTE_SCHEMA)["features"]
        ).alias("pos", "feat"),
    ).select(
        "trip_id",
        "pos",
        F.col("feat")["geometry"]["coordinates"][0].alias("x"),
        F.col("feat")["geometry"]["coordinates"][1].alias("y"),
    )
    return pts.groupBy("trip_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.max(F.when(F.col("pos") == 0, F.col("x"))).alias("first_x"),
        F.round(F.sum("x"), 4).alias("sum_x"),
        F.max("y").alias("max_y"),
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
# join_interval_overlap — bucket-blocked range join
# ---------------------------------------------------------------------------


@query(
    "join_interval_overlap",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS a_id, CAST(o_orderdate AS DATE) AS a_s,
             CAST(o_orderdate AS DATE) + 7 AS a_e
      FROM orders WHERE o_orderkey % 97 = 0
    ), b AS (
      SELECT o_orderkey AS b_id, CAST(o_orderdate AS DATE) AS b_s,
             CAST(o_orderdate AS DATE) + 10 AS b_e
      FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT a_id, b_id,
           CAST(date_diff('day', GREATEST(a_s, b_s), LEAST(a_e, b_e)) + 1
                AS INTEGER) AS overlap_days
    FROM a JOIN b ON a_s <= b_e AND b_s <= a_e
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: order subset A (7-day windows) x subset
    B (10-day windows), emit overlapping (a, b) pairs with the
    overlap length — the promotion-window / maintenance-window /
    session-overlap analytics shape, and the published bin-bucketing
    range-join rewrite.

    Scale plan: each interval EXPLODES to the 7-day buckets it
    touches (<=2 for A, <=3 for B — bounded, data-independent), the
    candidate join is an EQUI-join on bucket id, duplicates from
    multi-bucket co-occurrence collapse with one distinct, and the
    exact overlap predicate verifies. Correctness: any overlapping
    pair shares at least one calendar day, and that day's bucket is
    touched by both — recall 1.0 by construction. Cost is
    sum-over-buckets of |A_b| x |B_b| instead of |A| x |B|: the same
    locality argument as the ball-cover gate, on the time axis. The
    oracle runs the genuine O(|A||B|) theta join."""
    o = load(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    a = o.where(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("a_id"),
        od.alias("a_s"),
        F.date_add(od, 7).alias("a_e"),
    )
    b = o.where(F.col("o_orderkey") % 101 == 0).select(
        F.col("o_orderkey").alias("b_id"),
        od.alias("b_s"),
        F.date_add(od, 10).alias("b_e"),
    )

    def bucketed(df, s, e):
        return df.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(F.unix_date(F.col(s)) / 7),
                    F.floor(F.unix_date(F.col(e)) / 7),
                )
            ),
        )

    cand = (
        bucketed(a, "a_s", "a_e")
        .join(bucketed(b, "b_s", "b_e"), "bucket")
        # CANONICAL-BUCKET emission (the r5 minhash lesson applied to
        # the time axis): every overlapping pair shares a day whose
        # bucket lies in [max(first buckets), min(last buckets)], so
        # the pair is tested ONLY in bucket max(fa, fb) — exactly-once
        # by construction, no pair-dedup exchange. The prior
        # .distinct() shuffled the full candidate pair stream (~400M
        # rows at ×100) and cost 105 s vs 6.7 s for DuckDB's IEJoin.
        .where(
            F.col("bucket")
            == F.greatest(
                F.floor(F.unix_date(F.col("a_s")) / 7),
                F.floor(F.unix_date(F.col("b_s")) / 7),
            )
        )
        .drop("bucket")
    )
    return cand.where(
        (F.col("a_s") <= F.col("b_e")) & (F.col("b_s") <= F.col("a_e"))
    ).select(
        "a_id",
        "b_id",
        (
            F.datediff(
                F.least("a_e", "b_e"), F.greatest("a_s", "b_s")
            )
            + 1
        ).alias("overlap_days"),
    )


# ---------------------------------------------------------------------------
# src_partition_prune — read-side partition pruning
# ---------------------------------------------------------------------------


def _stage_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage events date-partitioned (``event_date=YYYY-MM-DD/`` dirs,
    freshness-markered via stage_scratch) — the 100 TB lake layout
    where time-ranged queries touch only their partitions' files."""

    def build(indir: str) -> None:
        ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
        ev.write.mode("overwrite").partitionBy("event_date").parquet(indir)

    return stage_scratch("src_partition_prune", sf_dir, "events", build)


@query(
    "src_partition_prune",
    oracle="""
    WITH bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(value), 4) AS sum_value
    FROM events, bounds
    WHERE CAST(ts AS DATE) IN (d0 + 3, d0 + 10)
    GROUP BY event_type
    """,
)
def src_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: events staged date-PARTITIONED (one
    directory per day), queried for two specific days with literal
    partition filters — the executed plan reads 2 of ~30 partition
    directories (``PartitionFilters: [event_date IN (...)]``, zero
    data files from other days touched). This is THE dominant 100 TB
    scan pattern: a year-partitioned lake serves a 2-day query at
    1/180th of the scan cost, before any row-level pushdown.

    The two literal dates derive from the partition catalog (here: a
    min() over the staged partition VALUES — metadata-only, the
    listing the production catalog serves); the oracle recomputes
    from the unpartitioned base table with the same day arithmetic,
    so the check proves repartitioned staging + pruned read is
    lossless."""
    indir = _stage_partitioned_events(spark, sf_dir)
    part = spark.read.parquet(indir)
    # metadata-only: min over the ~30 distinct partition values (the
    # scan for this aggregate reads no data columns)
    d0 = part.select(F.min("event_date").alias("d0")).collect()[0]["d0"]
    days = [str(d0 + __import__("datetime").timedelta(days=k)) for k in (3, 10)]
    return (
        part.where(F.col("event_date").isin(days))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# llm_dedup_url_canon — URL-canonicalization dedup
# ---------------------------------------------------------------------------


@query(
    "llm_dedup_url_canon",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Src' ELSE 'https://www.src' END)
             || CAST(doc_id % 5 AS VARCHAR)
             || (CASE WHEN doc_id % 2 = 0 THEN '.Example.COM' ELSE '.example.com' END)
             || '/p/' || CAST(doc_id % 500 AS VARCHAR)
             || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&utm_campaign=y' ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
      FROM documents
    ), canon AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   lower(regexp_extract(url, '^([^/]+//[^/?#]+)', 1))
                     || regexp_extract(url, '^[^/]+//[^/?#]+(.*)$', 1),
                   '#.*$', '', 'g'),
                 'utm_[^&#]*&?', '', 'g'),
               '[?&/]+$', '', 'g') AS curl
      FROM u
    )
    SELECT regexp_extract(curl, '^https://([^/]+)', 1) AS host,
           CAST(SUM(n_dups) AS BIGINT) AS n_urls,
           CAST(COUNT(*) AS BIGINT) AS n_canonical,
           CAST(SUM(survivor_id) AS BIGINT) AS survivor_id_sum
    FROM (
      SELECT curl, COUNT(*) AS n_dups, MIN(doc_id) AS survivor_id
      FROM canon
      GROUP BY curl
    )
    GROUP BY 1
    """,
)
def llm_dedup_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl-pipeline step before
    any content dedup: the same page arrives as HTTP/HTTPS, cased
    hosts, trailing slashes, utm_* tracking params and fragments;
    canonicalize (lowercase scheme+authority, drop fragment, strip
    utm_* params, trim trailing separators) and keep the min-doc_id
    representative per canonical URL. Synthetic messy URLs are built
    deterministically from doc_id (the corpus has no URL column), so
    each canonical group collapses case/slash/param/fragment variants.

    All codegen regexp (Java regex and DuckDB RE2 agree on this
    subset, 'g'-flagged in the oracle to match Spark's replace-all);
    dedup is a two-level aggregate — groupBy(curl) keeps the min-doc_id
    representative (map-side combinable, same shape as llm_dedup_exact),
    then per-host rollup. ``survivor_id_sum`` pins WHICH doc survives
    each group, not merely how many (a count alone is derivable from
    n_canonical and would add no oracle power)."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://WWW.Src")).otherwise(
            F.lit("https://www.src")
        ),
        (F.col("doc_id") % 5).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(".Example.COM")).otherwise(
            F.lit(".example.com")
        ),
        F.lit("/p/"),
        (F.col("doc_id") % 500).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm_source=x&utm_campaign=y")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.concat(
                    F.lower(F.regexp_extract(url, r"^([^/]+//[^/?#]+)", 1)),
                    F.regexp_extract(url, r"^[^/]+//[^/?#]+(.*)$", 1),
                ),
                r"#.*$",
                "",
            ),
            r"utm_[^&#]*&?",
            "",
        ),
        r"[?&/]+$",
        "",
    )
    canon = d.select("doc_id", curl.alias("curl"))
    groups = canon.groupBy("curl").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min("doc_id").alias("survivor_id"),
    )
    return groups.groupBy(
        F.regexp_extract("curl", r"^https://([^/]+)", 1).alias("host")
    ).agg(
        F.sum("n_dups").alias("n_urls"),
        F.count(F.lit(1)).alias("n_canonical"),
        F.sum("survivor_id").alias("survivor_id_sum"),
    )


# ---------------------------------------------------------------------------
# src_incremental_extract — high-watermark incremental ingest
# ---------------------------------------------------------------------------


@query(
    "src_incremental_extract",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM events
    GROUP BY 1
    """,
)
def src_incremental_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark incremental ingest: the reference's scheduled
    provider pulls fetch "rows newer than the last run's watermark"
    ([P high], SURVEY §3.1 step 0 — paginated time-windowed API
    pulls; missing-list item 3's sandbox-testable core). Simulated as
    two pulls over the same source:

    - pull 1 takes everything up to a mid-range cut (min date + 15d)
      and records wm = max(ts) it saw — the persisted watermark;
    - pull 2 takes strictly ts > wm.

    The union must reproduce the source EXACTLY-ONCE across the
    boundary: rows at ts == wm are all in pull 1 (wm is pull 1's own
    max), and no row falls in (wm, cut] by wm's definition — the
    classic off-by-one that silently drops or duplicates boundary
    rows in naive >=-based extracts. The oracle aggregates the source
    directly, so any loss or duplication breaks count and id-sum.

    Both the cut and the watermark flow RELATIONALLY (1-row aggs
    broadcast via crossJoin — no driver collect), so at 100 TB the
    watermark computation is a metadata-cheap agg and the pulls are
    pushed-down range scans on the ingest-time column."""
    ev = load(spark, sf_dir, "events")
    cut = ev.agg(
        F.date_add(F.min(F.to_date("ts")), 15).cast("timestamp").alias("cut")
    )
    p1 = (
        ev.crossJoin(F.broadcast(cut))
        .where(F.col("ts") <= F.col("cut"))
        .select("event_id", "ts")
    )
    wm = p1.agg(F.max("ts").alias("wm"))
    p2 = (
        ev.crossJoin(F.broadcast(wm))
        .where(F.col("ts") > F.col("wm"))
        .select("event_id", "ts")
    )
    return (
        p1.unionAll(p2)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("sum_event_id"),
        )
    )


# ---------------------------------------------------------------------------
# sql_recursive_cte — WITH RECURSIVE hierarchy traversal
# ---------------------------------------------------------------------------


@query(
    "sql_recursive_cte",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             CASE WHEN user_id = 0 THEN 0
                  ELSE CAST(FLOOR(LOG2(user_id)) AS INTEGER) + 1 END AS depth
      FROM events
    )
    SELECT d.depth,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 4) AS sum_value
    FROM events e JOIN d ON e.user_id = d.user_id
    GROUP BY 1
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's ``WITH RECURSIVE``): traverse the
    implicit referral tree parent(u) = u DIV 2 rooted at user 0 and
    compute each user's GENERATION DEPTH iteratively — the
    hierarchy/graph-reachability query class (org charts, referral
    chains, BOM explosions) that previously needed the driver-side
    iteration llm_dedup_clusters hand-rolls. The engine unrolls the
    recursion into iterative joins; state per step is one generation
    of the tree, so depth bounds the iteration count (log2 of the
    user space here).

    The oracle computes the SAME depths via the closed form
    floor(log2(u)) + 1 — a genuinely different (non-iterative)
    algorithm agreeing on the fixpoint, which is exactly what a
    recursive-query check should pin. Per-depth user/event/value
    rollup joins the events fact back on the derived dimension.

    PRECONDITION (tested in test_engine_units.py): the recursion
    assigns a depth only to users whose FULL parent chain
    (u DIV 2 repeatedly) exists in events, while the closed form
    covers every distinct user unconditionally — the two agree iff
    the user_id space is DENSE (every u DIV 2 ancestor present).
    The driver testdata generates user_id as dense 0..N-1 at every
    sf; on gappy data the recursive side would silently drop
    orphaned subtrees and the check would (correctly) go red."""
    ev = load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("ev_rcte")
    ev.select("user_id").distinct().createOrReplaceTempView("users_rcte")
    return spark.sql(
        """
        WITH RECURSIVE d(user_id, depth) AS (
          SELECT CAST(0 AS BIGINT), 0
          UNION ALL
          SELECT u.user_id, d.depth + 1
          FROM users_rcte u JOIN d ON u.user_id DIV 2 = d.user_id
          WHERE u.user_id > 0
        )
        SELECT d.depth,
               COUNT(DISTINCT e.user_id) AS n_users,
               COUNT(*) AS n_events,
               ROUND(SUM(e.value), 4) AS sum_value
        FROM ev_rcte e JOIN d ON e.user_id = d.user_id
        GROUP BY d.depth
        """
    )


# ---------------------------------------------------------------------------
# fn_variant_json — Spark 4 VARIANT semi-structured type
# ---------------------------------------------------------------------------


@query(
    "fn_variant_json",
    oracle="""
    SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10
                AS INTEGER) AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
             AS sum_k,
           CAST(COUNT(*) FILTER (WHERE json_extract(props, '$.missing') IS NULL)
                AS BIGINT) AS n_missing
    FROM events
    GROUP BY 1
    """,
)
def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through Spark 4's VARIANT type:
    ``parse_json`` decodes the props JSON ONCE into the binary
    variant encoding, then typed paths come out with ``variant_get``
    (and ``try_variant_get`` for absent paths, which yields NULL
    instead of erroring) — the modern engine answer to repeated
    ``get_json_object`` string re-parsing: at 100 TB the parse
    happens once per row at ingest and every later extraction is a
    cheap binary traversal, with shredding/pushdown landing in the
    parquet variant spec. The oracle does the same typed extraction
    via DuckDB's JSON functions, proving the variant path
    value-identical to a classic JSON-string pipeline.

    Plan (r11 single-parse fix): inlining `parse_json(props)` in both
    variant_get expressions encodes every document TWICE (no-CSE
    hazard — the optimized plan showed `parseJson ×2`). The variant
    value is staged in its own projection tier, and CollapseProject
    declines to re-inline it (a static_invoke is not a cheap
    expression), so the parse runs once and both path extractions
    traverse the staged binary. ×100 A/B: 1.775 s → 1.695 s (2.42× →
    2.31× vs DuckDB 0.733 s, same session) — the parse was never the
    dominant cost (the variant binary encode is fast); the remaining
    gap is the declared surface, stamped CLOSED-AS-DEFINITIONAL-
    SURFACE in SCALE.md."""
    ev = load(spark, sf_dir, "events")
    staged = ev.select(F.parse_json("props").alias("v"))
    return staged.select(
        F.try_variant_get(F.col("v"), "$.k", "int").alias("k"),
        F.try_variant_get(F.col("v"), "$.missing", "int").alias("m"),
    ).groupBy((F.col("k") % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.sum(F.when(F.col("m").isNull(), 1).otherwise(0)).alias("n_missing"),
    )
