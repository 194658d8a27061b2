"""Geo/grid operators — SURVEY.md §2.9.

The reference's spatial core is point-in-polygon assignment of trip
endpoints to coarse geographies (council district / census tract /
grid cell) for privacy ([P high], SURVEY §3.1). Testdata has no
lat/lon, so the *operator shapes* are declared on numeric columns:
identical algebra, different units. Both are pure expressions /
broadcast theta joins — embarrassingly parallel at 100 TB (no
shuffle of the point table before aggregation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.json_fast import with_json_field
from ..registry import query
from ..tables import load, stage_scratch


@query(
    "geo_grid_bin",
    oracle="""
    SELECT CONCAT(CAST(CAST(FLOOR(value / 50) AS BIGINT) AS VARCHAR), '_',
                  COALESCE(CAST(CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INTEGER) / 25.0) AS BIGINT) AS VARCHAR), 'x')) AS cell_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def geo_grid_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-grid cell id from two numeric coordinates (value, k) —
    the hex/grid-cell privacy binning shape ([P high]). Pure
    expression: codegen'd, zero shuffle before the final agg. The
    props field rides the anchored-regex fast path
    (functions/json_fast.py) — exact Jackson semantics, ~3.5× less
    per-row parse tax."""
    ev = with_json_field(load(spark, sf_dir, "events"), "_kj", "props", "k", "int")
    k = F.col("_kj")
    # COALESCE the k-derived component: DuckDB CONCAT keeps the '_'
    # when an operand is NULL while concat_ws drops it, so a NULL k
    # would silently diverge ('3_' vs '3'); 'x' pins both engines to
    # the same sentinel cell.
    cell = F.concat_ws(
        "_",
        F.floor(F.col("value") / 50).cast("string"),
        F.coalesce(F.floor(k / 25.0).cast("string"), F.lit("x")),
    )
    return (
        ev.groupBy(cell.alias("cell_id"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


_ZONES = [
    # (zone, xlo, xhi, ylo, yhi) over (value, k) space
    ("downtown", 0.0, 100.0, 0, 50),
    ("east", 100.0, 300.0, 0, 100),
    ("west", 0.0, 100.0, 50, 100),
    ("far", 300.0, 10000.0, 0, 100),
]

# Below this zone count a broadcast nested-loop theta join wins (the
# per-row probe over a handful of rectangles is ~free and there is no
# cell-explode overhead); at or above it the grid-bucketed equi-join
# takes over. The r6 ×100 A/B measured the crossover direction at both
# ends: 4 zones → grid LOSES (2.63 s vs 2.87 s total is within the
# scan floor, and the explode adds a stage); 2048 zones → theta is
# O(points × zones) row-compares while grid is O(points + candidates)
# (r7 A/B numbers in BASELINE.md "bbox many-zone switch").
_BBOX_GRID_MIN_ZONES = 64


def bbox_join_plan(
    spark: SparkSession, ev: DataFrame, zone_rows: list, strategy: str | None = None
) -> DataFrame:
    """Adaptive point-in-rectangle join over `ev(x double, y int)`.

    `zone_rows` is the (zone, xlo, xhi, ylo, yhi) dim — driver-side
    literals here, a collected broadcast-small dim in production; the
    strategy switch and grid sizing read ONLY this list, never the
    point table.

    * theta (``len < _BBOX_GRID_MIN_ZONES``): broadcast nested-loop —
      every point row tests every zone. Optimal for a when-chain-sized
      dim; quadratic in zones.
    * grid: derive cell widths from the MEDIAN zone extent (cells per
      zone ~2 per axis), explode each zone to the grid cells its box
      covers, then broadcast-HASH-join points on the exact cell key
      ``(floor(x/Wx), floor(y/Wy))`` with the range test as a residual
      filter — the interval-overlap bucket trick in 2-D. Probe cost
      per point is the hash lookup + candidates in ITS cell only, so
      cost is O(points + Σ cell-candidates) instead of
      O(points × zones). The explode stays driver-invisible (a Spark
      ``sequence``/``explode`` over the broadcast dim): ~4-6 cells per
      zone at median sizing, broadcastable into the millions of zones.
    """
    zones = spark.createDataFrame(
        zone_rows, "zone string, xlo double, xhi double, ylo int, yhi int"
    )
    if strategy is None:
        strategy = "grid" if len(zone_rows) >= _BBOX_GRID_MIN_ZONES else "theta"
    if strategy == "theta":
        cond = (
            (ev.x >= zones.xlo)
            & (ev.x < zones.xhi)
            & (ev.y >= zones.ylo)
            & (ev.y < zones.yhi)
        )
        j = ev.join(F.broadcast(zones), cond)
    else:
        # median zone width per axis → ~2 covered cells per zone per
        # axis; max() guards degenerate all-zero-width dims
        def _median(vals: list[float]) -> float:
            s = sorted(vals)
            return s[len(s) // 2]

        wx = max(_median([r[2] - r[1] for r in zone_rows]), 1e-9)
        wy = max(_median([float(r[4] - r[3]) for r in zone_rows]), 1e-9)
        cells = (
            zones.withColumn(
                "cx",
                F.explode(
                    F.sequence(
                        F.floor(F.col("xlo") / wx), F.floor(F.col("xhi") / wx)
                    )
                ),
            )
            .withColumn(
                "cy",
                F.explode(
                    F.sequence(
                        F.floor(F.col("ylo") / wy), F.floor(F.col("yhi") / wy)
                    )
                ),
            )
        )
        pts = ev.withColumn("cx", F.floor(ev.x / wx)).withColumn(
            "cy", F.floor(ev.y / wy)
        )
        j = pts.join(F.broadcast(cells), ["cx", "cy"]).where(
            (F.col("x") >= F.col("xlo"))
            & (F.col("x") < F.col("xhi"))
            & (F.col("y") >= F.col("ylo"))
            & (F.col("y") < F.col("yhi"))
        )
    return j.groupBy("zone").agg(F.count(F.lit(1)).alias("n_points"))


@query(
    "geo_bbox_join",
    oracle="""
    WITH zones(zone, xlo, xhi, ylo, yhi) AS (
      VALUES ('downtown', 0.0, 100.0, 0, 50), ('east', 100.0, 300.0, 0, 100),
             ('west', 0.0, 100.0, 50, 100), ('far', 300.0, 10000.0, 0, 100)
    ), pts AS (
      SELECT value AS x, CAST(json_extract_string(props, '$.k') AS INTEGER) AS y
      FROM events
    )
    SELECT zone, CAST(COUNT(*) AS BIGINT) AS n_points
    FROM pts JOIN zones ON x >= xlo AND x < xhi AND y >= ylo AND y < yhi
    GROUP BY zone
    """,
)
def geo_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-rectangle via broadcast theta join — the
    point-in-polygon generalization ([P high]). The zone dim is
    broadcast; at 100 TB the point table never shuffles.

    ADAPTIVE (r7, via ``bbox_join_plan``): with the 4-zone literal dim
    this plans the broadcast nested-loop theta join (optimal — the r6
    ×100 A/B showed the grid form loses at 4 zones, 2.63 s vs a 2.87 s
    total whose scan + get_json_object floor alone is 1.33 s); at
    ``_BBOX_GRID_MIN_ZONES``+ zones the SAME call plans the
    grid-bucketed broadcast equi-join, which the r7 2048-zone ×100 A/B
    measured as the production path (theta's O(points × zones)
    row-compares vs grid's hash probe — BASELINE.md "bbox many-zone
    switch")."""
    ev = with_json_field(load(spark, sf_dir, "events"), "y", "props", "k", "int").select(
        F.col("value").alias("x"), "y"
    )
    return bbox_join_plan(spark, ev, _ZONES)


# ---------------------------------------------------------------------------
# Real point-in-polygon (ray casting) on synthesized lat/lon
# ---------------------------------------------------------------------------

# Austin-ish coordinates derived deterministically from (value,
# user_id); the polygon table is literal, broadcast-sized, and one
# polygon is deliberately NON-convex (L-shape) so the ray-cast parity
# is exercised beyond what bbox tests cover.
_PIP_POLYGONS = [
    (
        "central",  # non-convex L-shape
        [
            (-97.80, 30.15), (-97.65, 30.15), (-97.65, 30.30),
            (-97.72, 30.30), (-97.72, 30.42), (-97.80, 30.42),
        ],
    ),
    ("east_wedge", [(-97.64, 30.12), (-97.56, 30.20), (-97.64, 30.38)]),
]


def _pip_sql(poly) -> str:
    """PNPOLY crossing-parity test as DuckDB SQL over (x, y) columns.

    `e0` suffixes force DOUBLE literals (a bare decimal is DECIMAL in
    DuckDB, whose division-by-zero on horizontal edges would error;
    IEEE doubles give inf/nan, which the crossing conjunction then
    discards identically on both engines)."""
    n = len(poly)
    terms = []
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        lx1, ly1, lx2, ly2 = (f"({v!r}e0)" for v in (x1, y1, x2, y2))
        terms.append(
            f"(CASE WHEN (({ly1} > y) <> ({ly2} > y)) AND "
            f"x < ({lx2} - {lx1}) * (y - {ly1}) / ({ly2} - {ly1}) + {lx1} "
            f"THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def _pip_col(poly, x, y):
    """Same PNPOLY parity test as a Spark Column expression."""
    total = F.lit(0)
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        crosses = ((F.lit(y1) > y) != (F.lit(y2) > y)) & (
            x
            < (F.lit(x2) - F.lit(x1)) * (y - F.lit(y1)) / (F.lit(y2) - F.lit(y1))
            + F.lit(x1)
        )
        total = total + F.when(crosses, 1).otherwise(0)
    return total % 2 == 1


_PIP_ZONE_SQL = (
    "CASE WHEN "
    + _pip_sql(_PIP_POLYGONS[0][1])
    + f" THEN '{_PIP_POLYGONS[0][0]}' WHEN "
    + _pip_sql(_PIP_POLYGONS[1][1])
    + f" THEN '{_PIP_POLYGONS[1][0]}' ELSE 'outside' END"
)


@query(
    "geo_point_in_polygon",
    oracle=f"""
    WITH pts AS (
      SELECT (-97.95e0) + (abs(value) % 40.0e0) / 100.0e0 AS x,
             30.10e0 + (user_id % 40) / 100.0e0 AS y,
             value
      FROM events
    )
    SELECT {_PIP_ZONE_SQL} AS zone,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(SUM(value), 4) AS sum_value
    FROM pts
    GROUP BY 1
    """,
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL point-in-polygon: ray casting (PNPOLY crossing parity)
    against literal polygons, one non-convex — the reference's actual
    spatial core (trip endpoints -> council district / census tract,
    [P high], SURVEY §2.9). Testdata has no lat/lon, so coordinates
    are synthesized deterministically from (value, user_id) with the
    identical formula in the oracle.

    Scale shape: the polygon set is compiled INTO the expression (the
    per-edge crossing tests unroll into one codegen stage — for a
    real district table of a few hundred polygons you'd broadcast the
    vertex table and F.aggregate over it instead), so the point table
    is never shuffled before the final combinable agg: a pure map at
    100 TB, same as geo_grid_bin/geo_hex_bin. Horizontal edges give
    IEEE inf/nan in the slope term on both engines; the crossing
    conjunction's first clause is then false, so parity is exact."""
    ev = load(spark, sf_dir, "events")
    # Stage (x, y) in their own Project: the ~45 per-row references
    # the unrolled edge tests make would otherwise each re-evaluate
    # the full coordinate derivation (Catalyst CSE gap — the
    # geo_hex_bin finding; ×100 A/B: 1.08 s -> 0.375 s).
    x = F.lit(-97.95) + (F.abs(F.col("value")) % F.lit(40.0)) / F.lit(100.0)
    y = F.lit(30.10) + (F.col("user_id") % 40) / F.lit(100.0)
    pts = ev.select(x.alias("x"), y.alias("y"), "value")
    zone = (
        F.when(_pip_col(_PIP_POLYGONS[0][1], F.col("x"), F.col("y")), _PIP_POLYGONS[0][0])
        .when(_pip_col(_PIP_POLYGONS[1][1], F.col("x"), F.col("y")), _PIP_POLYGONS[1][0])
        .otherwise("outside")
    )
    return (
        pts.select(zone.alias("zone"), "value")
        .groupBy("zone")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


_HEX_SIZE = 40.0


@query(
    "geo_hex_bin",
    oracle=f"""
    WITH pts AS (
      SELECT value AS x,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS y
      FROM events
    ), axial AS (
      SELECT x,
             (sqrt(3.0) / 3.0 * x - 1.0 / 3.0 * y) / {_HEX_SIZE} AS q,
             (2.0 / 3.0 * y) / {_HEX_SIZE} AS r
      FROM pts
    ), cube AS (
      SELECT x, q, r, -q - r AS s,
             CASE WHEN q >= 0 THEN floor(q + 0.5) ELSE -floor(0.5 - q) END AS rq,
             CASE WHEN r >= 0 THEN floor(r + 0.5) ELSE -floor(0.5 - r) END AS rr,
             CASE WHEN -q - r >= 0 THEN floor(-q - r + 0.5)
                  ELSE -floor(0.5 - (-q - r)) END AS rs
      FROM axial
    ), resid AS (
      SELECT x, rq, rr, rs,
             abs(rq - q) AS dq, abs(rr - r) AS dr, abs(rs - s) AS ds
      FROM cube
    ), fixed AS (
      SELECT x,
             CASE WHEN dq > dr AND dq > ds THEN -rr - rs ELSE rq END AS hq,
             CASE WHEN dr > dq AND dr >= ds AND NOT (dq > dr AND dq > ds)
                  THEN -rq - rs ELSE rr END AS hr
      FROM resid
    )
    SELECT CAST(hq AS INTEGER) AS hex_q, CAST(hr AS INTEGER) AS hex_r,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(SUM(x), 4) AS sum_value
    FROM fixed
    GROUP BY 1, 2
    """,
)
def geo_hex_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hexagonal binning (pointy-top axial coordinates, cube rounding
    with largest-residual correction) — the H3-style privacy binning
    the reference applies to trip endpoints, on (value, k) space.
    Pure expressions end-to-end: the same identical formula runs in
    the oracle, and at 100 TB it is a codegen'd map + one combinable
    aggregation, exactly like geo_grid_bin.

    Two ×100-measured performance rules shape the form (the naive
    single-projection F.round version ran 10.3 s / 10M rows):
    (1) STAGED projections — Catalyst does not de-duplicate
    non-cheap expressions referenced repeatedly inside ONE
    projection (the fn_json_extract finding), and the cube-rounding
    residual logic references each rounded coordinate many times, so
    q/r/s → rq/rr/rs → dq/dr/ds → hq/hr are materialized one
    Project per tier (CollapseProject keeps tiers that would
    duplicate non-cheap producers) — every un-staged reference
    re-evaluated the FULL upstream subtree, sqrt chain and JSON
    parse included (a single per-row round is itself nearly free:
    0.23 s vs 0.31 s scan baseline over 10M rows, micro-A/B'd);
    (2) the rounding is the branch-free SHARED half-away tree
    floor(|v|+0.5)·sign — mirroring one floor-based IEEE tree in
    BOTH engines is stronger parity: exact agreement by
    construction (hazard rule 6), not an assumption that two
    engines' round() tie behavior matches."""
    ev = with_json_field(load(spark, sf_dir, "events"), "_yj", "props", "k", "int")

    def rnd(v):
        return F.when(v >= 0, F.floor(v + 0.5)).otherwise(-F.floor(0.5 - v))

    x = F.col("value")
    y = F.col("_yj")  # staged once: q and r both reference it
    axial = ev.select(
        x.alias("x"),
        ((F.sqrt(F.lit(3.0)) / 3.0 * x - F.lit(1.0) / 3.0 * y) / _HEX_SIZE).alias("q"),
        ((F.lit(2.0) / 3.0 * y) / _HEX_SIZE).alias("r"),
    )
    cube = axial.select(
        "x", "q", "r",
        (-F.col("q") - F.col("r")).alias("s"),
        rnd(F.col("q")).alias("rq"),
        rnd(F.col("r")).alias("rr"),
        rnd(-F.col("q") - F.col("r")).alias("rs"),
    )
    resid = cube.select(
        "x", "rq", "rr", "rs",
        F.abs(F.col("rq") - F.col("q")).alias("dq"),
        F.abs(F.col("rr") - F.col("r")).alias("dr"),
        F.abs(F.col("rs") - F.col("s")).alias("ds"),
    )
    dq, dr, ds = F.col("dq"), F.col("dr"), F.col("ds")
    rq, rr, rs = F.col("rq"), F.col("rr"), F.col("rs")
    hq = F.when((dq > dr) & (dq > ds), -rr - rs).otherwise(rq)
    hr = F.when(
        (dr > dq) & (dr >= ds) & ~((dq > dr) & (dq > ds)), -rq - rs
    ).otherwise(rr)
    return (
        resid.select(
            "x", hq.cast("int").alias("hex_q"), hr.cast("int").alias("hex_r")
        )
        .groupBy("hex_q", "hex_r")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.sum("x"), 4).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# geo_nearest_hub — broadcast argmin snap
# ---------------------------------------------------------------------------

# Hubs in the same (value, props.k) coordinate space as the other geo
# operators (testdata has no lat/lon — SURVEY §2.9: same algebra,
# different units). Fixed small dim, like _ZONES in geo.py.
_HUBS = [
    # (hub_id, x, y)
    (0, 50.0, 12.0),
    (1, 150.0, 40.0),
    (2, 280.0, 75.0),
    (3, 60.0, 88.0),
    (4, 420.0, 30.0),
]


@query(
    "geo_nearest_hub",
    oracle=f"""
    WITH pts AS (
      SELECT event_id,
             value AS x,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS y,
             value
      FROM events
    ), hubs(hub_id, hx, hy) AS (
      VALUES {", ".join(f"({h}, {x}, {y})" for h, x, y in _HUBS)}
    ), ranked AS (
      SELECT pts.value, hubs.hub_id,
             ROW_NUMBER() OVER (
               PARTITION BY pts.event_id
               ORDER BY (pts.x - hx) * (pts.x - hx)
                      + (pts.y - hy) * (pts.y - hy), hub_id
             ) AS rn
      FROM pts CROSS JOIN hubs
    )
    SELECT hub_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(SUM(value), 4) AS sum_value
    FROM ranked WHERE rn = 1
    GROUP BY hub_id
    """,
)
def geo_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-hub assignment: snap each event point to the closest of
    a small fixed hub set (squared euclidean, hub_id tie-break) and
    aggregate per hub — the dockless-mobility "assign trip endpoint to
    nearest station / district centroid" shape ([P high], SURVEY
    §3.1 privacy binning), and the k=1 special case of a kNN join.

    Plan shape: the hub set is baked into a per-row array of
    (dist, hub_id) structs and reduced with ``array_min`` — struct
    ordering gives the deterministic (dist, hub_id) argmin entirely
    MAP-SIDE (zero joins, zero extra shuffles; the only exchange is
    the final per-hub agg). The oracle computes the same assignment
    via a genuinely different algorithm (cross join + row_number).
    Distances are exact IEEE doubles in both engines — same products,
    same sums — so the compare is exact, no rounding gate needed. At
    100 TB this scales as pure map work; with thousands of hubs you
    would swap in the IVF/LSH pre-prune (llm_ann_ivf) before the
    exact argmin.
    """
    ev = with_json_field(
        load(spark, sf_dir, "events"), "y", "props", "k", "int"
    ).select(F.col("value").alias("x"), "y", "value")
    cands = F.array(
        *[
            F.struct(
                (
                    (F.col("x") - F.lit(hx)) * (F.col("x") - F.lit(hx))
                    + (F.col("y") - F.lit(hy)) * (F.col("y") - F.lit(hy))
                ).alias("dist"),
                F.lit(hid).alias("hub_id"),
            )
            for hid, hx, hy in _HUBS
        ]
    )
    snapped = ev.select(
        F.array_min(cands).getField("hub_id").alias("hub_id"), "value"
    )
    return snapped.groupBy("hub_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# geo_trip_length — per-user path length over consecutive points
# ---------------------------------------------------------------------------


@query(
    "geo_trip_length",
    oracle="""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             value AS x,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS y
      FROM events
    ), legs AS (
      SELECT user_id,
             sqrt(power(x - LAG(x) OVER w, 2) + power(y - LAG(y) OVER w, 2))
               AS leg
      FROM pts
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(COUNT(leg) AS BIGINT) AS n_legs,
           ROUND(SUM(leg), 4) AS total_dist,
           ROUND(MAX(leg), 4) AS max_leg
    FROM legs
    WHERE leg IS NOT NULL
    GROUP BY user_id
    """,
)
def geo_trip_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user path length: euclidean distance between consecutive
    event points ((value, props.k) space, (ts, event_id)-ordered),
    summed per user with leg count and longest leg — the reference's
    core trip-telemetry shape (route length from breadcrumb points,
    [P high] SURVEY §3.1) on the declared numeric coordinate plane.

    Plan shape: one window exchange on user_id (two lags ride the
    same sort), distances map-side, then a combinable agg on the same
    key — AQE elides the second exchange. sqrt/power on identical
    doubles agree cross-engine; sums rounded to 4."""
    ev = with_json_field(
        load(spark, sf_dir, "events"), "y", "props", "k", "int"
    ).select("user_id", "ts", "event_id", F.col("value").alias("x"), "y")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    leg = F.sqrt(
        F.pow(F.col("x") - F.lag("x").over(w), 2)
        + F.pow(F.col("y") - F.lag("y").over(w), 2)
    )
    legs = ev.select("user_id", leg.alias("leg")).where(F.col("leg").isNotNull())
    return legs.groupBy("user_id").agg(
        F.count("leg").alias("n_legs"),
        F.round(F.sum("leg"), 4).alias("total_dist"),
        F.round(F.max("leg"), 4).alias("max_leg"),
    )


# ---------------------------------------------------------------------------
# geo_point_in_polygon_table — PIP against a staged polygon table
# ---------------------------------------------------------------------------

# 8-vertex star offsets (unit lattice, scaled per polygon): alternating
# radius-3 / radius-~2.2 vertices => NON-convex for every polygon. No
# consecutive pair shares a y, so no horizontal-edge inf/nan terms.
_PIPT_OFF = [(3, 0), (1, 2), (0, 3), (-1, 2), (-3, 0), (-1, -2), (0, -3), (1, -2)]
_PIPT_N_POLY = 60
_PIPT_CELL = 0.02  # grid-index cell size (degrees)

# SQL fragments shared verbatim between the Spark staging expressions
# and the DuckDB oracle so every vertex double is bit-identical.
_PIPT_CX = "-97.93e0 + ({i} % 10) * 0.04e0"
_PIPT_CY = "30.12e0 + ({i} // 10) * 0.06e0"
_PIPT_S = "0.004e0 + ({i} % 4) * 0.002e0"


def _stage_polygons(spark: SparkSession, sf_dir: str) -> str:
    """Stage the polygon dimension TABLE: 60 deterministic non-convex
    star polygons tiling the synthetic coordinate space, one row per
    polygon with its vertex array — the council-district/census-tract
    file the reference loads, in staged-parquet form. Vertices are
    computed with Spark SQL expressions textually mirroring the
    oracle's so both engines derive bit-identical doubles."""

    def build(indir: str) -> None:
        i = F.col("id").cast("int")
        cx = F.expr(_PIPT_CX.format(i="CAST(id AS INT)"))
        cy = F.expr(_PIPT_CY.format(i="CAST(id AS INT)").replace("//", "DIV"))
        s = F.expr(_PIPT_S.format(i="CAST(id AS INT)"))
        verts = F.array(
            *[
                F.struct(
                    (F.col("cx") + F.lit(float(dx)) * F.col("s")).alias("x"),
                    (F.col("cy") + F.lit(float(dy)) * F.col("s")).alias("y"),
                )
                for dx, dy in _PIPT_OFF
            ]
        )
        (
            spark.range(_PIPT_N_POLY)
            .select(
                i.alias("zone_id"),
                cx.alias("cx"),
                cy.alias("cy"),
                s.alias("s"),
            )
            .select("zone_id", "cx", "cy", "s", verts.alias("verts"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(indir)
        )

    # marker on events: the polygon set is fixed, but staging follows
    # the shared freshness protocol keyed on the point source
    return stage_scratch("geo_pip_table", sf_dir, "events", build)


def _pipt_inside(verts: Column, px: Column, py: Column) -> Column:
    """Exact PNPOLY crossing-parity test of (px, py) against the
    8-vertex polygon ``verts`` — one F.aggregate over the edge list,
    pure codegen HOF (no explode, no Python)."""
    nv = len(_PIPT_OFF)

    def crossings(acc: Column, k: Column) -> Column:
        v1 = F.element_at(verts, k + 1)
        v2 = F.element_at(verts, ((k + 1) % nv) + 1)
        crosses = ((v1["y"] > py) != (v2["y"] > py)) & (
            px < (v2["x"] - v1["x"]) * (py - v1["y"]) / (v2["y"] - v1["y"]) + v1["x"]
        )
        return acc + F.when(crosses, 1).otherwise(0)

    total = F.aggregate(F.sequence(F.lit(0), F.lit(nv - 1)), F.lit(0), crossings)
    return total % 2 == 1


@query(
    "geo_point_in_polygon_table",
    oracle=f"""
    WITH pts AS (
      SELECT event_id,
             (-97.95e0) + (abs(value) % 40.0e0) / 100.0e0 AS px,
             30.10e0 + (user_id % 40) / 100.0e0 AS py,
             value
      FROM events
    ), off(k, dx, dy) AS (
      VALUES {", ".join(f"({k}, {dx}, {dy})" for k, (dx, dy) in enumerate(_PIPT_OFF))}
    ), polys AS (
      SELECT i AS zone_id,
             {_PIPT_CX.format(i="i")} AS cx,
             {_PIPT_CY.format(i="i")} AS cy,
             {_PIPT_S.format(i="i")} AS s
      FROM range({_PIPT_N_POLY}) t(i)
    ), verts AS (
      SELECT zone_id, k, cx + dx * s AS vx, cy + dy * s AS vy
      FROM polys CROSS JOIN off
    ), edges AS (
      SELECT a.zone_id, a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
      FROM verts a JOIN verts b
        ON a.zone_id = b.zone_id AND b.k = (a.k + 1) % {len(_PIPT_OFF)}
    ), hits AS (
      SELECT p.event_id, e.zone_id, p.value,
             SUM(CASE WHEN (y1 > py) <> (y2 > py)
                       AND px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
                  THEN 1 ELSE 0 END) AS crossings
      FROM pts p CROSS JOIN edges e
      GROUP BY p.event_id, e.zone_id, p.value
    )
    SELECT zone_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_value
    FROM hits
    WHERE crossings % 2 = 1
    GROUP BY zone_id
    """,
)
def geo_point_in_polygon_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon against a polygon TABLE at real cardinality:
    60 staged non-convex star polygons (council-district/census-tract
    shape, [P high] — the reference's production spatial assignment
    loads polygon files, it does not inline literals), points from
    events via the same deterministic synthesis as
    ``geo_point_in_polygon``.

    Scale plan — the many-polygon shape the literal-compiled twin
    cannot express:
    1. CANDIDATE GENERATION by grid-cell index: each polygon's bbox
       expands to its covering 0.02° cells (≤16 cells/polygon, 960
       slim rows total); each point maps to exactly ONE cell. The
       equi-join on (cell_x, cell_y) broadcasts the tiny cell index —
       NO CartesianProduct, and the 100 TB point table is never
       shuffled (plan-asserted in test_engine_units.py).
    2. EXACT VERIFY: PNPOLY crossing parity over the candidate's
       vertex array via one F.aggregate HOF — pure codegen, no
       explode, no Python. Bit-identical to the oracle's edge-table
       formulation because every arithmetic step is the same IEEE
       expression on both engines.
    3. One combinable agg shuffle on zone_id; exact DECIMAL(18,4)
       value summation (order-free, the round-4 house pattern).

    At 1000 executors this is: broadcast 960-row index, map-side
    cell hash + 16-edge parity check per candidate, one partial agg —
    the canonical spatial-join-by-grid-blocking design (same family
    as geo_bbox_join / join_interval_overlap bucket blocking)."""
    polys = spark.read.parquet(_stage_polygons(spark, sf_dir))
    g = float(_PIPT_CELL)
    rad = 3.0  # max |offset| in lattice units

    # polygon -> covering grid cells (bbox cover; slim (cell, zone) rows)
    cells = polys.select(
        "zone_id",
        "verts",
        F.explode(
            F.sequence(
                F.floor((F.col("cx") - rad * F.col("s")) / g).cast("int"),
                F.floor((F.col("cx") + rad * F.col("s")) / g).cast("int"),
            )
        ).alias("cell_x"),
        F.col("cy"),
        F.col("s"),
    ).select(
        "zone_id",
        "verts",
        "cell_x",
        F.explode(
            F.sequence(
                F.floor((F.col("cy") - rad * F.col("s")) / g).cast("int"),
                F.floor((F.col("cy") + rad * F.col("s")) / g).cast("int"),
            )
        ).alias("cell_y"),
    )

    ev = load(spark, sf_dir, "events")
    px = F.lit(-97.95) + (F.abs(F.col("value")) % F.lit(40.0)) / F.lit(100.0)
    py = F.lit(30.10) + (F.col("user_id") % 40) / F.lit(100.0)
    pts = ev.select(
        px.alias("px"),
        py.alias("py"),
        F.col("value"),
        F.floor(px / g).cast("int").alias("cell_x"),
        F.floor(py / g).cast("int").alias("cell_y"),
    )

    cand = pts.join(F.broadcast(cells), ["cell_x", "cell_y"])
    inside = cand.where(_pipt_inside(F.col("verts"), F.col("px"), F.col("py")))
    return inside.groupBy("zone_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# geo_od_matrix — origin-destination flow matrix with k-anonymity suppression
# ---------------------------------------------------------------------------


@query(
    "geo_od_matrix",
    oracle="""
    WITH trips AS (
      SELECT CONCAT(CAST(CAST(FLOOR(value / 50) AS BIGINT) AS VARCHAR), '_',
                    COALESCE(CAST(CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INTEGER) / 25.0) AS BIGINT) AS VARCHAR), 'x')) AS o_cell,
             CONCAT(CAST(CAST(FLOOR((value + (user_id % 7) * 30.0e0) / 50) AS BIGINT) AS VARCHAR), '_',
                    COALESCE(CAST(CAST(FLOOR((CAST(json_extract_string(props, '$.k') AS INTEGER) + event_id % 5) / 25.0) AS BIGINT) AS VARCHAR), 'x')) AS d_cell,
             value
      FROM events
    )
    SELECT o_cell, d_cell,
           CAST(COUNT(*) AS BIGINT) AS n_trips,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_value
    FROM trips
    GROUP BY o_cell, d_cell
    HAVING COUNT(*) >= 5
    """,
)
def geo_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix with k-anonymity suppression —
    the reference's PUBLISHED data product shape ([P high]: public
    dockless-mobility datasets are exactly OD trip counts between
    coarse geography cells, with sparse pairs suppressed below a
    k-anonymity floor so no individual trip is identifiable).
    Origin/destination cells are derived deterministically from event
    fields with the same floor-grid formula as ``geo_grid_bin``;
    pairs with fewer than 5 trips are suppressed (HAVING).

    Scale shape: pure codegen cell derivation (zero pre-agg shuffle),
    ONE combinable agg exchange on the cell key, suppression as a
    post-agg filter — at 100 TB this is the same map + partial-agg +
    final-agg profile as geo_grid_bin with a composite key. Exact
    DECIMAL(18,4) value sums (order-free, the round-4 house
    pattern).

    r14 optimization round (guide §2.3 shuffle keys/metadata, not
    payloads): the pre-r14 form built the two CELL STRINGS per input
    row and grouped on them — every row paid 2 concat_ws + 4
    long→string casts before the partial agg, and the exchange
    carried two strings. This form groups on the four underlying
    LONG components (floor(value/50), floor(k/25), ...) and formats
    the strings ONCE PER SURVIVING GROUP after the HAVING filter.
    The component→string mapping is injective (integer formatting
    never collides; a missing-k NULL renders as 'x', which no
    numeric component can produce; a NULL first component drops its
    separator, yielding a string with no '_' that only that shape
    can make), so the grouping partition is identical and the
    result bit-identical — pinned against the string-key twin in
    tests, incl. a synthesized null-k corpus for the 'x' path the
    stock corpus never exercises. Isolated-process ×100 A/B (fresh
    process per form, 5 hot runs, 2 epochs): packed 0.844/1.078 s
    vs string-key 3.397/3.169 s (~3× faster)."""
    return _od_matrix(spark, sf_dir, int_components=True)


def _od_matrix_stringkey_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 form: per-row cell-string build, groupBy on the
    two strings. Kept as the cross-form equality witness for the
    registered integer-component form (isolated ×100 epochs:
    string-key 3.397/3.169 s vs packed 0.844/1.078 s)."""
    return _od_matrix(spark, sf_dir, int_components=False)


def _od_matrix(
    spark: SparkSession, sf_dir: str, int_components: bool
) -> DataFrame:
    # project the JSON field ONCE: o_cell and d_cell both use k, and
    # Catalyst only de-duplicates cheap expressions — inlining the
    # raw extraction would parse every props document twice
    ev = with_json_field(
        load(spark, sf_dir, "events"), "k", "props", "k", "int"
    ).select("event_id", "user_id", "value", "k")
    k = F.col("k")
    o1 = F.floor(F.col("value") / 50)
    o2 = F.floor(k / 25.0)
    d1 = F.floor((F.col("value") + (F.col("user_id") % 7) * F.lit(30.0)) / 50)
    d2 = F.floor((k + F.col("event_id") % 5) / 25.0)

    # COALESCE the k-derived cell components (both engines): DuckDB
    # CONCAT keeps the '_' separator on a NULL operand while Spark
    # concat_ws drops it, so a NULL props.$.k would hash-diverge.
    def cell(a, b):
        return F.concat_ws(
            "_", a.cast("string"), F.coalesce(b.cast("string"), F.lit("x"))
        )

    aggs = [
        F.count(F.lit(1)).alias("n_trips"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_value"),
    ]
    if not int_components:
        return (
            ev.select(
                cell(o1, o2).alias("o_cell"), cell(d1, d2).alias("d_cell"), "value"
            )
            .groupBy("o_cell", "d_cell")
            .agg(*aggs)
            .where(F.col("n_trips") >= 5)
        )
    return (
        ev.select(
            o1.alias("o1"), o2.alias("o2"), d1.alias("d1"), d2.alias("d2"), "value"
        )
        .groupBy("o1", "o2", "d1", "d2")
        .agg(*aggs)
        .where(F.col("n_trips") >= 5)
        .select(
            cell(F.col("o1"), F.col("o2")).alias("o_cell"),
            cell(F.col("d1"), F.col("d2")).alias("d_cell"),
            "n_trips",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# geo_hex_ring_smooth — 7-cell hex-neighborhood density smoothing
# ---------------------------------------------------------------------------

_HEX_CELLS_SQL = f"""
      SELECT CAST(hq AS INTEGER) AS hex_q, CAST(hr AS INTEGER) AS hex_r,
             CAST(COUNT(*) AS BIGINT) AS n_points
      FROM (
        SELECT CASE WHEN dq > dr AND dq > ds THEN -rr - rs ELSE rq END AS hq,
               CASE WHEN dr > dq AND dr >= ds AND NOT (dq > dr AND dq > ds)
                    THEN -rq - rs ELSE rr END AS hr
        FROM (
          SELECT rq, rr, rs,
                 abs(rq - q) AS dq, abs(rr - r) AS dr, abs(rs - s) AS ds
          FROM (
            SELECT q, r, -q - r AS s,
                   CASE WHEN q >= 0 THEN floor(q + 0.5)
                        ELSE -floor(0.5 - q) END AS rq,
                   CASE WHEN r >= 0 THEN floor(r + 0.5)
                        ELSE -floor(0.5 - r) END AS rr,
                   CASE WHEN -q - r >= 0 THEN floor(-q - r + 0.5)
                        ELSE -floor(0.5 - (-q - r)) END AS rs
            FROM (
              SELECT (sqrt(3.0) / 3.0 * x - 1.0 / 3.0 * y) / {_HEX_SIZE} AS q,
                     (2.0 / 3.0 * y) / {_HEX_SIZE} AS r
              FROM (
                SELECT value AS x,
                       CAST(json_extract_string(props, '$.k') AS INTEGER) AS y
                FROM events
              )
            )
          )
        )
      )
      GROUP BY 1, 2
"""


@query(
    "geo_hex_ring_smooth",
    oracle=f"""
    WITH cells AS ({_HEX_CELLS_SQL}),
    contrib AS (
      SELECT c.hex_q + o.dq AS tq, c.hex_r + o.dr AS tr, c.n_points
      FROM cells c
      CROSS JOIN (VALUES (0, 0), (1, 0), (-1, 0), (0, 1), (0, -1),
                         (1, -1), (-1, 1)) o(dq, dr)
    ), ring AS (
      SELECT tq, tr,
             CAST(SUM(n_points) AS BIGINT) AS hood_n,
             CAST(COUNT(*) AS BIGINT) AS n_hood_cells
      FROM contrib GROUP BY tq, tr
    )
    SELECT c.hex_q, c.hex_r, c.n_points, r.hood_n, r.n_hood_cells,
           CAST((1000 * r.hood_n) // r.n_hood_cells AS BIGINT)
             AS density_milli
    FROM cells c JOIN ring r ON r.tq = c.hex_q AND r.tr = c.hex_r
    """,
)
def geo_hex_ring_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex-neighborhood (k-ring, k=1) density smoothing — the ring
    aggregation H3 users run right after binning ([P med]: the
    reference's public hex maps smooth single-cell noise before
    display; k-anonymity screens use the same 7-cell neighborhood).
    Each cell's smoothed density = mean points over itself + its 6
    axial neighbors, restricted to neighborhoods' EXISTING cells
    (integer milli-density via 1000·sum div cells — order-free
    exact).

    Plan shape: the per-cell summary is ONE combinable aggregation
    over events (the geo_hex_bin plan — its unused sum column is
    pruned by Catalyst); the ×7 offset explode and ring re-group act
    on the tiny CELL SUMMARY, never raw points. The ring step is
    expressed as a SINGLE re-group over the offset contributions —
    each contribution carries an is-center flag, so the target's own
    n_points and its cell-existence filter fall out of the same
    aggregate and the naive join-back of cells (which re-evaluates
    the whole events subtree — a DataFrame self-join has no DAG
    reuse without caching; the ×100 rehearsal measured the 2-pass
    join form at 2× scan cost) is not needed. At 100 TB: one events
    exchange + one summary-sized exchange, no join."""
    cells = geo_hex_bin(spark, sf_dir).select("hex_q", "hex_r", "n_points")
    offsets = F.array(
        *[
            F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
            for dq, dr in [(0, 0), (1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)]
        ]
    )
    contrib = cells.select(
        F.explode(offsets).alias("o"), "hex_q", "hex_r", "n_points"
    ).select(
        (F.col("hex_q") + F.col("o.dq")).alias("tq"),
        (F.col("hex_r") + F.col("o.dr")).alias("tr"),
        "n_points",
        ((F.col("o.dq") == 0) & (F.col("o.dr") == 0)).alias("is_center"),
    )
    ring = contrib.groupBy("tq", "tr").agg(
        F.sum("n_points").alias("hood_n"),
        F.count(F.lit(1)).alias("n_hood_cells"),
        F.sum(F.when(F.col("is_center"), F.col("n_points"))).alias("n_points_c"),
    )
    return (
        ring.where(F.col("n_points_c").isNotNull())
        .select(
            F.col("tq").alias("hex_q"),
            F.col("tr").alias("hex_r"),
            F.col("n_points_c").alias("n_points"),
            "hood_n",
            "n_hood_cells",
            F.expr("(1000 * hood_n) div n_hood_cells").alias("density_milli"),
        )
    )


# ---------------------------------------------------------------------------
# geo_trip_quality_flags — per-user breadcrumb-leg validation screen
# ---------------------------------------------------------------------------

_TELEPORT_DIST = 200.0  # units; ~p99 of the leg distribution
_GAP_BREAK_US = 172_800_000_000  # 48 h in µs — route-continuity break
_SPEED_MAX = 0.02  # units/second; fast tail of dist/dt


@query(
    "geo_trip_quality_flags",
    oracle=f"""
    WITH pts AS (
      SELECT user_id, ts, event_id, value AS x,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS y
      FROM events
    ), legs AS (
      SELECT user_id,
             sqrt(power(x - LAG(x) OVER w, 2)
                  + power(y - LAG(y) OVER w, 2)) AS dist,
             epoch_us(CAST(ts AS TIMESTAMP))
               - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS dt_us
      FROM pts
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(COUNT(dist) AS BIGINT) AS n_legs,
           CAST(SUM(CASE WHEN dist > {_TELEPORT_DIST}e0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_teleport,
           CAST(SUM(CASE WHEN dt_us > {_GAP_BREAK_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_gap_breaks,
           CAST(SUM(CASE WHEN dt_us > 0 AND
                              dist / (CAST(dt_us AS DOUBLE) / 1000000e0)
                                > {_SPEED_MAX}e0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_speeding
    FROM legs
    WHERE dist IS NOT NULL
    GROUP BY user_id
    """,
)
def geo_trip_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user breadcrumb-leg VALIDATION screen — the reference's
    trip-sanity step ([P high]: provider trip feeds carry GPS jumps,
    stale timestamps, and physically impossible speeds that must be
    flagged before publication): per consecutive leg on the declared
    (value, props.k) coordinate plane, flag teleports (dist >
    threshold), route-continuity breaks (Δt > 48 h), and speeding
    (dist/Δt above the max) — counted per user.

    Cross-engine exactness: dist is the geo_trip_length sqrt/pow
    tree (identical doubles); Δt is an exact BIGINT in µs
    (unix_micros / epoch_us — never a double subtraction, hazard
    #10's epoch rule); the speed compare divides identical doubles
    by identical positive doubles (single correctly-rounded ops) and
    is GUARDED by dt_us > 0 on BOTH engines — an unguarded zero-Δt
    leg would be NULL-comparison false on Spark but inf > max = true
    on DuckDB (hazard #3). Plan: one user_id window exchange (both
    lags share the sort), flags map-side, combinable agg on the same
    key — geo_trip_length's exact plan family, so its measured
    1.10× ×100 row prices this shape too."""
    ev = with_json_field(
        load(spark, sf_dir, "events"), "y", "props", "k", "int"
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.col("value").alias("x"),
        "y",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dist = F.sqrt(
        F.pow(F.col("x") - F.lag("x").over(w), 2)
        + F.pow(F.col("y") - F.lag("y").over(w), 2)
    )
    dt_us = F.col("t_us") - F.lag("t_us").over(w)
    legs = ev.select(
        "user_id", dist.alias("dist"), dt_us.alias("dt_us")
    ).where(F.col("dist").isNotNull())
    speed_bad = (F.col("dt_us") > 0) & (
        F.col("dist") / (F.col("dt_us").cast("double") / F.lit(1000000.0))
        > F.lit(_SPEED_MAX)
    )
    return legs.groupBy("user_id").agg(
        F.count("dist").alias("n_legs"),
        F.sum(
            F.when(F.col("dist") > F.lit(_TELEPORT_DIST), 1).otherwise(0)
        ).alias("n_teleport"),
        F.sum(
            F.when(F.col("dt_us") > F.lit(_GAP_BREAK_US), 1).otherwise(0)
        ).alias("n_gap_breaks"),
        F.sum(F.when(speed_bad, 1).otherwise(0)).alias("n_speeding"),
    )
