"""Relational graph-analytics operators (gph_*).

Degree distribution, triangles, neighbourhood Jaccard, scaled
PageRank and BFS reachability over the customer–supplier and
co-purchase graphs built from the TPC-H tables — the co-occurrence
analyses run on the entity graphs this engine already materializes.
Every algorithm is joins plus aggregations with integer-exact cores;
iterative ones run a fixed number of supersteps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load


# ---------------------------------------------------------------------------
# graph family — customer/supplier and part co-occurrence graphs
# ---------------------------------------------------------------------------


def _cust_supp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (customer, supplier) edge list of the bipartite
    trade graph: an edge wherever a customer's order contains a
    lineitem from the supplier. One projection-pruned join + one
    distinct exchange; at 100 TB both sides shuffle on the edge key
    once and every downstream graph metric reuses this frame."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        # cached: every graph metric fans out over this frame 2-5
        # times (degree sides, wedge join, edge count) — without the
        # cache each consumer re-executes the join+distinct subtree.
        # At 100 TB the equivalent is materializing the edge list to
        # a bucketed table once per snapshot.
        .cache()
    )


_EDGE_SQL = """
    SELECT DISTINCT o_custkey AS c, l_suppkey AS s
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


@query(
    "gph_degree_distribution",
    oracle=f"""
    WITH e AS ({_EDGE_SQL}),
    sd AS (SELECT s AS node, COUNT(*) AS degree FROM e GROUP BY s),
    cd AS (SELECT c AS node, COUNT(*) AS degree FROM e GROUP BY c)
    SELECT 'supplier' AS side, degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM sd GROUP BY degree
    UNION ALL
    SELECT 'customer' AS side, degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM cd GROUP BY degree
    """,
)
def gph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the bipartite customer-supplier trade
    graph ([P med]: degree profiling is the first screen of any
    entity-graph analysis — vendor concentration, hub detection,
    power-law checks). Per side: node degree from the distinct edge
    list, then the histogram degree -> node count.

    Plan shape: ONE distinct exchange builds the edge list; each
    side's degree count is a combinable agg riding that partitioning
    (supplier side re-shuffles on s — low cardinality, map-side
    combined), and the final histogram aggregates <=n_nodes slim
    rows. Integer-exact throughout. At 100 TB the edge distinct is
    the only wide exchange; histograms are a few thousand rows no
    matter the input scale."""
    e = _cust_supp_edges(spark, sf_dir)
    sd = e.groupBy(F.col("s").alias("node")).agg(F.count(F.lit(1)).alias("degree"))
    cd = e.groupBy(F.col("c").alias("node")).agg(F.count(F.lit(1)).alias("degree"))
    hist = lambda d, side: (  # noqa: E731
        d.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes")).select(
            F.lit(side).alias("side"), "degree", "n_nodes"
        )
    )
    return hist(sd, "supplier").unionAll(hist(cd, "customer"))


# part co-occurrence graph: nodes are sampled parts (partkey % 5 = 0),
# an undirected edge wherever two such parts ship in the same order.
_COPART_SQL = """
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
          WHERE l_partkey % 5 = 0) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
          WHERE l_partkey % 5 = 0) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


def _copart_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-purchase edges (u < v canonical orientation)
    between sampled parts sharing an order. The order-key equi-join
    bounds candidate pairs to within-order combinations (never
    all-pairs); the %5 node sample is the analysis scope, not a
    correctness crutch — drop it and the shape is unchanged."""
    items = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )


@query(
    "gph_triangle_count",
    oracle=f"""
    WITH e AS ({_COPART_SQL}),
    deg AS (
      SELECT node, COUNT(*) AS d
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY node
    ),
    tri AS (
      SELECT COUNT(*) AS n_tri
      FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3
        ON e3.u = e1.u AND e3.v = e2.v
    ),
    wed AS (SELECT SUM(d * (d - 1) / 2) AS n_wedges FROM deg)
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST(wed.n_wedges AS BIGINT) AS n_wedges,
           CAST(tri.n_tri AS BIGINT) AS n_triangles,
           3.0e0 * tri.n_tri / NULLIF(wed.n_wedges, 0)
             AS global_clustering
    FROM tri CROSS JOIN wed
    """,
)
def gph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient over the
    part co-purchase graph ([P med]: triangle/clustering statistics
    are the standard cohesion screen for co-occurrence graphs —
    fraud rings, product-affinity tightness, community structure).
    Canonical u<v orientation makes each triangle (u<v<w) counted
    exactly once by the edge-edge-edge closure join; wedges come from
    the degree aggregate (sum d*(d-1)/2), so global clustering =
    3*triangles/wedges.

    Plan shape: the closure is TWO equi-joins on single node keys
    (wedge build on v, closure probe on (u, w)) — the standard
    distributed edge-iterator; no cartesian anywhere. Skew note for
    100 TB: wedge volume is sum(d^2) — production would orient edges
    low-degree->high-degree first (cuts wedges to O(m^1.5)); the
    canonical-id orientation here keeps the oracle identical and the
    testdata degrees are near-uniform. Integer-exact counts; the
    coefficient is one NULLIF-guarded division of exact integers,
    bit-identical on both engines."""
    e = _copart_edges(spark, sf_dir).cache()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("n_tri").alias("n_triangles"),
            (
                F.lit(3.0) * F.col("n_tri")
                / F.nullif(F.col("n_wedges").cast("double"), F.lit(0.0))
            ).alias("global_clustering"),
        )
    )


@query(
    "gph_jaccard_neighbors",
    oracle=f"""
    WITH e AS ({_EDGE_SQL}),
    deg AS (SELECT s, COUNT(*) AS d FROM e GROUP BY s),
    inter AS (
      SELECT a.s AS s1, b.s AS s2, COUNT(*) AS n_common
      FROM e a JOIN e b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s
    )
    SELECT s1, s2,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(d1.d AS BIGINT) AS deg1,
           CAST(d2.d AS BIGINT) AS deg2,
           CAST(n_common AS DOUBLE) / (d1.d + d2.d - n_common) AS jaccard
    FROM inter JOIN deg d1 ON d1.s = inter.s1
               JOIN deg d2 ON d2.s = inter.s2
    ORDER BY jaccard DESC, s1, s2
    LIMIT 50
    """,
)
def gph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity between suppliers (shared
    customer sets) — the link-prediction / entity-resolution screen
    ([P med]: "which two vendors serve the same customer base" is the
    co-occurrence-similarity question behind substitution analysis
    and near-duplicate entity detection). Co-occurrence counting via
    the per-customer wedge join (a.c = b.c, s1 < s2), degrees from
    the same edge list, Jaccard = |A∩B| / (|A|+|B|-|A∩B|), top-50
    with a TOTAL (jaccard, s1, s2) tie-break so the LIMIT is
    deterministic.

    Plan shape: edge distinct (1 exchange) -> wedge equi-join on the
    customer key (1 shuffle, volume sum_c deg(c)^2 — never
    all-supplier-pairs) -> combinable pair agg -> two BROADCAST
    degree joins (degree table is one row per supplier) ->
    TakeOrderedAndProject (no global sort). Skew note for 100 TB: a
    hub customer with degree D contributes D^2 wedges — production
    caps or salts hub keys (the llm_dedup_near_minhash posture);
    degrees here are near-uniform. jaccard is ONE division of exact
    integers — bit-identical both engines, ties broken by id."""
    e = _cust_supp_edges(spark, sf_dir)
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a, b = e.alias("a"), e.alias("b")
    inter = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("deg1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("deg2"))
    return (
        inter.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            "deg1",
            "deg2",
            (
                F.col("n_common").cast("double")
                / (F.col("deg1") + F.col("deg2") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "s1", "s2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# gph_pagerank_scaled — integer-exact damped PageRank (2 unrolled steps)
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000  # fixed-point rank scale
_PR_BASE = 150_000  # (1 - 0.85) * scale


@query(
    "gph_pagerank_scaled",
    oracle=f"""
    WITH e0 AS ({_COPART_SQL}),
    e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    deg AS (SELECT u AS node, COUNT(*) AS d FROM e GROUP BY u),
    r1 AS (
      SELECT e.v AS node,
             {_PR_BASE} + (85 * SUM({_PR_SCALE} // dg.d)) // 100 AS r
      FROM e JOIN deg dg ON dg.node = e.u
      GROUP BY e.v
    ),
    r2 AS (
      SELECT e.v AS node,
             {_PR_BASE} + (85 * SUM(r1.r // dg.d)) // 100 AS r
      FROM e JOIN deg dg ON dg.node = e.u
             JOIN r1 ON r1.node = e.u
      GROUP BY e.v
    )
    SELECT r2.node, CAST(dg.d AS BIGINT) AS degree,
           CAST(r2.r AS BIGINT) AS rank_scaled
    FROM r2 JOIN deg dg ON dg.node = r2.node
    ORDER BY r2.r DESC, r2.node
    LIMIT 20
    """,
)
def gph_pagerank_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank over the part co-purchase graph, 2 unrolled
    supersteps in FIXED-POINT integer arithmetic — the centrality
    member of the graph family ([P med]: PageRank-style influence
    scoring is the standard co-occurrence-graph ranking). Undirected
    graph → both edge orientations; r0 = SCALE per node; each step
    r' = (1−d)·SCALE + (85·Σ_in (r // deg)) // 100 with integer
    floor division EVERYWHERE, so there is no floating-point
    accumulation anywhere — sums of exact integers are order-free
    and the result is bit-identical across engines, partitionings,
    and retries (the determinism double-rank float PageRank cannot
    give). Top-20 by (rank desc, node) total order.

    The fixed-point floor truncation loses < 1 unit per in-edge per
    step (bounded, documented) — acceptable for ranking, which is
    the operator's declared product.

    Plan shape per superstep: contribution join on the source node +
    combinable agg on the destination — the standard distributed
    PageRank shape (the iterative driver-loop version with
    localCheckpoint lineage cuts is the llm_dedup_clusters pattern;
    2 unrolled steps keep the key declarative and oracle-checkable).
    Degrees/ranks are slim (node, int) frames; the edge list is the
    only corpus-scale input, reused cached across steps."""
    e0 = _copart_edges(spark, sf_dir)
    e = (
        e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    ).cache()
    deg = e.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))

    def step(rank_df):
        src = (
            e.join(deg.withColumnRenamed("node", "u"), "u")
            .join(rank_df.withColumnRenamed("node", "u"), "u")
        )
        return src.groupBy(F.col("v").alias("node")).agg(
            F.expr(
                f"{_PR_BASE} + (85 * SUM(r div d)) div 100"
            ).alias("r")
        )

    r0 = deg.select("node", F.lit(_PR_SCALE).cast("long").alias("r"))
    r2 = step(step(r0))
    return (
        r2.join(deg, "node")
        .select("node", F.col("d").alias("degree"), F.col("r").alias("rank_scaled"))
        .orderBy(F.desc("rank_scaled"), "node")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# gph_bfs_reachability — bounded-hop BFS over the co-purchase graph
# ---------------------------------------------------------------------------


@query(
    "gph_bfs_reachability",
    oracle=f"""
    WITH e AS MATERIALIZED ({_COPART_SQL}),
    sym AS MATERIALIZED (
      SELECT u AS a, v AS b FROM e
      UNION ALL
      SELECT v AS a, u AS b FROM e
    ),
    d0 AS MATERIALIZED (SELECT MIN(u) AS node FROM e),
    f1 AS MATERIALIZED (
      SELECT DISTINCT s.b AS node FROM sym s JOIN d0 ON s.a = d0.node
      WHERE s.b NOT IN (SELECT node FROM d0)
    ),
    f2 AS MATERIALIZED (
      SELECT DISTINCT s.b AS node FROM sym s JOIN f1 ON s.a = f1.node
      WHERE s.b NOT IN (SELECT node FROM f1)
        AND s.b NOT IN (SELECT node FROM d0)
    ),
    f3 AS MATERIALIZED (
      SELECT DISTINCT s.b AS node FROM sym s JOIN f2 ON s.a = f2.node
      WHERE s.b NOT IN (SELECT node FROM f2)
        AND s.b NOT IN (SELECT node FROM f1)
        AND s.b NOT IN (SELECT node FROM d0)
    )
    SELECT 0 AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM d0
    UNION ALL
    SELECT 1 AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM f1
    UNION ALL
    SELECT 2 AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM f2
    UNION ALL
    SELECT 3 AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM f3
    """,
)
def gph_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS reachability from a canonical source (the
    minimum node id) over the undirected co-purchase graph — the 4th
    graph-family member beside degree / triangles / PageRank ([P
    med]: "how much of the graph is within k hops of X" is the
    standard blast-radius / influence screen). THREE supersteps
    unrolled (the gph_pagerank_scaled posture): frontier_{k+1} =
    distinct neighbors of frontier_k minus all previous levels,
    output = the level-size histogram.

    Exactness: node ids and counts are integers end to end.

    Plan shape: the edge frame is the cached §2.21 co-purchase list;
    each superstep is ONE equi-join (frontier broadcast — frontiers
    are tiny vs the edge list) + distinct + anti-joins against
    previous levels (also broadcast), and each frontier is
    localCheckpoint'ed (the llm_dedup_clusters lineage-cut pattern):
    without the cut, f3's plan re-embeds f2's subtree three times and
    f1's nine — the audit showed 252 exchanges before the cut, 4
    after. The SAME blowup exists on the oracle side — DuckDB inlines
    plain CTEs, so each level is declared AS MATERIALIZED (the SQL
    spelling of the lineage cut; without it the ×100 oracle ran past
    10 minutes, with it seconds). At 100 TB the same unrolled shape holds while frontiers
    stay ≪ edges (real blast-radius queries); the general unbounded
    BFS is the same pattern in a driver loop with a convergence
    count per superstep."""
    e = _copart_edges(spark, sf_dir)
    sym = e.select(
        F.col("u").alias("a"), F.col("v").alias("b")
    ).unionAll(e.select(F.col("v").alias("a"), F.col("u").alias("b")))
    d0 = e.agg(F.min("u").alias("node"))

    def step(frontier: DataFrame, *visited: DataFrame) -> DataFrame:
        nxt = (
            sym.join(
                F.broadcast(frontier.withColumnRenamed("node", "fnode")),
                F.col("a") == F.col("fnode"),
            )
            .select(F.col("b").alias("node"))
            .distinct()
        )
        for v in visited:
            nxt = nxt.join(F.broadcast(v), "node", "left_anti")
        # lineage cut: each frontier is consumed by 2-4 downstream
        # plans (the next superstep + the anti-joins of later ones);
        # without the cut the plan tree grows exponentially per hop.
        return nxt.localCheckpoint()

    f1 = step(d0, d0)
    f2 = step(f1, f1, d0)
    f3 = step(f2, f2, f1, d0)
    levels = [d0, f1, f2, f3]
    out = None
    for hop, lvl in enumerate(levels):
        row = lvl.agg(F.count(F.lit(1)).alias("n_nodes")).select(
            F.lit(hop).alias("hop"), "n_nodes"
        )
        out = row if out is None else out.unionAll(row)
    return out
