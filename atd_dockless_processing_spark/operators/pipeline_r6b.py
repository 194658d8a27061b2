"""Round-6 breadth extensions — SURVEY.md §2.21.

Second round-6 batch, opened after the verdict's missing list was
closed: a relational GRAPH-ANALYTICS family (degree / triangles /
neighborhood similarity — the co-occurrence analyses a mobility or
training-data team runs on exactly the entity graphs this engine
already materializes), the fifth mergeable-sketch member (KMV/theta
distinct with SET OPERATIONS, which HLL cannot do), and
training-data-pipeline breadth (corpus bigram statistics, importance
resampling). Reference parity per SURVEY §0: the checkout was empty,
so each operator cites the public capability it generalizes ([P]
tags).

Every key here follows the house exactness rules
(scripts/selfcheck.py): integer-exact cores, BIGINT casts over
DuckDB's HUGEINT sums, divisions only as single correctly-rounded
IEEE expressions shared verbatim between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.json_fast import with_json_field
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
# txt_ngram_topk — corpus-wide bigram frequency top-k
# ---------------------------------------------------------------------------


@query(
    "txt_ngram_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), big AS (
      SELECT doc_id,
             UNNEST(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks
    )
    SELECT bigram,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM big
    GROUP BY bigram
    ORDER BY n_occurrences DESC, bigram
    LIMIT 20
    """,
)
def txt_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram frequency top-k — the n-gram statistics
    pass of a training-data pipeline (phrase tables, boilerplate
    phrase detection, contamination shingle vocabularies all start
    here [P med]). Bigrams are built MAP-SIDE with a transform over
    the token array (no token explode followed by a self-join — the
    classic shuffle trap for n-gram construction), then one
    combinable count aggregate and a deterministic
    (count desc, bigram) top-20.

    Plan shape (r7 single-shuffle form): scan -> codegen
    split+transform -> per-doc RUN-LENGTH ENCODING of the sorted
    bigram array (array_sort + run-start indices via filter, then one
    struct per distinct in-doc bigram with its count — all HOFs,
    map-side, each tier staged in its own Project) -> explode ->
    ONE agg exchange on bigram (sum(c) = occurrences, count(*) =
    distinct docs, both combinable) -> TakeOrderedAndProject. The
    previous (bigram, doc) pre-agg form shuffled the distinct-pair
    stream TWICE (pair agg, then bigram agg); RLE produces exactly
    one row per distinct (bigram, doc) map-side, so the pair shuffle
    disappears — ×100 A/B: 7.43 -> 5.62 s, identical 20 rows. At
    100 TB bigram cardinality is bounded by vocabulary^2 in theory
    but Zipf in practice; a production variant adds a count-min
    prefilter (the agg_cms_heavy_hitters composition) before the
    exact pass. Integer-exact; the LIMIT boundary is tie-broken by
    bigram, so the result set is deterministic on both engines."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    bigrams = toks.select(
        "doc_id",
        F.when(
            F.size("t") >= 2,
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> concat(t[i], ' ', t[i + 1]))"
            ),
        ).otherwise(F.array().cast("array<string>")).alias("bg"),
    )
    srt = bigrams.select("doc_id", F.array_sort("bg").alias("b"))
    # size guard: sequence(0, n) infers a NEGATIVE step for n < 0
    # (house hazard list #10), so an empty bigram array must map to an
    # empty index list, not [0, -1]
    starts = srt.select(
        "doc_id",
        "b",
        F.expr(
            "CASE WHEN size(b) = 0 THEN array()"
            " ELSE filter(sequence(0, size(b) - 1),"
            " i -> i = 0 or b[i] != b[i - 1]) END"
        ).alias("st"),
    )
    pairs = starts.select(
        F.explode(
            F.expr(
                "CASE WHEN size(st) = 0"
                " THEN CAST(array() AS array<struct<bigram:string,c:int>>)"
                " ELSE transform(sequence(0, size(st) - 1),"
                " j -> struct(b[st[j]] as bigram,"
                " (if(j + 1 < size(st), st[j + 1], size(b))) - st[j] as c)) END"
            )
        ).alias("p")
    ).select("p.bigram", "p.c")
    return (
        pairs.groupBy("bigram")
        .agg(
            F.sum("c").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# llm_importance_resample — quality-weighted deterministic resampling
# ---------------------------------------------------------------------------

# acceptance test as PURE INTEGER arithmetic: keep doc iff
#   u < w  with  u = h/2^48,  w = min(n_chars, 500)/500
# <=> h * 500 < min(n_chars, 500) * 2^48        (exact, no FP anywhere)
_RS_H_SPARK = "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"
_RS_H_DUCK = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)"
_RS_KEEP = "({h} * 500 < LEAST(n_chars, 500) * 281474976710656)"


@query(
    "llm_importance_resample",
    oracle=f"""
    WITH scored AS (
      SELECT source, n_chars,
             CASE WHEN {_RS_KEEP.format(h=_RS_H_DUCK)} THEN 1 ELSE 0 END AS kept
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(CAST(SUM(LEAST(n_chars, 500)) AS BIGINT) AS DOUBLE)
             / (500.0e0 * COUNT(*)) AS expected_rate,
           CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS actual_rate
    FROM scored
    GROUP BY source
    """,
)
def llm_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance resampling — the data-mixing
    primitive behind quality-filtered corpus construction ([P med]:
    sampling documents with probability proportional to a quality
    weight is how public pipelines reweight toward higher-quality
    text without hard cutoffs). Weight = min(n_chars, 500)/500 (the
    length-capped quality proxy); each doc keeps a deterministic
    md5-uniform draw u = h/2^48 and survives iff u < w.

    The acceptance test is rearranged to PURE INTEGER arithmetic
    (h*500 < min(n_chars,500)*2^48), so the Bernoulli draw has ZERO
    floating-point hazard and the decision is reproducible across
    engines, retries, and partitionings — the property a training
    pipeline needs for dataset versioning. Report per source:
    n_docs, n_kept, expected vs actual acceptance rate (each ONE
    IEEE division of exact integers — bit-identical, no ROUND).

    Plan shape: scan -> codegen hash+compare (no shuffle) -> one
    combinable agg on source. Embarrassingly parallel at 100 TB; the
    kept subset would be written straight out with the same map-side
    predicate (filter pushes into the scan stage)."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        "n_chars",
        F.expr(_RS_KEEP.format(h=_RS_H_SPARK)).cast("int").alias("kept"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        (
            F.sum(F.least("n_chars", F.lit(500))).cast("double")
            / (F.lit(500.0) * F.count(F.lit(1)))
        ).alias("expected_rate"),
        (F.sum("kept").cast("double") / F.count(F.lit(1))).alias("actual_rate"),
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
    engineering for behavioral models; breadth-of-usage scoring).
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
# dq_benford_digits — first-digit distribution vs Benford expectation
# ---------------------------------------------------------------------------

# log10(1 + 1/d) as shared literals (identical decimal text parses to
# the identical IEEE double on both engines — no transcendental is
# evaluated at query time).
_BENFORD = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {v}e0" for d, v in _BENFORD.items())
    + " END"
)


@query(
    "dq_benford_digits",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), counted AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT SUM(n) AS total FROM counted)
    SELECT digit, n,
           CAST(n AS DOUBLE) / total AS share,
           {_BENFORD_CASE} AS expected,
           ROUND(POWER(CAST(n AS DOUBLE) - total * ({_BENFORD_CASE}), 2)
                 / (total * ({_BENFORD_CASE})), 6) AS chi2_contrib
    FROM counted CROSS JOIN tot
    """,
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit screen over order totals —
    the fraud/data-fabrication detector ([P med]: first-digit
    distribution tests are the standard forensic screen for invented
    monetary values; a pipeline runs it as a data-quality gate on
    financial columns). First digit extracted by STRING inspection of
    the integer part (no log10 at query time — the transcendental
    lives only in the Benford constants, which are shared decimal
    literals parsing to identical doubles), counts exact, share one
    IEEE division, chi-square contribution the same shared expression
    tree on both engines rounded to 6.

    Plan shape: scan (only o_totalprice read) -> codegen digit ->
    ONE combinable 9-cell aggregate -> 9-row arithmetic. At 100 TB:
    a full scan and a 9-row shuffle — nothing else grows."""
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counted = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    expected = F.expr(_BENFORD_CASE)
    total = F.sum("n").over(w)
    return counted.select(
        "digit",
        "n",
        (F.col("n").cast("double") / total).alias("share"),
        expected.alias("expected"),
        F.round(
            F.pow(F.col("n").cast("double") - total * expected, 2)
            / (total * expected),
            6,
        ).alias("chi2_contrib"),
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
# mm_image_resize — nearest-neighbor thumbnail over decoded BMP pixels
# ---------------------------------------------------------------------------

import struct  # noqa: E402
from collections.abc import Iterator  # noqa: E402

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from .multimodal import _bmp_payload  # noqa: E402

_THUMB = 8  # fixed 8x8 thumbnail


@query(
    "mm_image_resize",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, text, n_chars AS L,
             (n_chars % 64) + 1 AS w,
             (n_chars % 48) + 1 AS h,
             ((3 * ((n_chars % 64) + 1) + 3) // 4) * 4 AS stride
      FROM documents
    ), pos AS (
      SELECT g.doc_id, r.k AS r, c.k AS c,
             (((r.k * g.h) // {_THUMB}) * g.stride
              + ((c.k * g.w) // {_THUMB}) * 3) % g.L AS p
      FROM g CROSS JOIN range({_THUMB}) r(k) CROSS JOIN range({_THUMB}) c(k)
    ), chars AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
             ascii(substr(text, CAST(i AS INTEGER), 1)) AS b
      FROM (SELECT doc_id, text, UNNEST(generate_series(1, L)) AS i FROM g)
    )
    SELECT g.doc_id,
           CAST(g.w AS INTEGER) AS src_w,
           CAST(g.h AS INTEGER) AS src_h,
           CAST(SUM(ch.b) AS BIGINT) AS thumb_sum,
           CAST(MAX(CASE WHEN pos.r = 0 AND pos.c = 0 THEN ch.b END)
                AS INTEGER) AS px_first,
           CAST(MAX(CASE WHEN pos.r = {_THUMB} - 1 AND pos.c = {_THUMB} - 1
                         THEN ch.b END) AS INTEGER) AS px_last
    FROM g
    JOIN pos ON pos.doc_id = g.doc_id
    JOIN chars ch ON ch.doc_id = pos.doc_id AND ch.p = pos.p
    GROUP BY g.doc_id, g.w, g.h
    """,
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor thumbnail (8x8) over REAL decoded BMP pixel
    arrays — the resize half of the multimodal feature-extraction
    story (decode is ``mm_decode_stub``): header parsed with
    struct.unpack from the actual payload bytes, source pixel for
    thumbnail cell (r, c) at buffer row r*h//8, column c*w//8 (blue
    channel byte at row*stride + col*3 — BUFFER coordinates; BMP's
    bottom-up storage only flips orientation, which a checksum
    doesn't see), all 64 samples gathered with one numpy fancy-index.
    Emits src dims, exact thumb byte sum, and the two corner pixels —
    a wrong stride, offset, or floor-vs-round sampling rule flips
    the hash.

    The oracle re-derives every sampled byte from the closed form
    (pixel q is ascii(text[q mod L]) — the mm_decode_stub pattern)
    over a 64-cell lateral grid, so Spark's byte-level decode is
    checked against a formulation that never touches the binary.

    Scale shape: stateless Arrow ``mapInPandas``, zero shuffle,
    binary columnar end-to-end; resize output is O(thumbnail) per
    row regardless of source image size — exactly how a real
    PIL/ffmpeg resize stage plugs in (swap the numpy body, keep the
    plumbing). Integer-exact everywhere."""
    payload = _bmp_payload(load(spark, sf_dir, "documents"))

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, buf in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(buf)
                if buf[:2] != b"BM":
                    raise NotImplementedError("non-BMP needs a codec library")
                offset = struct.unpack_from("<I", buf, 10)[0]
                _hs, w, h, _pl, bpp = struct.unpack_from("<IiiHH", buf, 14)
                h = abs(h)
                stride = ((bpp // 8) * w + 3) & ~3
                px = np.frombuffer(buf, np.uint8, count=stride * h, offset=offset)
                rs = (np.arange(_THUMB) * h) // _THUMB
                cs = (np.arange(_THUMB) * w) // _THUMB
                thumb = px[rs[:, None] * stride + cs[None, :] * 3]
                rows.append(
                    (
                        int(did),
                        int(w),
                        int(h),
                        int(thumb.astype(np.int64).sum()),
                        int(thumb[0, 0]),
                        int(thumb[-1, -1]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "src_w",
                    "src_h",
                    "thumb_sum",
                    "px_first",
                    "px_last",
                ],
            )

    return payload.mapInPandas(
        resize,
        "doc_id long, src_w int, src_h int, thumb_sum long, "
        "px_first int, px_last int",
    )


# ---------------------------------------------------------------------------
# src_json_corrupt — PERMISSIVE malformed-record intake
# ---------------------------------------------------------------------------


def _stage_corrupt_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """Stage a JSONL extract of documents where every doc_id % 37 == 0
    line is DELIBERATELY malformed (an unterminated object) — the
    provider-feed reality every intake pipeline faces. Built
    distributed via the text sink; the staged dir carries only the
    raw lines."""
    from ..tables import stage_scratch

    def build(indir: str) -> None:
        d = load(spark, sf_dir, "documents")
        line = F.when(
            F.col("doc_id") % 37 == 0,
            F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string")),
        ).otherwise(
            F.concat(
                F.lit('{"doc_id": '),
                F.col("doc_id").cast("string"),
                F.lit(', "len": '),
                F.col("n_chars").cast("string"),
                F.lit(', "lang": "'),
                F.col("lang"),
                F.lit('"}'),
            )
        )
        d.select(line.alias("value")).write.mode("overwrite").text(indir)

    return stage_scratch("src_json_corrupt", sf_dir, "documents", build)


@query(
    "src_json_corrupt",
    oracle="""
    SELECT CASE WHEN doc_id % 37 = 0 THEN 'corrupt' ELSE 'parsed' END
             AS status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(CASE WHEN doc_id % 37 <> 0 THEN n_chars END), 0)
                AS BIGINT) AS sum_len,
           CAST(COUNT(DISTINCT CASE WHEN doc_id % 37 <> 0 THEN lang END)
                AS BIGINT) AS n_langs
    FROM documents
    GROUP BY 1
    """,
)
def src_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE malformed-record intake — the JSON datasource's
    quarantine path ([P high]: provider feeds ship broken lines, and
    the reference's ingest posture — land everything, quarantine the
    unparseable — is exactly Spark's PERMISSIVE mode with
    ``columnNameOfCorruptRecord``). The staged JSONL has a
    deterministically malformed line per doc_id % 37 == 0; the query
    reads with an EXPLICIT schema (never schema inference at 100 TB —
    inference is a full extra pass) + `_bad` corrupt-record column,
    then reports the parsed/corrupt split with per-status stats. The
    oracle recomputes the split from the PRE-STAGING table, so a
    parser that silently drops (DROPMALFORMED) or nulls the wrong
    rows flips row counts and sums.

    Scale shape: the JSON parse happens inside the scan stage
    (per-file tasks, no shuffle), one combinable 2-cell aggregate
    after. Malformed lines cost no exception unwind — PERMISSIVE
    fills `_bad` and moves on."""
    indir = _stage_corrupt_jsonl(spark, sf_dir)
    # .cache() is LOAD-BEARING, not an optimization: Spark refuses
    # any query whose pruned column set references ONLY the corrupt-
    # record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN — e.g. a
    # count() prunes len/lang away and trips it); caching the parsed
    # frame is the behavior Spark's own error message prescribes.
    parsed = (
        spark.read.schema("doc_id long, len long, lang string, _bad string")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(indir)
        .cache()
    )
    return (
        parsed.select(
            F.when(F.col("_bad").isNotNull(), "corrupt")
            .otherwise("parsed")
            .alias("status"),
            "len",
            F.when(F.col("_bad").isNull(), F.col("lang")).alias("ok_lang"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.sum("len"), F.lit(0)).alias("sum_len"),
            F.countDistinct("ok_lang").alias("n_langs"),
        )
    )


# ---------------------------------------------------------------------------
# llm_shard_assign — deterministic training-shard assignment + balance audit
# ---------------------------------------------------------------------------

_SHARDS = 32
_SHARD_H_SPARK = (
    "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"
)
_SHARD_H_DUCK = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)"
)


@query(
    "llm_shard_assign",
    oracle=f"""
    WITH assigned AS (
      SELECT ({_SHARD_H_DUCK}) % {_SHARDS} AS shard, n_chars
      FROM documents
    ), per AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM assigned GROUP BY shard
    )
    SELECT shard, n_docs, total_chars,
           CAST(total_chars AS DOUBLE)
             / SUM(total_chars) OVER () AS char_share,
           CAST(total_chars AS DOUBLE) * {_SHARDS}
             / SUM(total_chars) OVER () AS balance_ratio
    FROM per
    """,
)
def llm_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + balance audit — the
    step between a curated corpus and a distributed training job
    ([P med]: data loaders consume fixed shard files; the assignment
    must be reproducible across pipeline retries and the audit must
    prove no shard is hot). Shard = md5(doc_id) mod 32 (the house
    integer-exact hash — reproducible everywhere, unlike
    partition-id-based assignment which changes with parallelism);
    report per shard: docs, chars, char share, and balance ratio
    (share × n_shards — 1.0 is perfect balance).

    Exactness: counts/sums integer; share and balance are divisions
    of exact integers over a window total of exact integers —
    same-tree IEEE, no ROUND. Plan shape: codegen hash (no shuffle)
    -> ONE combinable 32-cell agg -> 32-row window arithmetic. The
    actual shard WRITE would be `.repartition(32, shard).write` —
    same derivation, the exchange replaces the agg."""
    d = load(spark, sf_dir, "documents")
    assigned = d.select(
        (F.expr(_SHARD_H_SPARK) % _SHARDS).alias("shard"), "n_chars"
    )
    per = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    w = Window.partitionBy()
    tot = F.sum("total_chars").over(w)
    return per.select(
        "shard",
        "n_docs",
        "total_chars",
        (F.col("total_chars").cast("double") / tot).alias("char_share"),
        (F.col("total_chars").cast("double") * _SHARDS / tot).alias(
            "balance_ratio"
        ),
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
    100 TB the production posture: the Greenwald-Khanna sketch swap
    (``_mad_plan(exact=False)``) was WIRED AND REJECTED BY MEASUREMENT
    (r7 ×100 A/B, rehearsal harness: sketch 3.43 s = 4.50× vs exact
    2.8-3.1 s = 3.72× over DuckDB 0.76 s) — events.value medians sit
    over a per-group distinct set the exact value→count buffer handles
    cheaper than per-row GK summary updates; unlike agg_percentiles
    (15M wide-spread totalprices, sketch won 1.94×), here exact IS the
    faster path and stays the default at every size. The residual
    ratio is the irreducible 3-pass structure (median → MAD → score,
    identical on both engines) times Spark's per-pass exchange
    constant. The sketch form remains available for genuinely
    unbounded-cardinality deployments and its boundary agreement is
    pinned in tests (sf0.1, both passes + outlier counts).

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
    the right form — a deployment calls ``_mad_plan(ev, exact=True)``
    directly; since the two forms are pinned bit-identical the choice
    is a pure performance posture, never a parity one. There is no
    cheap automatic gate: distinct-cardinality of the value column is
    not in parquet footers, and a discovery job would cost more than
    the histogram it guards."""
    return _mad_hist_plan(load(spark, sf_dir, "events"))


def _mad_plan(ev: DataFrame, exact: bool) -> DataFrame:
    """Shared MAD-screen plan; ``exact`` picks interpolated
    ``percentile`` (hash-exact) vs ``percentile_approx`` 2500 (the
    mergeable sketch both medians swap to at scale)."""

    def med_of(col: str) -> F.Column:
        return F.expr(
            f"percentile({col}, 0.5d)"
            if exact
            else f"percentile_approx({col}, 0.5d, 2500)"
        )

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
# join_bloom_prefilter — semi-join reduction via the Bloom sketch
# ---------------------------------------------------------------------------

_JBF_M = 262144  # bits (2^18), shared with agg_bloom_membership
_JBF_K = 4
# r11: positions come from xxhash64(key, seed) — the bloom is
# semantically TRANSPARENT (the exact join removes false positives and
# the oracle never computes it), so the hash needs no cross-engine
# portability, and xxhash64 on the native long is ~1.7× cheaper per
# probe than the md5+conv+substr string pipeline (×100 A/B below).
# agg_bloom_membership keeps md5 positions — there the ORACLE
# recomputes the same positions in SQL, so portability is load-bearing.
# The key is cast to BIGINT before hashing: xxhash64 is sensitive to
# the physical integer WIDTH (xxhash64(5::INT) != xxhash64(5::BIGINT)),
# and a build/probe width divergence would be a silent FALSE NEGATIVE —
# unrecoverable, unlike false positives which the exact join removes
# (r11 second-review finding #1; the removed md5 form normalized via
# CAST AS STRING).
_JBF_POS_SPARK = f"pmod(xxhash64(cast({{key}} as bigint), {{i}}), {_JBF_M})"


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_price
    FROM orders o
    WHERE o.o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_nationkey = 3
    )
    GROUP BY o.o_orderpriority
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join REDUCTION via the Bloom sketch — the sketch family
    composed INTO a join plan, which is how it earns its keep at
    100 TB ([P med]: runtime bloom filters / semi-join reducers are
    the standard technique for cutting a fact-table shuffle before an
    exact join; Spark's own `spark.sql.optimizer.runtimeFilter.
    bloomFilter` does this opaquely — here the reduction is explicit,
    engine-neutral, and verifiable). Build: the dim keys (customers
    of one nation) set K=4 xxhash64 bit positions; positions fold
    into <=4096 64-bit WORDS via bit_or, and the whole <=32 KB bitmap
    collapses into ONE broadcast row as a DENSE word-indexed long
    array (r11: a word->mask MAP probed 4x/row was an O(words) linear
    scan per element_at — 14.3 s at x100; dense get() is O(1)).
    Probe: every order tests its 4 (word, mask) pairs with get() +
    bitwise AND — pure codegen, NO shuffle, no explode. Survivors
    (all true matches + ~0.2% false positives) then pass the exact
    broadcast semi join, so the bloom stage is semantically
    TRANSPARENT — the oracle is the PLAIN semi-join aggregate with
    no bloom at all, and any dropped true key or leaked false
    positive flips the hash.

    Plan shape: dim side = 2 tiny aggs (positions -> words -> one
    1-row dense long array); fact side = scan -> broadcast-array
    get() membership test -> broadcast semi join -> ONE combinable
    agg exchange. At 100 TB
    with a SHUFFLE join on the other side of the reduction, the
    bloom test deletes ~(1 - selectivity) of the fact shuffle bytes
    — the entire point; here both joins broadcast, so the test run
    shows transparency + pruning (asserted in tests), not wall-time.
    Exact DECIMAL sums (house rule)."""
    dim, prefiltered = _bloom_stage(spark, sf_dir)
    exact = prefiltered.join(
        F.broadcast(dim),
        prefiltered.o_custkey == dim.c_custkey,
        "left_semi",
    )
    return exact.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_price"),
    )


def _bloom_stage(spark: SparkSession, sf_dir: str):
    """Build the bloom bitmap and return (dim, prefiltered-orders) —
    the stage BEFORE the exact semi join. Split out so the pruning
    test can count actual bloom survivors (true matches + false
    positives) instead of the post-exact-join rows, which would be
    blind to a vacuous always-true probe (r11 second-review finding
    #2)."""
    cust = load(spark, sf_dir, "customer")
    dim = cust.where(F.col("c_nationkey") == 3).select("c_custkey")
    # bloom build: K positions per key -> word/mask -> bit_or words
    pos = dim.select(
        F.explode(
            F.array(
                *[
                    F.expr(_JBF_POS_SPARK.format(key="c_custkey", i=i))
                    for i in range(_JBF_K)
                ]
            )
        ).alias("pos")
    )
    words = pos.select(
        F.expr("pos div 64").alias("word"),
        F.expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").alias(
            "mask"
        ),
    ).groupBy("word").agg(F.bit_or("mask").alias("wordmask"))
    # one array of (word, mask) ENTRIES per agg buffer row — explicit
    # pairing via map_from_entries instead of positional alignment of
    # two collect_list buffers (r6 ADVICE: the two-buffer form leans
    # on an undocumented same-order implementation detail) — then
    # DENSIFIED into a word-indexed long array. This is the r11 scale
    # fix: Spark's element_at on a MapData is a LINEAR SCAN of the
    # keys, so probing a ~4096-entry map 4×/row cost O(rows·K·words) —
    # measured 14.3 s at ×100; the dense array's O(1) get() reads the
    # word directly (14.3 → 3.24 s; xxhash64 positions take it to
    # 1.95 s). The densification itself pays the map scan only once
    # per word (4096², inside the 1-row aggregate) — negligible.
    bitmap = words.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word", "wordmask"))
        ).alias("bm")
    ).select(
        F.expr(
            f"transform(sequence(0, {_JBF_M // 64 - 1}),"
            " w -> coalesce(element_at(bm, cast(w as bigint)),"
            " cast(0 as bigint)))"
        ).alias("bma")
    )
    o = load(spark, sf_dir, "orders")
    probed = o.crossJoin(F.broadcast(bitmap))
    # membership test as a forall over the position ARRAY: each of the
    # K hash positions is computed ONCE as an array element and the
    # lambda variable binds its VALUE, so deriving word + mask costs no
    # re-evaluation — 4 hashes/row, not 8 (r6 ADVICE; a staged
    # projection would NOT survive here: the filter predicate is
    # deterministic, so PushDownPredicates would substitute the alias
    # back to the full hash subtree on both references)
    poss = ", ".join(
        _JBF_POS_SPARK.format(key="o_custkey", i=i) for i in range(_JBF_K)
    )
    test = F.expr(
        f"forall(array({poss}), p ->"
        " (get(bma, cast(p div 64 as int))"
        " & shiftleft(cast(1 as bigint), cast(p % 64 as int))) != 0)"
    )
    prefiltered = probed.where(test).drop("bma")
    return dim, prefiltered


# ---------------------------------------------------------------------------
# snk_compact_small_files — small-file compaction maintenance job
# ---------------------------------------------------------------------------

_COMPACT_TARGET_BYTES = 4 * 1024 * 1024  # 4 MB target files at test scale


def _stage_compacted(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage the small-file problem (events fragmented into 64 tiny
    parquet files — the per-micro-batch/per-provider-pull accretion
    pattern) and its compaction (size-targeted rewrite: total bytes /
    target rounded up -> coalesced file count). Returns (small_dir,
    compacted_dir)."""
    import math
    import os

    from ..tables import stage_scratch

    def build_small(indir: str) -> None:
        (
            load(spark, sf_dir, "events")
            .repartition(64)
            .write.mode("overwrite")
            .parquet(indir)
        )

    small = stage_scratch("snk_compact_small", sf_dir, "events", build_small)

    def build_compact(indir: str) -> None:
        total = sum(
            e.stat().st_size
            for e in os.scandir(small)
            if e.name.endswith(".parquet")
        )
        n_files = max(1, math.ceil(total / _COMPACT_TARGET_BYTES))
        # coalesce, not repartition: compaction must not pay a
        # shuffle — it only glues existing partitions together
        (
            spark.read.parquet(small)
            .coalesce(n_files)
            .write.mode("overwrite")
            .parquet(indir)
        )

    compacted = stage_scratch("snk_compact_out", sf_dir, "events", build_compact)
    return small, compacted


@query(
    "snk_compact_small_files",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_value,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events
    """,
)
def snk_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION — the other lakehouse maintenance job
    beside `snk_zorder_layout` ([P high]: micro-batch streams and
    per-provider pulls accrete thousands of KB-sized files; the
    resulting per-file task and footer overhead is the classic
    100 TB scan killer, and OPTIMIZE/compaction is the standing
    cure). The staging fragments events into 64 tiny files, then
    rewrites size-targeted output (total bytes / 4 MB target,
    rounded up) with `coalesce` — compaction glues existing
    partitions and must NOT pay a shuffle (`repartition` would).
    The query half reads the COMPACTED table and emits content
    integrity figures; the oracle computes the same from the raw
    table, so a compaction that drops, duplicates, or corrupts any
    row flips the hash (layout changes, content must not). The
    file-count collapse itself is asserted in tests via the staged
    directories.

    At 100 TB this runs per partition/day with a manifest of
    under-sized files; coalesce keeps it a pure read+write with no
    exchange, and the target size aligns file length with
    maxPartitionBytes so post-compaction scans get full-sized
    splits."""
    _small, compacted = _stage_compacted(spark, sf_dir)
    t = spark.read.parquet(compacted)
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )
