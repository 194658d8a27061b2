"""Join operators — SURVEY.md §2.3.

Scale strategy (100 TB): fact⋈fact joins (orders⋈lineitem) shuffle on
the join key — co-partitioned and AQE-coalesced; every dimension join
(region/nation/supplier, inline band/zone dims) is an explicit
``F.broadcast`` so no shuffle of the fact side ever happens for them.
This mirrors the reference's small lookup tables (council districts,
providers — [P high], SURVEY §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_unit_sum
from ..registry import query
from ..tables import load


@query(
    "join_inner",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0, 4)
             AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders⋈customer + aggregate (core).

    r12 (VERDICT r11 item 2): routes through the layout-aware
    ``custkey_inner_plan`` — when the one-time bucketed-custkey layout
    (``ensure_custkey_bucketed_layout``) is present for this sf_dir
    the join plans EXCHANGE-FREE off the bucketed scans (1.07x DuckDB
    at x100, rows of record in BASELINE.md round-12); without it the
    ad-hoc plan runs unchanged
    (the driver's fresh-session sweep always takes this path). Both
    forms are the same logical query — cross-form equality pinned in
    tests; dispatch is a pure physical-plan probe."""
    return custkey_inner_plan(spark, sf_dir)


@query(
    "join_broadcast_dim",
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_extendedprice), 4) AS sum_price
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈broadcast-dim⋈broadcast-dim: lineitem⋈supplier⋈nation.
    Both dims broadcast — zero shuffle of the fact table before the
    final aggregation ([P high]: district/provider lookups)."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0), 4) AS sum_price
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join customer⟕orders: per-customer order count with
    null-preserving count semantics (core)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias("sum_price"),
        )
    )


@query(
    "join_full_outer",
    oracle="""
    WITH a AS (SELECT o_custkey AS k, COUNT(*) AS n_a FROM orders
               WHERE o_orderdate <  TIMESTAMP '1998-01-01' GROUP BY 1),
         b AS (SELECT o_custkey AS k, COUNT(*) AS n_b FROM orders
               WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1)
    SELECT COALESCE(a.k, b.k) AS custkey,
           CAST(COALESCE(n_a, 0) AS BIGINT) AS n_early,
           CAST(COALESCE(n_b, 0) AS BIGINT) AS n_late
    FROM a FULL JOIN b ON a.k = b.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two disjoint period aggregates (core)."""
    orders = load(spark, sf_dir, "orders")
    early = (
        orders.where(F.col("o_orderdate") < "1998-01-01")
        .groupBy(F.col("o_custkey").alias("k_a"))
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    late = (
        orders.where(F.col("o_orderdate") >= "1998-01-01")
        .groupBy(F.col("o_custkey").alias("k_b"))
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return early.join(late, early.k_a == late.k_b, "full").select(
        F.coalesce("k_a", "k_b").alias("custkey"),
        F.coalesce("n_a", F.lit(0)).alias("n_early"),
        F.coalesce("n_b", F.lit(0)).alias("n_late"),
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with >=1 urgent order (EXISTS)."""
    customer = load(spark, sf_dir, "customer")
    urgent = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with zero orders (orphan detection,
    [P med]).

    r12: layout-aware dispatch (``custkey_anti_plan``) — with the
    bucketed-custkey layout the whole query is a ZERO-exchange
    sort-merge anti join (1.31x DuckDB at x100, was 3.35x ad-hoc); the
    ad-hoc shuffled anti runs unchanged when no layout exists."""
    return custkey_anti_plan(spark, sf_dir)


_BANDS = [
    ("neg", -10000.0, 0.0),
    ("low", 0.0, 100.0),
    ("mid", 100.0, 1000.0),
    ("high", 1000.0, 100000.0),
]


@query(
    "join_theta_range",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('neg', -10000.0, 0.0), ('low', 0.0, 100.0),
             ('mid', 100.0, 1000.0), ('high', 1000.0, 100000.0)
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY band
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join: events against an inline value-band dim.
    Generalizes point-in-interval assignment ([P high]). The band dim
    is broadcast -> broadcast-nested-loop with no fact shuffle."""
    ev = load(spark, sf_dir, "events")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        ev.join(F.broadcast(bands), (ev.value >= bands.lo) & (ev.value < bands.hi))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@query(
    "join_asof",
    oracle="""
    SELECT o.o_orderkey,
           CAST(o.o_custkey % 15 AS BIGINT) AS join_uid,
           e.event_id AS last_event_id
    FROM orders o
    ASOF LEFT JOIN (
        SELECT user_id, event_id,
               TIMESTAMP '1994-01-01'
                 + ((event_id % 2000) * INTERVAL 1 DAY)
                 + (event_id * INTERVAL 1 MILLISECOND) AS ets
        FROM events
    ) e
    ON (o.o_custkey % 15) = e.user_id AND e.ets <= o.o_orderdate
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each order, the latest event with synthetic
    event-time ets <= o_orderdate, matched on a mod-15 user key.
    (events.ts lives in 2024, outside the 1995-2001 order range, so a
    deterministic unique ets is derived from event_id.) The oracle
    uses DuckDB's native ASOF LEFT JOIN, which verifies the
    semantics exactly since ets is unique per user. Late-arriving
    enrichment ([P low]).

    Implemented as the UNION-TAG + ordered-window form — the
    no-explosion as-of shape: probe and build rows interleave in ONE
    (key, time) ordered stream, events sorting before orders at
    equal time (tag 0 < 1 encodes the INCLUSIVE ets <= date bound),
    and each order row reads the running latest event via
    last(ignorenulls) — O(n log n) in the stream, zero
    intermediate blow-up. The earlier equi-join + row_number form
    was measured at ×100 building ~7.5e9 intermediate rows (every
    order × every earlier event of its 15-value key) and running
    93 s vs DuckDB's native ASOF at 10.7 s; the union form removes
    the explosion on ANY key cardinality, which is why it is the
    100 TB form — the join key's selectivity no longer multiplies."""
    orders = load(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 15).alias("uid"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.lit(1).alias("tag"),
        F.col("o_orderkey"),
        F.lit(None).cast("long").alias("event_id"),
    )
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"),
        F.expr(
            "timestamp'1994-01-01' + make_interval(0, 0, 0, CAST(event_id % 2000 AS INT), 0, 0, event_id / 1000.0)"
        ).alias("ts"),
        F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("o_orderkey"),
        "event_id",
    )
    u = ev.unionByName(orders)
    w = (
        Window.partitionBy("uid")
        .orderBy("ts", "tag", F.col("event_id").desc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        u.withColumn("last_event_id", F.last("event_id", ignorenulls=True).over(w))
        .where(F.col("tag") == 1)
        .select(
            "o_orderkey", F.col("uid").cast("long").alias("join_uid"), "last_event_id"
        )
    )


@query(
    "join_multiway_5",
    oracle="""
    SELECT n_name,
           ROUND(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                          AS BIGINT)) / 10000.0, 4) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def join_multiway_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shape 6-table join + group agg (core). Fact⋈fact joins
    shuffle on keys; supplier/nation/region broadcast.

    r8 (verdict item 4): the registered key now routes through the
    LAYOUT-AWARE ``multiway5_plan`` (the ``bbox_join_plan`` pattern).
    When the one-time bucketed-orderkey layout built by
    ``ensure_q5_bucketed_layout`` (``snk_bucketed_join`` machinery —
    lineitem+orders bucketBy(orderkey)+sortBy as external tables) is
    present for this sf_dir, the orderkey fact⋈fact join plans
    EXCHANGE-FREE off the bucketed scans (plan-asserted in tests: no
    Exchange on l_orderkey/o_orderkey below the merge join); without
    the layout (driver sweep at sf0.01, any fresh deployment) the
    ad-hoc two-exchange plan runs unchanged. Both forms are the same
    logical query over the same rows — value-identical by
    construction, pinned by a cross-form equality test — so the
    layout probe is a pure physical-plan dispatch, never a parity
    hazard.

    Scale posture (×100 measurements): ad-hoc 4.11 s (2.66× DuckDB —
    two fact exchanges, lineitem 60M + join-result on custkey);
    bucketed layout (one-time 12.7 + 5.1 s write) ≈3.1 s ≈2.1× as
    the DEFAULT path once built; the residual is the irreducible
    custkey exchange + DuckDB's in-process hash-build advantage.
    Join-order alternatives were separately A/B'd and REJECTED
    (orders⋈customer-first 3× worse — BASELINE round-6;
    scripts/ab_multiway.py at commit 37ae0cc)."""
    return multiway5_plan(spark, sf_dir)


_Q5_BUCKETS = 32


class _BucketedLayout:
    """One-time bucketBy(key)+sortBy external-table layout machinery,
    shared by the Q5 orderkey layout (r8) and the custkey layout (r12)
    — ONE body so a guard fix lands in every layout at once (r12
    review finding #3). Encodes the accumulated guard discipline:
    bucket count in the table identity (r8 review #4), per-file source
    freshness marker (r8 review #1 / ADVICE #1), decline on unstatable
    sources (r9 review #3), decline while a table provider is active
    (r10 review #4 / second-review #1), and the marker is written with
    the signature sampled BEFORE the build so a source regenerated
    mid-build can never be signed by the stale layout.

    r13 (VERDICT r12 item 2): layouts now SURVIVE session boundaries.
    The bucketed data files + marker always persisted; only the
    catalog entry was session-scoped, so every fresh (driver-real)
    session used to fall back to the ad-hoc plans. ``available()``
    now DDL-re-attaches a disk-valid layout (``_reattach`` — CREATE
    TABLE over the existing files, no data rewrite), so the one-time
    build cost is paid once per corpus, not once per session. All
    pre-existing guards still decline first: provider active, missing
    files, stale/unreadable marker, unstatable source, and a foreign
    bucket count never re-attaches (the count is part of the table
    identity AND of the re-issued bucket spec)."""

    def __init__(
        self,
        tag: str,
        prefix: str,
        specs: dict[str, tuple[str, tuple[str, ...]]],
    ):
        self.tag = tag
        self.prefix = prefix
        # source table -> (bucket/sort key, narrow column set)
        self.specs = specs
        # (table name, expected location) pairs verified against the
        # catalog this session — spares the steady-state dispatch
        # probe its 2 DESCRIBE round-trips. Cleared by every path of
        # THIS class that creates/drops/repoints a table; external
        # drops are still caught because available() re-checks
        # tableExists before trusting the memo's location.
        self._loc_verified: set[tuple[str, str]] = set()

    def names(self, sf_dir: str, buckets: int) -> tuple[list[str], str]:
        import re

        from ..tables import scratch_dir

        # table identifiers: sanitize EVERY non-identifier char, not
        # just "/" and "." — a corpus path with a hyphen (common) made
        # ensure()'s saveAsTable throw ParseException (caught by the
        # r13 ops-script test). Identical output for the historical
        # dirs (only / and . ever appeared), so existing layouts keep
        # their names and re-attach untouched.
        sftag = re.sub(r"[^A-Za-z0-9_]", "_", sf_dir.strip("/"))
        base = scratch_dir(self.tag, sf_dir.strip("/").replace("/", "_"))
        return (
            [f"{self.prefix}_{t}_{sftag}_b{buckets}" for t in self.specs],
            base,
        )

    def src_sig(self, sf_dir: str) -> str:
        """Freshness signature of the layout's sources: a regenerated
        corpus invalidates the layout, and an unstatable source (nonce
        signature) never matches, so the probe falls back to ad hoc."""
        from ..tables import source_signature

        return ";".join(
            f"{t}:{source_signature(f'{sf_dir}/{t}.parquet')}"
            for t in self.specs
        )

    def _marker(self, sf_dir: str, buckets: int):
        from pathlib import Path

        names, base = self.names(sf_dir, buckets)
        return Path(base, f".{names[0]}.src_sig")

    def ensure(
        self, spark: SparkSession, sf_dir: str, buckets: int
    ) -> list[str]:
        from .. import tables
        from ..tables import signature_unavailable

        names, base = self.names(sf_dir, buckets)
        sig = self.src_sig(sf_dir)
        if signature_unavailable(sig) or tables.provider_active():
            return names
        # available() re-attaches a valid on-disk layout first (DDL
        # only, no data rewrite) — a fresh session with surviving
        # bucketed files never pays the build again (r13, VERDICT r12
        # item 2 / What's-wrong #1).
        if not self.available(spark, sf_dir, buckets):
            # disk-valid but unavailable means the only blocker is the
            # CATALOG: a same-named table attached at another corpus's
            # location (the sanitized-name collision, r13 ADVICE #1).
            # Repointing is DDL-only — drop the foreign entries and
            # re-attach over THIS corpus's existing files instead of
            # paying a full bucketBy rewrite (r14 review finding #2;
            # the displaced corpus's next probe simply re-attaches or
            # declines to ad-hoc, never serves wrong rows).
            if self._disk_valid(sf_dir, buckets):
                self._loc_verified.clear()
                for name in names:
                    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
                if self._reattach(spark, sf_dir, buckets) and self.available(
                    spark, sf_dir, buckets
                ):
                    return names
            self._loc_verified.clear()
            for name, (t, (key, cols)) in zip(names, self.specs.items()):
                (
                    load(spark, sf_dir, t)
                    .select(*cols)
                    .write.mode("overwrite")
                    .bucketBy(buckets, key)
                    .sortBy(key)
                    .option("path", f"{base}/{name}")
                    .saveAsTable(name)
                )
            self._marker(sf_dir, buckets).write_text(sig)
        return names

    def _disk_valid(self, sf_dir: str, buckets: int) -> bool:
        """On-disk layout files present AND the freshness marker
        matches the current source signature. The marker read is
        guarded: a layout deleted concurrently (another session's
        test-finally rmtree) must degrade the probe to False — ad-hoc
        plan — never raise out of query dispatch (r12 ADVICE #3
        TOCTOU). An unstatable source yields a nonce signature that
        matches no marker, so it is implicitly declined here."""
        from pathlib import Path

        names, base = self.names(sf_dir, buckets)
        if not all(Path(base, n).exists() for n in names):
            return False
        try:
            return self._marker(sf_dir, buckets).read_text() == self.src_sig(
                sf_dir
            )
        except OSError:
            return False

    def _reattach(self, spark: SparkSession, sf_dir: str, buckets: int) -> bool:
        """DDL-only re-attach of a disk-valid layout whose catalog
        entries were lost to a session boundary (bucketed external
        tables live in the session-scoped in-memory catalog; the data
        files + freshness marker persist). Re-issues ``CREATE TABLE
        ... USING parquet CLUSTERED BY (key) SORTED BY (key) INTO n
        BUCKETS LOCATION path`` with the column list read from the
        parquet footer (Spark rejects bucket specs without an explicit
        column list — SPECIFY_BUCKETING_IS_NOT_ALLOWED). Metadata
        only: no data is rewritten, and the files' bucket-id filename
        suffixes written by the original ``bucketBy`` build carry the
        bucketing proof. Any failure degrades to False (ad-hoc plan)
        rather than raising out of a dispatch probe. Caller has
        already checked ``_disk_valid`` and the provider guard."""
        import logging

        names, base = self.names(sf_dir, buckets)
        self._loc_verified.clear()  # this path mutates catalog entries
        try:
            for name, (key, _cols) in zip(names, self.specs.values()):
                if spark.catalog.tableExists(name):
                    continue
                sch = spark.read.parquet(f"{base}/{name}").schema
                cols_ddl = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in sch.fields
                )
                # SQL string literal: escape BACKSLASHES as well as
                # quotes — Spark's default parser treats backslash as
                # an active escape inside string literals (verified on
                # 4.1.2), so an unescaped '\n' in a corpus path would
                # silently attach the table to a DIFFERENT (empty)
                # location and serve 0 rows under the hash gate; a
                # quote without '' would merely throw ParseException.
                # Build via .option("path") accepts both, so re-attach
                # must too.
                loc = (
                    f"{base}/{name}".replace("\\", "\\\\").replace("'", "''")
                )
                spark.sql(
                    f"CREATE TABLE IF NOT EXISTS `{name}` ({cols_ddl}) "
                    f"USING parquet CLUSTERED BY (`{key}`) "
                    f"SORTED BY (`{key}`) INTO {buckets} BUCKETS "
                    f"LOCATION '{loc}'"
                )
            return all(spark.catalog.tableExists(n) for n in names)
        except Exception:
            # degrade to the ad-hoc plan, but LOUDLY: a persistently
            # failing re-attach (syntax rejected by a Spark upgrade,
            # unreadable location) is a 3x+ silent perf regression if
            # indistinguishable from 'layout not built'
            logging.getLogger(__name__).warning(
                "bucketed-layout re-attach failed for %s at %s — "
                "falling back to the ad-hoc plan",
                self.tag,
                sf_dir,
                exc_info=True,
            )
            return False

    def _location_ok(self, spark: SparkSession, name: str, expected: str) -> bool:
        """The catalog table named ``name`` is attached at the path
        this layout expects. Name alone is not proof of identity:
        ``names()`` sanitizes every non-identifier char, so DISTINCT
        corpus dirs differing only in punctuation (``/data/c-v2`` vs
        ``/data/c.v2``) share a table name while their scratch bases
        stay distinct — in a session that probed both corpora, B's
        ``_disk_valid`` can pass on B's files while the catalog entry
        points at A's location, silently serving A's rows (r13 ADVICE
        #1). DESCRIBE FORMATTED is driver-side metadata (~30 rows);
        any failure degrades to False → ad-hoc plan, correct rows."""
        import logging
        from pathlib import Path
        from urllib.parse import unquote, urlparse

        if (name, expected) in self._loc_verified:
            return True
        try:
            rows = spark.sql(f"DESCRIBE FORMATTED `{name}`").collect()
            loc = next(
                (r.data_type for r in rows if r.col_name == "Location"), None
            )
        except Exception:
            loc = None
        if not loc:
            # indeterminate is not the same as a mismatch: log LOUDLY
            # (same rationale as _reattach's degrade path — a DESCRIBE
            # output-shape change in a Spark upgrade would otherwise
            # read as 'layout not built' and cost 3x silently)
            logging.getLogger(__name__).warning(
                "could not determine catalog location of %s (expected %s)"
                " — declining the bucketed layout for %s",
                name,
                expected,
                self.tag,
            )
            return False
        path = unquote(urlparse(loc).path) if ":" in loc.split("/", 1)[0] else loc
        try:
            ok = Path(path).resolve() == Path(expected).resolve()
        except OSError:
            return False
        if ok:
            self._loc_verified.add((name, expected))
        return ok

    def available(
        self, spark: SparkSession, sf_dir: str, buckets: int
    ) -> bool:
        from .. import tables

        if tables.provider_active():
            return False
        if not self._disk_valid(sf_dir, buckets):
            return False
        names, base = self.names(sf_dir, buckets)
        if not all(spark.catalog.tableExists(n) for n in names):
            if not self._reattach(spark, sf_dir, buckets):
                return False
        # final identity gate: every table must be attached at THIS
        # layout's location (tableExists by name is not identity —
        # _reattach's IF NOT EXISTS also keeps a same-named table
        # attached elsewhere, which must probe False here)
        return all(
            self._location_ok(spark, n, f"{base}/{n}") for n in names
        )


_Q5_LAYOUT = _BucketedLayout(
    tag="q5_bucketed",
    prefix="q5b",
    specs={
        "lineitem": (
            "l_orderkey",
            ("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
        ),
        "orders": ("o_orderkey", ("o_orderkey", "o_custkey", "o_orderdate")),
    },
)


def _q5_bucket_tables(sf_dir: str, buckets: int) -> tuple[str, str, str]:
    names, base = _Q5_LAYOUT.names(sf_dir, buckets)
    return names[0], names[1], base


def ensure_q5_bucketed_layout(
    spark: SparkSession, sf_dir: str, buckets: int = _Q5_BUCKETS
) -> tuple[str, str]:
    """One-time bucketed-orderkey layout for the Q5 shape: lineitem
    and orders (narrow column sets) written bucketBy(buckets,
    orderkey) + sortBy as external tables, so every subsequent
    orderkey join is exchange-free (the 100 TB repeated-join
    amortizer — pay the layout once, reuse it for every Q3/Q5-shaped
    query on the same keys). Idempotent per (sf_dir, buckets);
    rebuilt automatically when the source parquet changes (per-file
    mtime+size marker). An UNSTATABLE source (freshness untrackable)
    is declined outright — building would re-run both ~18 s-at-×100
    bucketBy writes on EVERY call (the marker can never match) and
    the layout still never dispatches; callers keep the ad-hoc plan
    (r9 review finding #3)."""
    li_tbl, o_tbl = _Q5_LAYOUT.ensure(spark, sf_dir, buckets)
    return li_tbl, o_tbl


def _q5_layout_available(
    spark: SparkSession, sf_dir: str, buckets: int = _Q5_BUCKETS
) -> bool:
    """Catalog entries present, their external paths still on disk (a
    wiped .scratch leaves stale metastore rows behind), AND the
    freshness marker matches the current source parquet signature (a
    regenerated corpus invalidates the layout). NEVER true while a
    table provider is active — dispatching to the disk layout would
    silently shadow the provider's rows (r10 second-review
    finding #1)."""
    return _Q5_LAYOUT.available(spark, sf_dir, buckets)


def multiway5_plan(
    spark: SparkSession,
    sf_dir: str,
    layout: str = "auto",
    buckets: int = _Q5_BUCKETS,
) -> DataFrame:
    """Q5 plan dispatch: ``layout`` = 'auto' (bucketed when the
    layout exists, else ad-hoc) | 'adhoc' | 'bucketed' (requires the
    layout). Shared join tail keeps the two forms logically
    identical."""
    if layout == "auto":
        layout = (
            "bucketed" if _q5_layout_available(spark, sf_dir, buckets) else "adhoc"
        )
    date_filter = (F.col("o_orderdate") >= "1996-01-01") & (
        F.col("o_orderdate") < "1997-01-01"
    )
    if layout == "bucketed":
        li_tbl, o_tbl, _ = _q5_bucket_tables(sf_dir, buckets)
        li = spark.table(li_tbl)
        # merge hint: keep the sort-merge join so the bucketed
        # (pre-partitioned, pre-sorted) scans are consumed directly;
        # without it small-SF stats would broadcast orders and hide
        # the layout. The filter prunes AFTER the bucketed scan —
        # bucketing on orderkey survives any non-key predicate.
        # Scope (r8 ADVICE #4, verified empirically + pinned in
        # test_q5_bucketed_layout_exchange_free_and_identical): Spark
        # attaches a hint to the NEAREST join above the hinted subtree
        # only, so this biases just li⋈orders; the later
        # orders⋈customer join keeps Catalyst's broadcast choice.
        orders = spark.table(o_tbl).where(date_filter).hint("merge")
    else:
        li = load(spark, sf_dir, "lineitem")
        orders = load(spark, sf_dir, "orders").where(date_filter)
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    # Stream the big fact (lineitem) so it never materializes a hash
    # relation; orders/customer/supplier join by Catalyst's choice
    # (auto-broadcast at small SF, shuffle join when stats outgrow the
    # threshold — customer and supplier are SF-proportional, so a hint
    # would OOM a 100 TB build side). Only the truly fixed-size dims
    # (nation 25 rows, region 5 rows) are hinted.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, customer.c_custkey == orders.o_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        # r13: revenue summed in EXACT 1e-4 units — extendedprice and
        # discount are 2-decimal, so the product is exactly 4-decimal;
        # floor(x*10000+0.5) on the identical IEEE product recovers the
        # same bigint in Spark and DuckDB, making the rounded sum
        # bit-identical regardless of join order/physical plan (the
        # bucketed layout re-attaches in fresh sessions from r13 on, so
        # the SMJ form runs during hash-gated sweeps — r12 ADVICE #1;
        # 2^63 wrap bound ~4.6e17 e4-units/group at the 100 TB
        # posture, 20x headroom — functions/exact.py).
        .agg(
            exact_unit_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                10000,
                "revenue",
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Bucketed-CUSTKEY layout (r12, VERDICT r11 item 2): the orders⋈customer
# spine behind join_inner / join_anti / join_cross_small. Same machinery
# and guard discipline as the Q5 orderkey layout above — one-time
# bucketBy(custkey)+sortBy external tables with narrow column sets, so
# every custkey join plans EXCHANGE-FREE off the bucketed scans. Eager-agg
# pushdown was A/B'd and REJECTED for these shapes (custkey cardinality
# ~rows/10 — commit 853ac82); the layout is the lever that works:
# measured at x100 with the REGISTERED plan functions (rows of record:
# .scratch/ab_ck_final.py, BASELINE.md round-12 section) join_inner
# 3.59x→1.07x, join_anti 3.35x→1.31x, join_cross_small 2.80x→1.23x
# (ad-hoc itself 3.99x→2.80x from the pre-agg rewrite), one-time build
# 12.3 s.
# ---------------------------------------------------------------------------

_CK_BUCKETS = 32

_CK_LAYOUT = _BucketedLayout(
    tag="ck_bucketed",
    prefix="ckb",
    specs={
        "orders": (
            "o_custkey",
            ("o_custkey", "o_totalprice", "o_orderstatus"),
        ),
        "customer": (
            "c_custkey",
            ("c_custkey", "c_mktsegment", "c_nationkey"),
        ),
    },
)


def _ck_bucket_tables(sf_dir: str, buckets: int) -> tuple[str, str, str]:
    names, base = _CK_LAYOUT.names(sf_dir, buckets)
    return names[0], names[1], base


def ensure_custkey_bucketed_layout(
    spark: SparkSession, sf_dir: str, buckets: int = _CK_BUCKETS
) -> tuple[str, str]:
    """One-time bucketed-custkey layout: orders and customer (narrow
    column sets covering the three registered custkey shapes) written
    bucketBy(buckets, custkey) + sortBy as external tables, so every
    subsequent orders⋈customer join is exchange-free — the 100 TB
    repeated-join amortizer, same economics as the Q5 orderkey layout
    (pay 12.3 s once at x100, every custkey join thereafter runs at
    DuckDB parity). Idempotent per (sf_dir, buckets); rebuilt when the
    source parquet changes; DECLINES on an unstatable source and while
    a table provider is active (the shared _BucketedLayout rules)."""
    o_tbl, c_tbl = _CK_LAYOUT.ensure(spark, sf_dir, buckets)
    return o_tbl, c_tbl


def _ck_layout_available(
    spark: SparkSession, sf_dir: str, buckets: int = _CK_BUCKETS
) -> bool:
    """Catalog entries present, external paths on disk, freshness
    marker matching the current source signature; NEVER true while a
    table provider is active (the _q5_layout_available rules — a
    provider's rows must not be shadowed by a disk layout)."""
    return _CK_LAYOUT.available(spark, sf_dir, buckets)


def _ck_sides(
    spark: SparkSession,
    sf_dir: str,
    layout: str = "auto",
    buckets: int = _CK_BUCKETS,
) -> tuple[DataFrame, DataFrame, bool]:
    """(orders, customer, is_bucketed) for the custkey join plans:
    ``layout`` = 'auto' (bucketed when the layout exists, else ad-hoc)
    | 'adhoc' | 'bucketed' (requires the layout). The bucketed frames
    are the narrow external tables; callers add the merge hint on the
    probe side so small-SF stats cannot broadcast away the layout
    (hint scope: nearest join only — the q5-pinned Spark behavior)."""
    if layout == "auto":
        layout = (
            "bucketed" if _ck_layout_available(spark, sf_dir, buckets) else "adhoc"
        )
    if layout == "bucketed":
        o_tbl, c_tbl, _ = _ck_bucket_tables(sf_dir, buckets)
        return spark.table(o_tbl), spark.table(c_tbl), True
    return load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer"), False


def custkey_inner_plan(
    spark: SparkSession, sf_dir: str, layout: str = "auto",
    buckets: int = _CK_BUCKETS,
) -> DataFrame:
    """join_inner's plan: orders⋈customer + segment aggregate. With
    the layout: exchange-free SMJ off the bucketed scans, then ONE
    5-group agg exchange — 1.07x DuckDB at x100 (BASELINE.md
    round-12); without: Catalyst's shuffled-hash join, 3.59x constant-factor
    race (the r11-measured floor; eager-agg rejected, commit 853ac82)."""
    o, c, bucketed = _ck_sides(spark, sf_dir, layout, buckets)
    if bucketed:
        c = c.hint("merge")
    # r13: sum in EXACT integer cents (the floor(x*100+0.5) lift), then
    # round once after the division. o_totalprice is 2-decimal money;
    # the lift recovers the exact cent value from the double, the
    # bigint sum is associative, and bigint/100.0 + round(.,4) is the
    # identical IEEE sequence in Spark and DuckDB — so the result is
    # bit-identical REGARDLESS of physical plan (SMJ vs SHJ change FP
    # summation order; with layouts now re-attaching in fresh sessions
    # the bucketed plan IS live during hash-gated driver sweeps —
    # r12 ADVICE #1; guard-band + 2^63 wrap bound in functions/exact.py).
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_unit_sum(F.col("o_totalprice"), 100, "sum_price"),
        )
    )


def custkey_anti_plan(
    spark: SparkSession, sf_dir: str, layout: str = "auto",
    buckets: int = _CK_BUCKETS,
) -> DataFrame:
    """join_anti's plan: customer ANTI orders. With the layout the
    whole query is a ZERO-exchange sort-merge anti join off the
    bucketed scans — 1.31x DuckDB at x100 (was 3.35x shuffled)."""
    o, c, bucketed = _ck_sides(spark, sf_dir, layout, buckets)
    if bucketed:
        o = o.hint("merge")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


def custkey_cross_plan(
    spark: SparkSession, sf_dir: str, layout: str = "auto",
    buckets: int = _CK_BUCKETS,
) -> DataFrame:
    """join_cross_small's plan: region×status grid left-joined with
    actual counts. r12 rewrite (BOTH forms): aggregate the
    orders⋈customer spine to (c_nationkey, o_orderstatus) — ≤75
    rows — BEFORE the nation/region dim joins, so the dims join the
    aggregate instead of being broadcast across the 15M-row fact
    (value-identical: count partitioned by nationkey sums to the
    region counts). With the layout the spine is the exchange-free
    SMJ: 1.23x DuckDB at x100 (ad-hoc 2.80x, was 3.99x pre-r12)."""
    o, c, bucketed = _ck_sides(spark, sf_dir, layout, buckets)
    if bucketed:
        c = c.hint("merge")
    region = load(spark, sf_dir, "region")
    statuses = spark.createDataFrame([("F",), ("O",), ("P",)], "s string")
    grid = region.select("r_name").crossJoin(statuses)
    nation = load(spark, sf_dir, "nation")
    nk_counts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n0"))
    )
    counts = (
        nk_counts.join(
            F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("cr_name"),
            F.col("o_orderstatus").alias("cs"),
        )
        .agg(F.sum("n0").alias("n"))
    )
    return grid.join(
        counts, (grid.r_name == counts.cr_name) & (grid.s == counts.cs), "left"
    ).select(
        "r_name",
        F.col("s").alias("o_orderstatus"),
        F.coalesce("n", F.lit(0)).alias("n_orders"),
    )


@query(
    "join_cross_small",
    oracle="""
    WITH grid AS (
      SELECT r_name, s FROM region CROSS JOIN (SELECT UNNEST(['F','O','P']) AS s)
    ), counts AS (
      SELECT r_name, o_orderstatus AS s, COUNT(*) AS n
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY 1, 2
    )
    SELECT g.r_name, g.s AS o_orderstatus, CAST(COALESCE(n, 0) AS BIGINT) AS n_orders
    FROM grid g LEFT JOIN counts c ON g.r_name = c.r_name AND g.s = c.s
    """,
)
def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-join scaffold (all region×status cells) + left join of
    actual counts, zero-filled (report grids, [P med]).

    r12: layout-aware dispatch (``custkey_cross_plan``), and BOTH
    forms now aggregate the spine to (c_nationkey, o_orderstatus)
    before the dim joins — the dims join a ≤75-row aggregate instead
    of broadcasting across the 15M-row fact (1.23x DuckDB at x100
    with the layout; ad-hoc 2.80x, was 3.99x pre-r12)."""
    return custkey_cross_plan(spark, sf_dir)


_SALT_N = 16


@query(
    "join_skew_salted",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via explicit key salting: the fact side gets
    a deterministic salt (event_id % 16) appended to the join key; the
    dim side is exploded x16 so every (key, salt) bucket matches. The
    result is identical to the plain join (the oracle), but a hot key's
    rows now spread over 16 reducer partitions instead of one.

    At 100 TB this is the manual fallback when AQE's skew-join split
    cannot help (e.g. the skewed side feeds a single-key aggregation,
    or the join is a broadcast candidate that does not fit memory).
    AQE (on by default, session.py) handles the common cases without
    this operator — which is why the salt here is explicit, bounded
    (x16 dim replication), and deterministic (no rand(): repeatable
    plans and retry-safe tasks).

    Physical strategy is pinned to SORT-MERGE: salting exists FOR the
    big-shuffle regime, where the session default's shuffled-hash
    join builds an unspillable per-partition map over the ×16
    replicated stream — measured at ×100: SHJ 22.5 s (GC-bound
    build) vs SMJ 3.2 s, against 1.2 s for the plain unsalted join
    (the honest ~2.6× salting tax is the row replication itself).
    A spillable sorted join is exactly the property the at-scale
    fallback needs, so the hint is part of the operator's
    semantics, not a tuning afterthought."""
    ev = load(spark, sf_dir, "events").withColumn(
        "salt", (F.col("event_id") % _SALT_N).cast("int")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    salted_dim = cust.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_N)]))
    )
    return (
        ev.hint("merge")
        .join(
            salted_dim,
            (ev.user_id == salted_dim.c_custkey) & (ev.salt == salted_dim.salt),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT nullif(c_custkey % 7, 3) AS k, COUNT(*) AS n_cust
      FROM customer GROUP BY 1
    ), b AS (
      SELECT nullif(o_custkey % 7, 3) AS k, COUNT(*) AS n_ord
      FROM orders GROUP BY 1
    )
    SELECT a.k AS k, CAST(n_cust AS BIGINT) AS n_cust, CAST(n_ord AS BIGINT) AS n_ord
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    NULL bucket joins to the NULL bucket instead of disappearing —
    the semantics needed when a join key legitimately carries
    'unknown' (e.g. unresolved geography ids). Null keys hash to one
    partition: at scale a populous NULL bucket is the classic skew
    key — handle via join_skew_salted or filter-union."""
    cust = (
        load(spark, sf_dir, "customer")
        .groupBy(F.nullif(F.col("c_custkey") % 7, F.lit(3)).alias("k_a"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    ords = (
        load(spark, sf_dir, "orders")
        .groupBy(F.nullif(F.col("o_custkey") % 7, F.lit(3)).alias("k_b"))
        .agg(F.count(F.lit(1)).alias("n_ord"))
    )
    return cust.join(ords, cust.k_a.eqNullSafe(ords.k_b)).select(
        F.col("k_a").alias("k"), "n_cust", "n_ord"
    )
