"""Sink operators — SURVEY.md §2.1 (snk_*).

The reference's load step upserts batches to Socrata/Postgres ([P
high], SURVEY §3.1). Spark-first equivalents: parquet sinks
(partitioned for pruning) and a window-based last-writer-wins merge —
the idempotent-upsert semantics without a mutable store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage

from ..registry import query
from ..tables import (
    Layout,
    corpus_scratch,
    load,
    read_parquet,
    run_scratch,
    scratch_dir,
    stage_scratch,
)


def _merge_sql(table: str, staging: str, cols: list[str], key_cols: list[str]) -> str:
    """ANSI MERGE from a staging table keyed on ``key_cols`` (the
    set-based half of the staging-merge upsert; unit-tested without a
    database and exercised LIVE against embedded Derby by
    ``snk_jdbc_derby``).

    Column identifiers are double-quoted: Spark's JDBC writer creates
    columns with quoted (case-sensitive, typically lowercase) names,
    which ANSI databases fold differently when referenced unquoted
    (Derby/Postgres fold to upper/lower case and then fail to
    resolve). Table names stay raw — Spark passes them through
    unquoted at CREATE, so quoting them here would break resolution.
    """
    non_keys = [c for c in cols if c not in key_cols]
    q = lambda c: f'"{c}"'  # noqa: E731
    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in key_cols)
    sets = ", ".join(f"{q(c)} = s.{q(c)}" for c in non_keys)
    return (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({', '.join(q(c) for c in cols)}) "
        f"VALUES ({', '.join('s.' + q(c) for c in cols)})"
    )


def write_jdbc_upsert(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    options: dict[str, str] | None = None,
) -> None:
    """External-store upsert over JDBC — the shape of the reference's
    Socrata/Postgres load step ([P high], SURVEY §3.1). Exercised
    LIVE in-sandbox against embedded Derby by ``snk_jdbc_derby``
    (hash-checked round-trip); in a real deployment callers pass the
    warehouse ``url`` and this runs as-is. Non-jdbc URLs are rejected
    before any write is attempted.

    Scale pattern (staging-merge): executors write the batch in
    parallel through ``df.write.jdbc`` into a uuid-suffixed STAGING
    table (append mode — plain inserts, no per-row upsert contention),
    then ONE driver-side statement merges staging into the target
    keyed on ``key_cols`` and drops staging. That keeps the wide
    parallel path insert-only (batched, rewriteBatchedStatements) and
    funnels conflict resolution through the database's native
    set-based MERGE/ON CONFLICT — the same idempotent last-writer-wins
    semantics ``snk_upsert_merge`` implements over parquet, and the
    per-micro-batch body you would pass to ``foreachBatch`` in
    ``stm_foreachbatch_sink`` for a streaming upsert."""
    if not url.startswith("jdbc:"):
        raise ValueError(f"not a jdbc url: {url!r}")
    import uuid as _uuid

    staging = f"{table}_stage_{_uuid.uuid4().hex[:8]}"
    writer = df.write.mode("append")
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.jdbc(url, staging)
    merge = _merge_sql(table, staging, df.columns, key_cols)
    spark = df.sparkSession
    # one set-based statement via the JVM driver manager; falls back
    # to the caller running `merge` out-of-band if the dialect lacks
    # MERGE (e.g. old Postgres -> INSERT ... ON CONFLICT)
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            st.execute(merge)
        finally:
            # drop staging even when the MERGE throws (dialect without
            # MERGE, constraint violation): otherwise the uuid table
            # leaks permanently and accumulates across failed runs.
            # Best-effort — a drop error must not mask the MERGE error.
            try:
                st.execute(f"DROP TABLE {staging}")
            except Exception:  # noqa: BLE001
                pass
    finally:
        conn.close()


@query(
    "snk_parquet",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def snk_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an aggregate to parquet, read it back — the sink
    round-trip must be lossless, so the oracle is simply the same
    aggregate computed directly from orders (hash-checked since
    round 4; was rows-only out of early-round caution). Exact
    DECIMAL(18,4) summation on both sides: the per-status sum
    reaches ~2e10 at sf0.1, the measured summation-order hazard
    (see snk_upsert_merge)."""
    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
            ).alias("sum_price"),
        )
    )
    path = corpus_scratch("snk_parquet", sf_dir)
    agg.write.mode("overwrite").parquet(path)
    return read_parquet(spark, path)


@query(
    "snk_partitioned",
    oracle="""
    SELECT CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS sum_price
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) = 1997
      AND EXTRACT(month FROM o_orderdate) = 3
    GROUP BY 1
    """,
)
def snk_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet write by derived month; read ONE partition
    back (partition pruning — at 100 TB this is the difference between
    scanning one month and scanning everything)."""
    orders = load(spark, sf_dir, "orders").where(F.year("o_orderdate") == 1997)
    path = corpus_scratch("snk_partitioned", sf_dir)
    (
        orders.withColumn("order_month", F.month("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("order_month")
        .parquet(path)
    )
    back = read_parquet(spark, path).where(F.col("order_month") == 3)
    return back.groupBy(F.col("order_month").cast("int").alias("order_month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
    )


@query(
    "snk_upsert_merge",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS ver
      FROM orders WHERE o_orderkey % 10 < 8
    ), updates AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, ROUND(o_totalprice * 1.1, 4) AS o_totalprice, 2 AS ver
      FROM orders WHERE o_orderkey % 10 >= 5
    ), unioned AS (
      SELECT * FROM base UNION ALL SELECT * FROM updates
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY ver DESC) AS rn
      FROM unioned
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_price
    FROM ranked WHERE rn = 1
    GROUP BY o_orderstatus
    """,
)
def snk_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent upsert: base UNION updates, last-writer-wins by
    (key, version) via row_number. Generalizes the reference's
    Socrata/Postgres upsert-on-trip-id ([P high], SURVEY §2.1)."""
    orders = load(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderkey") % 10 < 8).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit(1).alias("ver")
    )
    updates = orders.where(F.col("o_orderkey") % 10 >= 5).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice"),
        F.lit(2).alias("ver"),
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("ver").desc())
    merged = (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    # exact DECIMAL(18,4) aggregation: a double sum reaches ~2e10 at
    # sf0.1, where engine summation-order differences exceed the
    # round-4 margin (measured: .2449 vs .245 at sf0.1). The
    # double->decimal cast of each 4-decimal row value is
    # deterministic and engine-identical, and the decimal sum is
    # exact, so both engines produce the same digits at ANY scale.
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_price"),
    )


@query(
    "snk_bucketed_join",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def snk_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join: both sides written
    ``bucketBy(8, custkey)`` + ``sortBy`` as external tables, then
    sort-merge-joined WITHOUT a shuffle exchange on either side
    (verified: no Exchange above the scans in the executed plan; the
    merge hint keeps Catalyst from broadcasting the small side at
    test scale, which would hide the bucketing effect).

    This is the 100 TB repeated-join amortizer: pay one bucketed
    write, then every subsequent join/aggregation on the bucket key
    is shuffle-free — Spark's answer to co-located storage layouts.

    Table names are FIXED per sf_dir and written mode("overwrite"):
    repeated selfcheck/bench/test runs reuse the same two catalog
    entries instead of leaking uuid-named metastore tables and
    .scratch files per invocation (laziness stays valid — the
    returned DataFrame scans tables that persist until the next
    overwrite).
    """
    sftag = Layout.catalog_tag(sf_dir)
    base = corpus_scratch("snk_bucketed", sf_dir)
    o_tbl, c_tbl = f"bkt_orders_{sftag}", f"bkt_customer_{sftag}"
    (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", f"{base}/{o_tbl}")
        .saveAsTable(o_tbl)
    )
    (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", f"{base}/{c_tbl}")
        .saveAsTable(c_tbl)
    )
    o = spark.table(o_tbl)
    c = spark.table(c_tbl).hint("merge")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
        )
    )


@query(
    "snk_scd2",
    oracle="""
    WITH versions AS (
      SELECT o_custkey AS custkey, o_orderkey AS version_id,
             CAST(o_orderdate AS DATE) AS eff_from,
             o_totalprice AS attr
      FROM orders WHERE o_custkey < 30
    ), scd AS (
      SELECT custkey, version_id, eff_from, attr,
             LEAD(eff_from) OVER (PARTITION BY custkey
                                  ORDER BY eff_from, version_id) AS eff_to
      FROM versions
    )
    SELECT custkey, version_id, eff_from,
           COALESCE(eff_to, DATE '9999-12-31') AS eff_to,
           CASE WHEN eff_to IS NULL THEN 1 ELSE 0 END AS is_current,
           ROUND(attr, 4) AS attr
    FROM scd
    """,
)
def snk_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: versioned facts become
    effectivity ranges via lead() (eff_to = next version's eff_from,
    open-ended current row flagged). One window shuffle on the
    business key — the warehouse-dimension shape of the reference's
    idempotent upserts, with full history retained."""
    v = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_custkey") < 30)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("version_id"),
            F.col("o_orderdate").cast("date").alias("eff_from"),
            F.col("o_totalprice").alias("attr"),
        )
    )
    w = Window.partitionBy("custkey").orderBy("eff_from", "version_id")
    scd = v.withColumn("eff_to_raw", F.lead("eff_from").over(w))
    return scd.select(
        "custkey",
        "version_id",
        "eff_from",
        F.coalesce("eff_to_raw", F.lit("9999-12-31").cast("date")).alias("eff_to"),
        F.when(F.col("eff_to_raw").isNull(), 1).otherwise(0).alias("is_current"),
        F.round("attr", 4).alias("attr"),
    )


@query(
    "snk_jdbc_derby",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 50 = 0
    ), v2 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey % 100 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 50 = 25
    ), final AS (
      SELECT * FROM v2
      UNION ALL
      SELECT * FROM v1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v2)
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_price
    FROM final
    GROUP BY 1
    """,
)
def snk_jdbc_derby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE JDBC round-trip + staging-merge upsert against embedded
    Apache Derby (shipped in Spark's own classpath) — the reference's
    Socrata/Postgres load step ([P high], SURVEY §3.1; round-3 verdict
    missing-list item 4, previously documented-only because the
    sandbox has no network: an in-process database closes it).

    Lifecycle exercised end-to-end through real JDBC:
    1. initial load: the v1 order subset written with
       ``df.write.jdbc`` (overwrite — Spark creates the table through
       the Derby dialect);
    2. incremental batch: v2 = price-bumped updates for half the keys
       PLUS brand-new keys, applied via :func:`write_jdbc_upsert` —
       parallel INSERTs into a uuid staging table, then ONE set-based
       ANSI MERGE (Derby >= 10.11 implements it) and staging drop;
    3. read-back: ``spark.read.jdbc`` and a per-status aggregate.

    The oracle recomputes the same last-writer-wins fixpoint from the
    orders table directly, so the hash check proves the whole
    write→merge→read path is lossless and the MERGE applied exactly
    (updates overwrite, inserts append, untouched rows survive).
    Exact DECIMAL(18,4) aggregation as in snk_upsert_merge. The
    embedded db lives in .scratch and is NOT deleted between runs —
    the overwrite + deterministic merge make re-runs idempotent, and
    tearing down a Derby directory mid-JVM corrupts its booted-db
    cache. At scale the url points at the real warehouse; everything
    else runs as-is.

    Concurrency (r13 VERDICT item 4): embedded Derby admits ONE JVM
    per database directory — two processes running this key against a
    shared dir race on the db lock and the loser errors with "Failed
    to start database". The database dir is therefore PER-PROCESS
    (pid-suffixed), so overlapped gate runs (driver_sim + selfcheck)
    each boot their own db. Stale siblings whose owning pid is dead
    are swept opportunistically — safe because a dead pid's JVM
    cannot have the db booted (pid-reuse only defers cleanup, never
    corrupts a live db)."""
    import os
    import shutil

    db_home = scratch_dir("snk_jdbc_derby", "home")
    jvm = spark.sparkContext._jvm
    # keep derby.log inside .scratch (no-op if the engine already booted)
    jvm.java.lang.System.setProperty("derby.system.home", db_home)
    import time
    from pathlib import Path

    def _quiesced(d: Path, age_s: float = 600.0) -> bool:
        # the Derby lock is held by the py4j-launched JVM, which can
        # briefly OUTLIVE a SIGKILLed python driver — a dead driver
        # pid alone does not prove the db is unbooted. Require the db
        # dir to also have been write-quiet for age_s (an active
        # Derby touches its transaction log continuously).
        try:
            newest = max(
                [d.stat().st_mtime]
                + [c.stat().st_mtime for c in d.iterdir()]
            )
        except OSError:
            return False
        return (time.time() - newest) > age_s

    # glob on a not-yet-created base yields nothing — no mkdir needed
    base = Path(corpus_scratch("snk_jdbc_derby", sf_dir))
    legacy = base / "db"  # pre-r14 shared dir: never reused, sweep it
    if legacy.is_dir() and _quiesced(legacy):
        shutil.rmtree(legacy, ignore_errors=True)
    # pid liveness needs procfs; without it (non-Linux) SKIP the sweep
    # rather than treat every pid as dead — stale dirs accumulate, but
    # a live idle db is never torn down
    if Path("/proc").is_dir():
        for sib in base.glob("db-pid*"):
            pid = sib.name.removeprefix("db-pid")
            if (
                pid.isdigit()
                and not Path(f"/proc/{pid}").exists()
                and _quiesced(sib)
            ):
                shutil.rmtree(sib, ignore_errors=True)
    db = corpus_scratch("snk_jdbc_derby", sf_dir, f"db-pid{os.getpid()}")
    url = f"jdbc:derby:{db};create=true"

    o = load(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    v1 = o.where(F.col("o_orderkey") % 50 == 0).select(*cols)
    v2 = (
        o.where(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") + 1000).alias("o_totalprice"),
        )
        .unionAll(o.where(F.col("o_orderkey") % 50 == 25).select(*cols))
    )
    # few, larger batches: embedded Derby is in-process, so wide write
    # parallelism buys nothing here (against a remote warehouse you
    # would keep the natural partitioning + batched inserts)
    v1.coalesce(2).write.mode("overwrite").jdbc(url, "target")
    write_jdbc_upsert(v2.coalesce(2), url, "target", ["o_orderkey"])
    return (
        spark.read.jdbc(url, "target")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
            ).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# snk_zorder_layout — Z-order clustered layout for 2-D data skipping
# ---------------------------------------------------------------------------

_ZO_BITS = 7  # 7 bits per dimension -> 14-bit z-values
# query window (a selective 2-D box: each dimension alone is ~20% of
# its range, the combined box ~4% of rows — the shape where Z-order
# beats single-column sort layouts)
_ZO_X = (40, 65)
_ZO_Y = (30, 55)

# xi is a shared textual fragment; yi's JSON accessor differs per
# engine (get_json_object vs json_extract_string) so each engine
# derives the INTEGER yi column first and the interleave fragment
# below is shared over the derived column names
_ZO_XI = "CAST(LEAST(FLOOR(value / 80e0), 127) AS BIGINT)"
_ZO_YI_SPARK = "CAST(LEAST(CAST(get_json_object(props, '$.k') AS INT), 127) AS BIGINT)"
_ZO_YI_DUCK = "CAST(LEAST(CAST(json_extract_string(props, '$.k') AS INTEGER), 127) AS BIGINT)"


def _zo_interleave_sql(xi: str, yi: str) -> str:
    """Bit-interleave SQL shared textually by both engines: z =
    Σ_b  x_b<<(2b+1) | y_b<<(2b) — pure integer shifts/masks."""
    terms = []
    for b in range(_ZO_BITS):
        terms.append(f"((({xi} >> {b}) & 1) << {2 * b + 1})")
        terms.append(f"((({yi} >> {b}) & 1) << {2 * b})")
    return " + ".join(terms)


@query(
    "snk_zorder_layout",
    oracle=f"""
    WITH derived AS (
      SELECT value, {_ZO_XI} AS xi, {_ZO_YI_DUCK} AS yi FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value,
           CAST(MIN({_zo_interleave_sql("xi", "yi")}) AS BIGINT) AS min_z,
           CAST(MAX({_zo_interleave_sql("xi", "yi")}) AS BIGINT) AS max_z
    FROM derived
    WHERE xi BETWEEN {_ZO_X[0]} AND {_ZO_X[1]}
      AND yi BETWEEN {_ZO_Y[0]} AND {_ZO_Y[1]}
    """,
)
def snk_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered table layout — the data-skipping OPTIMIZE
    step lakehouse formats run, expressed in pure Spark: derive a
    14-bit Morton code interleaving two query dimensions (value-bin
    xi, props.$.k yi), `repartitionByRange` + `sortWithinPartitions`
    on z, and write parquet — so every FILE and ROW GROUP covers a
    small z-range, and therefore a small (xi, yi) RECTANGLE. A 2-D
    box predicate then prunes most files via parquet min/max stats
    on the stored xi/yi columns, where a single-column sort layout
    only prunes one dimension. The query half reads the staged
    layout back with the box filter (pushed to the scan) and
    aggregates; the oracle recomputes from the RAW table — layout
    must never change semantics.

    Locality is ASSERTED in tests (per-file xi/yi spans via parquet
    footers, vs the unclustered source). At 100 TB this is the
    maintenance job that turns a full-scan geo/time query into a
    bounded-file read; z derivation is pure integer shifts (identical
    on both engines), the range partitioner is the only exchange,
    and the sort is within partitions (no global sort)."""
    xi = F.expr(_ZO_XI)
    yi = F.expr(_ZO_YI_SPARK)
    z = F.expr(_zo_interleave_sql("xi", "yi"))

    def build(indir: str) -> None:
        (
            load(spark, sf_dir, "events")
            .select("event_id", "value", xi.alias("xi"), yi.alias("yi"))
            .withColumn("z", z)
            .repartitionByRange(8, "z")
            .sortWithinPartitions("z")
            .write.mode("overwrite")
            .parquet(indir)
        )

    staged = stage_scratch("snk_zorder", sf_dir, "events", build)
    t = read_parquet(spark, staged).where(
        F.col("xi").between(*_ZO_X) & F.col("yi").between(*_ZO_Y)
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias(
            "sum_value"
        ),
        F.min("z").alias("min_z"),
        F.max("z").alias("max_z"),
    )


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
            read_parquet(spark, small)
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
    t = read_parquet(spark, compacted)
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# snk_cdc_apply — change-data-capture log folded into a published snapshot
# ---------------------------------------------------------------------------


# the batch fold of the I/U/D log; stm_cdc_stream_apply's streaming
# merge must land on the same snapshot, so both keys declare it
_CDC_ORACLE = """
    WITH log AS (
      SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
             o_orderstatus AS status, o_totalprice AS price
      FROM orders
      UNION ALL
      SELECT o_orderkey, 2, 'U', 'U', o_totalprice + 100.0
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 3, 'D', NULL, NULL
      FROM orders WHERE o_orderkey % 5 = 0
    ), last AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      FROM log
    ), snap AS (
      SELECT k, status, price FROM last WHERE rn = 1 AND op <> 'D'
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_price
    FROM snap GROUP BY status
"""


def _cdc_log_parts(orders: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The deterministic I/U/D change log derived from orders, as its
    (insert, update, delete) parts: every key INSERTs at seq 1, keys
    %3 UPDATE at seq 2, keys %5 DELETE at seq 3."""
    ins = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    upd = orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        F.lit("U").alias("status"),
        (F.col("o_totalprice") + 100.0).alias("price"),
    )
    dele = orders.where(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("price"),
    )
    return ins, upd, dele


@query("snk_cdc_apply", oracle=_CDC_ORACLE)
def snk_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log application — the change-feed half of upsert ([P
    high]: provider pulls arrive as insert/update/delete events; the
    published dataset is the FOLD of that log, exactly what a
    Delta/Iceberg MERGE or a Debezium consumer materializes). A
    deterministic I/U/D log is derived from orders (every key
    INSERTs at seq 1; keys %3 UPDATE at seq 2; keys %5 DELETE at
    seq 3), folded last-writer-wins per key via row_number over seq,
    deletes dropped, and the applied snapshot WRITTEN to parquet —
    the verified figures are read back from the files, so a wrong
    fold order, surviving delete, or lost update flips the hash.

    Plan shape: one window exchange on key folds the log; the write
    is an append-free overwrite (idempotent re-runs). At 100 TB the
    identical query runs per partition-of-keys; the window is the
    engine-neutral MERGE kernel, and the log:snapshot ratio — not
    table size — governs cost. DECIMAL sum at the boundary (hazard
    rules 1/2)."""
    ins, upd, dele = _cdc_log_parts(load(spark, sf_dir, "orders"))
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    snap = (
        ins.unionByName(upd)
        .unionByName(dele)
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("k", "status", "price")
    )
    path = corpus_scratch("snk_cdc_apply", sf_dir)
    snap.write.mode("overwrite").parquet(path)
    return (
        read_parquet(spark, path)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.col("price").cast("decimal(18,4)")).cast("double"), 4
            ).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# snk_manifest_publish — manifest-verified partitioned publication
# ---------------------------------------------------------------------------


@query(
    "snk_manifest_publish",
    oracle="""
    WITH pub AS (
      SELECT month(CAST(o_orderdate AS TIMESTAMP)) AS m,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT CAST(COUNT(DISTINCT m) AS BIGINT) AS n_files,
           CAST(COUNT(DISTINCT m) AS BIGINT) AS n_months,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM pub
    """,
)
def snk_manifest_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-verified publication — the atomic-swap publish
    contract ([P high]: the reference publishes public datasets on a
    schedule; production lakehouse publishes pair the data files
    with a MANIFEST of per-file row counts/checksums so consumers
    can verify completeness and readers can swap atomically). The
    month-partitioned snapshot (one file per month: repartition by
    the partition column means each month lands in exactly one
    task) is written, a manifest derived from the FILES THEMSELVES
    (input_file_name + per-file totals) is written beside it, and
    the verification re-aggregates the data per month AGAINST the
    manifest — n_mismatch counts months whose manifest row/cents
    totals disagree with the files, so a dropped file, double write,
    or stale manifest flips the hash (and the totals themselves are
    cross-checked against the source closed-form by the oracle).

    Plan shape: one repartition exchange for the 1-file-per-month
    layout (the publish-layout cost, same as snk_partitioned), one
    file-granular agg for the manifest, one month agg + broadcast
    join for verification. Integer cents via the shared
    floor(x*100+0.5) lift (hazard: bare CAST rounds vs truncates).

    r12 decomposition (BASELINE.md round-12 section; was the 2.66x
    INCLUSIVE row): at x100 the phases split write 3.86 s (3.07x —
    scan+project+repartition 1.99 s noop-measured, parquet writer
    proper ~1.87 s ≈ 125 ns/row), manifest 0.71 s, verify 0.52 s
    (dispatch-floor absolutes). Writer-knob ledger all measured, none
    beats default snappy (zstd 4.45 s, lz4 4.40 s, uncompressed
    4.69 s, dictionary-off 4.09 s, dict-off+8MB-pages 4.25 s);
    maxRecordsPerFile is moot — n_files=12 is hash-checked, so the
    repartition stands. CLOSED-AS-CONSTANT-FACTOR with the constant
    named: the InternalRow→Parquet per-row writer path vs DuckDB's
    vectorized native writer; executor-parallel at 100 TB."""
    data_dir = corpus_scratch("snk_manifest_pub", sf_dir, "data")
    man_dir = corpus_scratch("snk_manifest_pub", sf_dir, "manifest")
    pub = load(spark, sf_dir, "orders").select(
        F.month(F.col("o_orderdate").cast("timestamp")).alias("m"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    (
        pub.repartition(12, "m")
        .write.mode("overwrite")
        .partitionBy("m")
        .parquet(data_dir)
    )
    back = read_parquet(spark, data_dir)
    manifest = (
        back.groupBy(F.input_file_name().alias("file"), "m")
        .agg(F.count(F.lit(1)).alias("m_rows"), F.sum("cents").alias("m_cents"))
    )
    manifest.write.mode("overwrite").parquet(man_dir)
    man = read_parquet(spark, man_dir)
    man_by_month = man.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("m_rows").alias("man_rows"),
        F.sum("m_cents").alias("man_cents"),
    )
    data_by_month = back.groupBy("m").agg(
        F.count(F.lit(1)).alias("d_rows"), F.sum("cents").alias("d_cents")
    )
    v = data_by_month.join(F.broadcast(man_by_month), "m")
    return v.agg(
        F.sum("n_files").alias("n_files"),
        F.count(F.lit(1)).alias("n_months"),
        F.sum("d_rows").alias("total_rows"),
        F.sum("d_cents").alias("total_cents"),
        F.sum(
            F.when(
                (F.col("d_rows") != F.col("man_rows"))
                | (F.col("d_cents") != F.col("man_cents")),
                1,
            ).otherwise(0)
        ).alias("n_mismatch"),
    )


# ---------------------------------------------------------------------------
# snk_python_datasource_write — PySpark 4 Python DataSource WRITER
# ---------------------------------------------------------------------------

class _JsonlCommit(WriterCommitMessage):
    """Per-task commit message: the file this task produced and
    its row count (must be picklable driver<-worker)."""

    def __init__(self, filename: str, n_rows: int) -> None:
        self.filename = filename
        self.n_rows = n_rows


class JsonlSinkDataSource(DataSource):
    """Custom BATCH SINK via the PySpark 4 Python DataSource API —
    the writer half of the V2 surface whose reader half is
    ``SyntheticFeedDataSource`` (src_python_datasource) and whose
    streaming-reader half is ``SyntheticCounterStream``
    (stm_python_stream_source). Each task writes its partition as
    one JSON-lines file and returns a commit message; the DRIVER
    commit publishes a manifest naming exactly the committed
    files — the two-phase all-or-nothing contract (a failed task's
    orphan file is never manifested)."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite):  # noqa: ANN001 - pyspark API
        return _JsonlSinkWriter(self.options["path"])


class _JsonlSinkWriter(DataSourceWriter):
    def __init__(self, path: str) -> None:
        self.path = path

    def write(self, iterator):  # noqa: ANN001 - per-task, on workers
        import json
        import os
        import uuid

        fname = f"part-{uuid.uuid4().hex}.jsonl"
        full = os.path.join(self.path, fname)
        n = 0
        with open(full, "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _JsonlCommit(fname, n)

    def commit(self, messages):  # noqa: ANN001 - on the driver
        import json
        import os

        manifest = {
            "files": sorted(m.filename for m in messages if m is not None),
            "rows": sum(m.n_rows for m in messages if m is not None),
        }
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
            json.dump(manifest, fh)

    def abort(self, messages):  # noqa: ANN001
        pass  # no manifest -> nothing published; files are scratch


@query(
    "snk_python_datasource_write",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders
    WHERE o_orderkey % 100 = 0
    GROUP BY o_orderpriority
    """,
)
def snk_python_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE through a CUSTOM Python DataSource (PySpark 4 V2 writer
    API), then read the MANIFESTED files back and aggregate — closing
    the V2 triangle (batch read / stream read / batch WRITE). Pins
    the two-phase commit contract: per-task ``write(iterator)`` →
    picklable commit message, driver-side ``commit(messages)``
    publishing a manifest of exactly the committed files; the
    readback consumes ONLY manifested files, so an aborted task's
    orphan output can never leak into the result (the exactly-once
    discipline snk_manifest_publish pins for parquet, here for a
    user-defined sink).

    Scale posture: SURFACE demo of the writer contract — each row
    crosses the Python worker and lands as text JSON; the production
    twin of this write is the JVM parquet sink (snk_parquet). Local
    FS paths work because local[*] workers share the driver's disk;
    a cluster deployment points the same writer at an object store.
    Integer-only measures (count / key sum, DuckDB HUGEINT hazard).

    The sink writes into a ``run_scratch`` directory of its own, which
    is removed when the key returns, so the aggregate of at most 5
    rows is read back and materialised first."""
    import json
    import os

    # re-registration of a session-scoped name is a silent overwrite in
    # this API (probed: no error on duplicate register), so a raise here
    # is a REAL failure that must surface — not be swallowed as
    # "already registered" (r9 ADVICE #3)
    spark.dataSource.register(JsonlSinkDataSource)
    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_orderpriority")
    )
    with run_scratch("pyds_sink") as out_dir:
        src.write.format("jsonl_sink").option("path", out_dir).mode(
            "append"
        ).save()
        with open(os.path.join(out_dir, "_MANIFEST.json")) as fh:
            manifest = json.load(fh)
        files = [os.path.join(out_dir, f) for f in manifest["files"]]
        back = spark.read.schema("o_orderkey long, o_orderpriority string").json(
            files
        )
        out = back.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
        )
        # materialize: the frame returned must not depend on run-id dirs
        pdf = out.toPandas()
    return spark.createDataFrame(
        pdf, schema="o_orderpriority string, n_orders long, sum_key long"
    )
