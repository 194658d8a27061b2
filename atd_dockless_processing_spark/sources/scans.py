"""Scan/source operators — SURVEY.md §2.1.

Covers the reference's ingest surface ([P]: MDS JSON feeds, CSV
extracts — SURVEY §1.1) re-expressed as Spark readers with explicit
schemas. Scale notes: parquet scans get predicate pushdown + column
pruning from Catalyst; CSV/JSON readers with explicit schemas avoid
the inference pass (a full extra read at 100 TB).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..registry import query
from ..tables import corpus_scratch, load, read_parquet, stage_scratch, write_one_parquet


@query(
    "src_parquet_scan",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           CAST(l_shipdate AS DATE) AS l_shipdate
    FROM lineitem
    """,
)
def src_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-projection parquet scan of lineitem (timestamp cast to date
    for cross-engine hash stability)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        F.col("l_shipdate").cast("date").alias("l_shipdate"),
    )


_CSV_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("ship_date", T.DateType()),
    ]
)


@query(
    "src_csv_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag
    """,
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a lineitem subset to CSV (header), re-read with an explicit
    schema, aggregate. Mirrors the reference's CSV ingest ([P high],
    SURVEY §2.1)."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") < "1996-01-01")
    subset = li.select(
        "l_orderkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )
    path = corpus_scratch("src_csv_roundtrip", sf_dir)
    subset.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(_CSV_SCHEMA).option("header", True).csv(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
    )


_JSON_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@query(
    "src_json_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY event_type
    """,
)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an events subset to JSON-lines, re-read with explicit
    schema, aggregate. Mirrors MDS JSON feed ingest ([P high])."""
    ev = load(spark, sf_dir, "events").where(F.col("event_type").isin("click", "view"))
    subset = ev.select("event_id", "user_id", "event_type", "value")
    path = corpus_scratch("src_json_roundtrip", sf_dir)
    subset.write.mode("overwrite").json(path)
    back = spark.read.schema(_JSON_SCHEMA).json(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


_ORC_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
    ]
)


@query(
    "src_orc_roundtrip",
    oracle="""
    SELECT l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice), 4) AS sum_price
    FROM lineitem
    WHERE l_quantity >= 25
    GROUP BY l_linestatus
    """,
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a lineitem subset to ORC, re-read with explicit schema,
    aggregate. ORC is Spark's second first-class columnar format
    (predicate pushdown + column pruning, like parquet) — format
    coverage for ingest interop."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 25)
    subset = li.select("l_orderkey", "l_linestatus", "l_quantity", "l_extendedprice")
    path = corpus_scratch("src_orc_roundtrip", sf_dir)
    subset.write.mode("overwrite").orc(path)
    back = spark.read.schema(_ORC_SCHEMA).orc(path)
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
    )


@query(
    "src_text_log_parse",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY event_type
    """,
)
def src_text_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured log-line ingest: render events as text log
    lines, write with the text sink, re-read with spark.read.text and
    parse fields back out with regexp_extract — the classic
    "raw application logs -> typed columns" ETL entry path ([P high]:
    the reference's ingest is parsing semi-structured provider
    payloads). The value field is serialized via %s (Java shortest
    round-trip repr), so the re-parsed double is bit-identical and
    the oracle can aggregate the original parquet directly."""
    ev = load(spark, sf_dir, "events").where(F.col("event_type").isin("click", "view"))
    lines = ev.select(
        F.format_string(
            "evt id=%d type=%s value=%s", "event_id", "event_type", "value"
        ).alias("value")
    )
    path = corpus_scratch("src_text_log", sf_dir)
    lines.write.mode("overwrite").text(path)
    back = spark.read.text(path)
    parsed = back.select(
        F.regexp_extract("value", r"type=(\w+)", 1).alias("event_type"),
        F.regexp_extract("value", r"value=(\S+)$", 1).cast("double").alias("val"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("val"), 4).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# src_python_datasource — PySpark 4 Python DataSource API (V2) demo
# ---------------------------------------------------------------------------

class SyntheticFeedDataSource(DataSource):
    """Custom batch source via the PySpark 4 Python DataSource
    API: a deterministic synthetic feed (an offline stand-in
    for a REST/provider puller — the reference's ingest
    is scheduled provider-API pulls [P high]). Demonstrates the
    full V2 surface: name registration, DDL schema declaration,
    option handling, partition PLANNING on the driver
    (InputPartition per shard) and per-partition generator reads
    on the workers — rows enter Spark in parallel, never through
    a driver collect. The class lives in the shipped package zip
    (session._ship_package), so workers can unpickle the
    by-reference cloudpickle pointer under any driver cwd."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_feed"

    def schema(self) -> str:
        return "id BIGINT, shard INT"

    def reader(self, schema):  # noqa: ANN001 - pyspark API type
        return _SyntheticFeedReader(dict(self.options))


class _SyntheticFeedReader(DataSourceReader):
    def __init__(self, opts: dict):
        self.n_shards = int(opts.get("numshards", 8))
        self.rows_per = int(opts.get("rowspershard", 25000))

    def partitions(self):
        return [InputPartition(p) for p in range(self.n_shards)]

    def read(self, partition):
        p = partition.value
        base = p * self.rows_per
        for i in range(base, base + self.rows_per):
            yield (i, p)


@query(
    "src_python_datasource",
    oracle="""
    SELECT CAST(v // 25000 AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v) AS BIGINT) AS sum_id,
           CAST(SUM(CASE WHEN v % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_div7
    FROM generate_series(0, 199999) t(v)
    GROUP BY 1
    """,
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through a CUSTOM Python DataSource (PySpark 4 V2 API) and
    aggregate per shard. The source plans 8 InputPartitions on the
    driver; each worker generates its shard's rows (id = global row
    index, deterministic), so the oracle is closed-form over
    generate_series. All-integer outputs (count / sum / divisibility
    screen — DuckDB HUGEINT sums cast back to BIGINT, hazard #1).

    Scale posture: the Python-source path crosses the Python-worker
    boundary by construction — it is the SURFACE demo (like
    udf_scalar_python); production columnar ingest stays on the JVM
    parquet/orc readers (src_parquet_scan). What the key pins is the
    V2 contract: driver-side partition planning, per-partition
    generator reads, schema-declared Arrow handoff, and package-zip
    unpickling of the source class under a foreign-cwd driver."""
    # re-registration of a session-scoped name is a silent overwrite in
    # this API (probed: duplicate register raises nothing), so any
    # exception here is a genuine registration failure and must
    # propagate rather than resurface later as an unknown-format error
    # on read (r9 ADVICE #3)
    spark.dataSource.register(SyntheticFeedDataSource)
    feed = (
        spark.read.format("synthetic_feed")
        .option("numshards", 8)
        .option("rowspershard", 25000)
        .load()
    )
    return feed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("id").alias("sum_id"),
        F.sum(
            F.when(F.col("id") % 7 == 0, 1).otherwise(0)
        ).cast("long").alias("n_div7"),
    )


# ---------------------------------------------------------------------------
# src_schema_merge — schema-evolution source
# ---------------------------------------------------------------------------


@query(
    "src_schema_merge",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT COALESCE(o_orderpriority, '(pre-evolution)') AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_price
    FROM unioned
    GROUP BY 1
    """,
)
def src_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: one dataset directory whose files were
    written under two schema versions (v1 lacks ``o_orderpriority``;
    v2 added it), read back in a single scan with
    ``mergeSchema=true`` — missing columns surface as NULLs. This is
    the 100 TB data-lake reality (columns get added over months of
    ingest; readers must not require a rewrite), and this round's
    events.ts encoding flip is the same failure class.

    Staged once per sf_dir via the shared freshness-markered
    stage_scratch helper. Parquet footer schemas differ per file, so
    the scan demonstrably reconciles them — not a single-schema
    read."""

    def build(indir: str) -> None:
        orders = load(spark, sf_dir, "orders")
        v1 = orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        v2 = orders.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        for i, part in enumerate([v1, v2]):
            write_one_parquet(part, os.path.join(indir, f"v{i}.parquet"))

    indir = stage_scratch("src_schema_merge", sf_dir, "orders", build)
    merged = spark.read.option("mergeSchema", "true").parquet(indir)
    # exact DECIMAL(18,4) aggregation, same rationale as snk_upsert_merge:
    # the '(pre-evolution)' group sums half of all orders (~1e10 at
    # sf0.1), where double summation-order differences between engines
    # can cross the round-4 margin; the decimal sum is order-independent.
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("(pre-evolution)")).alias("o_orderpriority")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_price"),
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
    part = read_parquet(spark, indir)
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
# src_binary_files — binaryFile datasource ingest (multimodal intake path)
# ---------------------------------------------------------------------------


def _stage_blob_files(spark: SparkSession, sf_dir: str) -> str:
    """Stage one opaque .bin blob per selected document (doc_id % 7),
    content = the document's utf-8 text bytes. The writes run
    DISTRIBUTED through mapInPandas (each task writes its own files
    then reports a count — the shape of a binary-export stage); the
    staged directory carries NOTHING but the blobs, so everything the
    query emits must come from the datasource read itself."""

    def build(indir: str) -> None:
        import os

        import pandas as pd

        os.makedirs(indir, exist_ok=True)

        def write_files(batches):
            for pdf in batches:
                for did, text in zip(pdf["doc_id"], pdf["text"]):
                    p = os.path.join(indir, f"doc_{int(did)}.bin")
                    tmp = f"{p}.tmp"
                    with open(tmp, "wb") as fh:
                        fh.write(str(text).encode("utf-8"))
                    os.replace(tmp, p)
                yield pd.DataFrame({"n": [len(pdf)]})

        docs = (
            load(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 7 == 0) & F.col("text").isNotNull())
            .select("doc_id", "text")
        )
        # count() materializes the side-effect writes (task-level
        # retries rewrite the same content; os.replace is atomic)
        docs.mapInPandas(write_files, "n long").count()

    return stage_scratch("src_binfiles", sf_dir, "documents", build)


@query(
    "src_binary_files",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    WHERE doc_id % 7 = 0 AND text IS NOT NULL
    """,
)
def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` datasource ingest — the intake path a multimodal
    corpus actually uses (one blob per image/audio/doc object): read a
    directory of opaque .bin files as (path, length, content BINARY)
    rows, derive the record key from the file name and fingerprint the
    payload with md5. The oracle recomputes byte length (strlen =
    octet count) and md5 from the pre-staging text on the driver
    table, so a truncated write, a stray extra file, or a wrong
    glob all flip the hash.

    Scale shape: binaryFile is a real FileFormat — file listing is
    distributed, `pathGlobFilter` prunes at the listing (never reads
    non-matching objects), each file is one row in a split sized by
    maxPartitionBytes bin-packing MANY small blobs per task (the
    small-files story), and content stays columnar binary through the
    scan. The projection here never touches `modificationTime`, so
    schema pruning drops it. This is the front door that feeds
    mm_decode_stub/mm_decode_wav-style Arrow decode stages."""
    indir = _stage_blob_files(spark, sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(indir)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
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
# src_xml_roundtrip — Spark 4 native XML datasource
# ---------------------------------------------------------------------------

_XML_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderpriority", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)


@query(
    "src_xml_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML write → explicit-schema read → aggregate, on Spark 4's
    NATIVE XML datasource (no spark-xml jar — the format graduated
    into core) — the last ingest format beside CSV/JSON/ORC/parquet/
    text/binary ([P med]: municipal/GTFS-era feeds still ship XML).
    The oracle is the same aggregate straight from orders: the
    round-trip must be LOSSLESS, including double round-tripping
    through decimal text (Spark writes shortest-repr doubles and
    re-parses them exactly). Sum-of-price uses the house
    DECIMAL(18,4) exact-summation pattern (snk_parquet precedent);
    key/count sums are integer.

    Scale shape: XML parse cost is per-row and stays in the JVM
    (StaxXmlParser inside the scan stage); one combinable agg after.
    At 100 TB you'd land XML once into parquet (this exact query
    shape) and never re-scan the XML."""
    subset = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = corpus_scratch("src_xml_roundtrip", sf_dir)
    (
        subset.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .save(path)
    )
    back = (
        spark.read.schema(_XML_SCHEMA)
        .format("xml")
        .option("rowTag", "order")
        .load(path)
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("sum_key"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# src_csv_multiline — RFC 4180 CSV with embedded newlines/quotes/delimiters
# ---------------------------------------------------------------------------


@query(
    "src_csv_multiline",
    oracle="""
    WITH d AS (
      SELECT lang,
             'line1' || chr(10) || lang || ',comma "quoted" ' ||
               CAST(doc_id AS VARCHAR) AS tricky
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(LENGTH(tricky)) AS BIGINT) AS sum_len,
           CAST(SUM(CASE WHEN tricky LIKE '%' || chr(10) || '%' THEN 1 ELSE 0 END) AS BIGINT) AS n_multiline
    FROM d
    GROUP BY lang
    """,
)
def src_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 4180 CSV hard mode: fields containing EMBEDDED NEWLINES,
    the delimiter, and double quotes, written with
    quote-doubling (``escape='"'`` — Spark's DEFAULT escape is
    backslash, which no RFC 4180 reader understands; the option is
    the key's point) and re-read with ``multiLine=True`` (without it
    the reader splits records at the embedded newlines and row
    counts explode). The tricky field is built deterministically
    from (lang, doc_id), and the oracle recomputes the expected
    aggregate from the SOURCE table — any mis-parse (split rows,
    swallowed quotes, truncated fields) changes n_rows/sum_len/
    n_multiline. A unit test additionally feeds the staged files to
    an independent RFC 4180 reader (DuckDB read_csv) and requires
    the identical parse.

    Scale note: multiLine=True makes a CSV file NON-SPLITTABLE (a
    record boundary cannot be found mid-file) — one task per file,
    so the staging writes many files; at 100 TB the guidance is the
    same (many medium files, or parquet as soon as possible)."""
    def build(indir: str) -> None:
        src = load(spark, sf_dir, "documents").select(
            "lang",
            F.concat(
                F.lit("line1\n"),
                F.col("lang"),
                F.lit(',comma "quoted" '),
                F.col("doc_id").cast("string"),
            ).alias("tricky"),
        )
        (
            src.repartition(4)
            .write.mode("overwrite")
            .option("header", True)
            .option("quote", '"')
            .option("escape", '"')
            .csv(indir)
        )

    indir = stage_scratch("src_csv_multiline", sf_dir, "documents", build)
    back = (
        spark.read.schema("lang string, tricky string")
        .option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(indir)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("tricky")).alias("sum_len"),
        F.sum(
            F.when(F.col("tricky").contains("\n"), F.lit(1)).otherwise(F.lit(0))
        ).alias("n_multiline"),
    )
