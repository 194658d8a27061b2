"""End-to-end ETL pipeline operators (etl_*).

``etl_publish_funnel`` composes the reference's MDS trip-ingest
lifecycle (ingest → validate → dedup → local-time derive → grid bin →
k-anonymity suppress → publish) as one keyed Spark plan.
``etl_declarative_pipeline`` authors a pipeline with Spark 4.1
Declarative Pipelines (``pyspark.pipelines``).

The upstream runner for Declarative Pipelines is the
``spark-pipelines`` CLI, which drives a Spark Connect session and so
needs grpcio. The authoring surface is engine-agnostic:
``@dp.materialized_view`` / ``@dp.temporary_view`` / ``@dp.table``
register ``Output`` + ``Flow`` dataclasses into whatever
``GraphElementRegistry`` is active via
``graph_element_registration_context`` (a public ABC). So this module
wires the real authoring API to a local registry and a
dependency-resolving executor (``run_pipeline_locally``) with the same
dataflow-graph semantics: unordered definitions, reference by name,
materialization per output kind. A pipeline definition file runs
unmodified; switching back to the CLI runner is a configuration
change, not a code change.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.json_fast import with_json_field
from ..registry import query
from ..tables import load, scratch_dir


# ---------------------------------------------------------------------------
# etl_publish_funnel — the dockless publication lifecycle as ONE plan
# ---------------------------------------------------------------------------

_FUNNEL_K = 5  # k-anonymity floor, same as geo_od_matrix


@query(
    "etl_publish_funnel",
    oracle=f"""
    WITH validated AS (
      SELECT *
      FROM events
      WHERE ts IS NOT NULL AND value >= 0 AND value < 10000
        AND json_extract_string(props, '$.k') IS NOT NULL
    ), deduped AS (
      SELECT * FROM (
        SELECT *,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, event_type, date_trunc('minute', ts)
                 ORDER BY ts, event_id) AS rn
        FROM validated
      ) WHERE rn = 1
    ), derived AS (
      SELECT timezone('America/Chicago',
                      timezone('UTC', CAST(ts AS TIMESTAMP))) AS lts,
             CONCAT(CAST(CAST(FLOOR(value / 50) AS BIGINT) AS VARCHAR), '_',
                    CAST(CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INTEGER) / 25.0) AS BIGINT) AS VARCHAR)) AS cell_id,
             value
      FROM deduped
    )
    SELECT CAST(lts AS DATE) AS local_date, cell_id,
           CAST(COUNT(*) AS BIGINT) AS n_trips,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_value
    FROM derived
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_FUNNEL_K}
    """,
)
def etl_publish_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full publication lifecycle as ONE Spark plan
    ([P high], SURVEY §3.1: the cron pipeline is ingest → validate →
    dedupe re-delivered records → derive local-time calendar fields →
    bin to coarse geography → suppress sparse cells → publish):

      1. validate  — range/null screens (``flt_range`` shape; also
         enforces props.$.k non-null, the ADVICE r5 precondition);
      2. dedup     — provider re-delivery dedup: first record per
         (device, type, minute) by ROW_NUMBER (``llm_dedup_exact``
         keep-first shape on a composite business key);
      3. tz-derive — America/Chicago local date
         (``fn_date_derive_tz`` semantics);
      4. grid-bin  — the ``geo_grid_bin`` floor-cell formula;
      5. suppress  — k-anonymity HAVING floor (``geo_od_matrix``);
      6. publish   — (local_date, cell, n, exact DECIMAL value sum).

    Proves the stages compose without a driver round-trip: the whole
    funnel is validate-filter (scan-pushed) → ONE window exchange on
    the dedup key → map-side derive → ONE combinable agg exchange,
    i.e. 2 shuffles total at any scale. The dedup window partitions
    by (device, type, minute) — high-cardinality, skew-free; the agg
    key (day, cell) is low-cardinality with map-side partial agg."""
    ev = load(spark, sf_dir, "events")
    # project the JSON field once (validate null-screen + cell derive
    # both use it; Catalyst only de-duplicates cheap expressions)
    ev = with_json_field(ev, "k", "props", "k", "string").select(
        "event_id", "ts", "user_id", "event_type", "value", "k"
    )
    k = F.col("k")
    validated = ev.where(
        F.col("ts").isNotNull()
        & (F.col("value") >= 0)
        & (F.col("value") < 10000)
        & k.isNotNull()
    )
    dw = Window.partitionBy(
        "user_id", "event_type", F.date_trunc("minute", "ts")
    ).orderBy("ts", "event_id")
    deduped = validated.withColumn("rn", F.row_number().over(dw)).where(
        F.col("rn") == 1
    )
    lts = F.from_utc_timestamp("ts", "America/Chicago")
    cell = F.concat_ws(
        "_",
        F.floor(F.col("value") / 50).cast("string"),
        F.floor(k.cast("int") / 25.0).cast("string"),
    )
    return (
        deduped.select(
            lts.cast("date").alias("local_date"),
            cell.alias("cell_id"),
            "value",
        )
        .groupBy("local_date", "cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_trips"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .where(F.col("n_trips") >= _FUNNEL_K)
    )


# Pipeline graphs register session views under the USER'S dataset
# names; concurrent executions in one session would clobber each
# other (r9 review finding #5) — serialize per process.
_PIPELINE_RUN_LOCK = threading.Lock()

try:  # pyspark >= 4.1
    from pyspark.pipelines.flow import Flow
    from pyspark.pipelines.graph_element_registry import (
        GraphElementRegistry,
        graph_element_registration_context,
    )
    from pyspark.pipelines.output import MaterializedView, Output, Table, TemporaryView

    _HAVE_PIPELINES = True
except ImportError:  # pragma: no cover - older pyspark
    _HAVE_PIPELINES = False
    GraphElementRegistry = object  # type: ignore[assignment,misc]


@dataclass
class _LocalGraphRegistry(GraphElementRegistry):
    """Collects the dataflow graph the ``pyspark.pipelines`` decorators
    emit. Python-decorator pipelines only — ``register_sql`` (the
    .sql-file surface of the CLI) is explicitly out of scope here."""

    outputs: dict = field(default_factory=dict)
    flows: list = field(default_factory=list)

    def register_output(self, output: "Output") -> None:
        if output.name in self.outputs:
            raise ValueError(f"duplicate pipeline output: {output.name}")
        self.outputs[output.name] = output

    def register_flow(self, flow: "Flow") -> None:
        self.flows.append(flow)

    def register_sql(self, sql_text: str, file_path: Path) -> None:
        raise NotImplementedError(
            "SQL-file pipeline definitions are the spark-pipelines CLI "
            "surface; this local executor runs Python-decorator graphs"
        )


def run_pipeline_locally(
    spark: SparkSession, author, scratch: str
) -> dict[str, DataFrame]:
    """Execute a declarative pipeline definition with a local
    dependency-resolving scheduler.

    ``author`` is a zero-arg function whose body holds the
    ``@dp.materialized_view`` / ``@dp.temporary_view`` definitions
    (reference upstream datasets with ``spark.table(name)``, exactly
    as under the CLI runner). Definitions may appear in ANY order —
    the scheduler runs a worklist to fixpoint, deferring a flow whose
    upstream table isn't materialized yet, and raises on a cycle or a
    genuinely missing reference.

    Materialization per output kind mirrors the upstream semantics:
    TemporaryView -> session temp view (graph-internal);
    MaterializedView / Table -> parquet under ``scratch`` (overwrite —
    a full refresh, which IS materialized-view semantics for batch
    flows) read back and registered, so downstream flows consume the
    MATERIALIZED bytes, not the defining plan. At 100 TB each flow is
    an independent Spark job over the materialized upstream — the
    pipeline graph adds scheduling, not shuffles.

    The graph's dataset NAMES are the user's (authoring fidelity —
    `spark.table("dp_mktseg_year_rev")` must resolve as written), so
    they cannot be uuid-scoped like ad-hoc views; instead execution
    is serialized per process (two concurrent runs would race on
    createOrReplaceTempView and cross-read each other's corpora, r9
    review finding #5) and every graph view is dropped on exit —
    returned DataFrames stay valid because spark.table() resolves at
    DataFrame-creation analysis, not at action time (the
    sql_session_variable precedent, pinned in tests)."""
    if not _HAVE_PIPELINES:  # pragma: no cover
        raise NotImplementedError("pyspark.pipelines requires pyspark >= 4.1")
    reg = _LocalGraphRegistry()
    with graph_element_registration_context(reg):
        author()
    flow_targets = {f.target for f in reg.flows}
    missing = [n for n in reg.outputs if n not in flow_targets]
    if missing:
        raise ValueError(f"pipeline outputs with no defining flow: {missing}")

    results: dict[str, DataFrame] = {}
    pending = list(reg.flows)
    with _PIPELINE_RUN_LOCK:
        try:
            _run_worklist(spark, reg, pending, results, scratch)
        finally:
            for name in reg.outputs:
                spark.catalog.dropTempView(name)
    return results


def _run_worklist(spark, reg, pending, results, scratch) -> None:
    while pending:
        deferred = []
        for flow in pending:
            overrides = dict(flow.spark_conf)
            saved = {k: spark.conf.get(k, None) for k in overrides}
            try:
                for k, v in overrides.items():
                    spark.conf.set(k, v)
                df = flow.func()
            except AnalysisException as exc:
                if "TABLE_OR_VIEW_NOT_FOUND" in str(exc):
                    deferred.append(flow)  # upstream not materialized yet
                    continue
                raise
            finally:
                for k, v in saved.items():
                    spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
            out = reg.outputs[flow.target]
            if isinstance(out, TemporaryView):
                df.createOrReplaceTempView(flow.target)
                results[flow.target] = df
            elif isinstance(out, (MaterializedView, Table)):
                writer = df.write.mode("overwrite")
                if out.partition_cols:
                    writer = writer.partitionBy(*out.partition_cols)
                path = f"{scratch}/{flow.target}"
                writer.format(out.format or "parquet").save(path)
                mat = spark.read.format(out.format or "parquet").load(path)
                mat.createOrReplaceTempView(flow.target)
                results[flow.target] = mat
            else:  # StreamingTable / Sink — CLI-runner surface
                raise NotImplementedError(
                    f"local executor does not run {type(out).__name__} outputs"
                )
        if len(deferred) == len(pending):
            names = [f.target for f in deferred]
            raise ValueError(
                f"pipeline flows never became runnable (cycle or missing "
                f"upstream reference): {names}"
            )
        pending = deferred


_DP_TOP_YEARS = 3


@query(
    "etl_declarative_pipeline",
    oracle=f"""
    WITH dp_orders_clean AS (
      SELECT o_custkey, o_totalprice,
             CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year
      FROM orders WHERE o_orderstatus <> 'P'
    ), dp_mktseg_year_rev AS (
      SELECT c_mktsegment, o_year,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
               AS revenue
      FROM dp_orders_clean JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, o_year
    )
    SELECT c_mktsegment, o_year, n_orders, revenue,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY revenue DESC, o_year) AS rnk
      FROM dp_mktseg_year_rev
    ) WHERE rnk <= {_DP_TOP_YEARS}
    """,
)
def etl_declarative_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark Declarative Pipelines (4.1 ``pyspark.pipelines``): a
    3-stage medallion graph — temp view (clean) -> materialized view
    (segment x year revenue) -> materialized view (top years per
    segment) — authored with the REAL upstream decorators and run by
    the local dependency-resolving executor (module docstring; the
    Connect-based CLI runner is environment-blocked by missing
    grpcio, probe in SURVEY §7.6).

    Definitions are deliberately registered OUT of dependency order
    to exercise the scheduler. Exactness: integer counts, DECIMAL
    accumulation cast to double at the boundary (hazard ledger #2/#7),
    deterministic (revenue DESC, year) tie-break."""
    import pyspark.pipelines as dp

    scratch = scratch_dir("dp_pipeline", sf_dir.strip("/").replace("/", "_"))

    def author() -> None:
        # gold first: the executor must defer it twice
        @dp.materialized_view(name="dp_top_years")
        def dp_top_years() -> DataFrame:
            w = Window.partitionBy("c_mktsegment").orderBy(
                F.desc("revenue"), "o_year"
            )
            return (
                spark.table("dp_mktseg_year_rev")
                .withColumn("rnk", F.row_number().over(w).cast("int"))
                .where(F.col("rnk") <= _DP_TOP_YEARS)
            )

        @dp.materialized_view(name="dp_mktseg_year_rev")
        def dp_mktseg_year_rev() -> DataFrame:
            cust = load(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            )
            return (
                spark.table("dp_orders_clean")
                .join(cust, F.col("o_custkey") == cust.c_custkey)
                .groupBy("c_mktsegment", "o_year")
                .agg(
                    F.count(F.lit(1)).alias("n_orders"),
                    F.round(
                        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast(
                            "double"
                        ),
                        4,
                    ).alias("revenue"),
                )
            )

        @dp.temporary_view(name="dp_orders_clean")
        def dp_orders_clean() -> DataFrame:
            return (
                load(spark, sf_dir, "orders")
                .where(F.col("o_orderstatus") != "P")
                .select(
                    "o_custkey",
                    "o_totalprice",
                    F.year("o_orderdate").cast("int").alias("o_year"),
                )
            )

    results = run_pipeline_locally(spark, author, scratch)
    return results["dp_top_years"].select(
        "c_mktsegment", "o_year", "n_orders", "revenue", "rnk"
    )
