"""Plan-build cost and the plan forms it depends on.

The bench keys and the keys once built from Python ``Column`` loops
build their plans from one SQL text each (``session.sql_over``; two
for ``llm_bm25_topk``, one on each side of its ``localCheckpoint``), so
a build is one analysis and a handful of py4j round trips; the budget
test pins that. Those keys are the vector keys and the MinHash keys
(their math written once as the SQL builders of
``operators/dedup_ann.py``), the point-in-polygon, hex and hub keys
(the crossing test written once in ``operators/geo.py``), the data
quality audits, and four aggregate and fold keys. The horizontal-edge
pin builds the pre-r16 point-in-polygon form, which kept every edge,
from the same crossing builder, for its equality check and for
``scripts/ab.py`` (form
``tests.test_plan_build:geo_point_in_polygon_flat_edges``); the
Python-sink pin keeps the pre-r16 lazy read-back of
``snk_python_datasource_write`` the same way
(``tests.test_plan_build:snk_python_datasource_write_lazy``)."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atd_dockless_processing_spark import QUERIES, tables
from atd_dockless_processing_spark.operators import geo
from atd_dockless_processing_spark.session import sql_over
from atd_dockless_processing_spark.sources.sinks import JsonlSinkDataSource
from bench import BENCH_SET, table_provider

# py4j round trips one key's plan build may take over the bench's
# table provider
PY4J_BUDGET = 40

# Keys written as SQL text that were spelled as Column loops (each
# built with 236-7,911 py4j calls then)
SQL_BUILDER_KEYS = (
    "llm_kmeans_step",
    "llm_semdedup",
    "llm_ann_ivf",
    "llm_dedup_embedding",
    "llm_dedup_simhash",
    "llm_ann_hyperplane",
    "llm_vector_quantize",
    "llm_knn_join",
    "llm_vector_norm_filter",
    "llm_dedup_near_minhash",
    "llm_dedup_ngram",
    "geo_point_in_polygon",
    "geo_hex_bin",
    "geo_hex_ring_smooth",
    "geo_nearest_hub",
    "dq_skew_report",
    "dq_fk_orphans",
    "dq_pk_uniqueness",
    "dq_profile_table",
    "agg_corr_cov",
    "agg_bloom_membership",
    "evt_gap_islands",
    "llm_bm25_topk",
)


def test_bench_and_sql_builder_keys_build_within_py4j_budget(spark, sf_dir):
    """Each bench key's and SQL-builder key's plan build, over
    ``bench.table_provider`` with the tables already cached, makes at
    most ``PY4J_BUDGET`` py4j round trips, counted as
    ``scripts/dump_plans.py`` counts its ``build py4j`` column."""
    from dump_plans import build_jobs

    cache = {}
    tables.set_table_provider(table_provider(spark, cache))
    try:
        calls = {}
        for key in (*BENCH_SET.values(), *SQL_BUILDER_KEYS):
            QUERIES[key](spark, sf_dir)  # caches the key's tables
            calls[key] = build_jobs(spark, key, sf_dir)[2]
        over = {k: n for k, n in calls.items() if n > PY4J_BUDGET}
        assert not over, f"keys over {PY4J_BUDGET} py4j calls per build: {over}"
    finally:
        tables.set_table_provider(None)
        for df in cache.values():
            df.unpersist()


def geo_point_in_polygon_flat_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``geo_point_in_polygon`` as registered before r16: a crossing
    term for every edge, the horizontal ones included."""
    return sql_over(
        spark, geo._pip_key_sql(geo._pip_zone_sql()), events=tables.load(spark, sf_dir, "events")
    )


def test_pip_skips_flat_edges_and_matches_old_form(spark, sf_dir, tmp_path):
    """The point-in-polygon key leaves the 3 horizontal edges of the
    L-shaped zone out of its plan (9 edge terms to 6) and returns the
    rows of the form that kept them, on the driver corpus and on one
    whose points lie at every edge's y value (``user_id`` 0..39)."""

    def edge_terms(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count("CASE WHEN")

    new = QUERIES["geo_point_in_polygon"](spark, sf_dir)
    old = geo_point_in_polygon_flat_edges(spark, sf_dir)
    assert (edge_terms(old), edge_terms(new)) == (9 + 1, 6 + 1)  # + the zone CASE
    events = pq.read_table(f"{sf_dir}/events.parquet")
    pq.write_table(
        events.set_column(
            events.schema.get_field_index("user_id"),
            "user_id",
            pa.array(np.arange(events.num_rows) % 40, events.schema.field("user_id").type),
        ),
        tmp_path / "events.parquet",
    )
    for d in (sf_dir, str(tmp_path)):
        rows = sorted(map(tuple, QUERIES["geo_point_in_polygon"](spark, d).collect()))
        assert rows and rows == sorted(map(tuple, geo_point_in_polygon_flat_edges(spark, d).collect()))


def snk_python_datasource_write_lazy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``snk_python_datasource_write`` as registered before r16: the
    aggregate is returned lazily over the manifested sink files, so
    its ``.scratch/pyds_sink/run_<uuid>`` directory stays behind."""
    out_dir = tables.scratch_dir("pyds_sink", f"run_{uuid.uuid4().hex[:12]}")
    os.makedirs(out_dir, exist_ok=True)
    spark.dataSource.register(JsonlSinkDataSource)
    src = (
        tables.load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_orderpriority")
    )
    src.write.format("jsonl_sink").option("path", out_dir).mode("append").save()
    with open(os.path.join(out_dir, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    files = [os.path.join(out_dir, f) for f in manifest["files"]]
    back = spark.read.schema("o_orderkey long, o_orderpriority string").json(files)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("sum_key"),
    )


def test_python_sink_returns_the_lazy_forms_rows(spark, sf_dir):
    """The Python-sink key returns a materialised frame (no JSON scan
    in its plan) with the rows and column types of the lazy pre-r16
    form; only the old form leaves a run directory behind."""
    runs = tables.SCRATCH / "pyds_sink"
    before = set(runs.glob("run_*"))
    old = snk_python_datasource_write_lazy(spark, sf_dir)
    try:
        want = sorted(map(tuple, old.collect()))
    finally:
        for d in set(runs.glob("run_*")) - before:
            shutil.rmtree(d)
    new = QUERIES["snk_python_datasource_write"](spark, sf_dir)
    assert "json" in old._jdf.queryExecution().executedPlan().toString().lower()
    assert "json" not in new._jdf.queryExecution().executedPlan().toString().lower()
    assert [(f.name, f.dataType) for f in new.schema] == [
        (f.name, f.dataType) for f in old.schema
    ]
    assert want and sorted(map(tuple, new.collect())) == want
    assert set(runs.glob("run_*")) <= before
