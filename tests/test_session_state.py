"""Keys borrow the one shared SparkSession and the ``.scratch``
directory and give them back as they found them: DataFrames reach
SQL text as keyword arguments of ``session.sql_over``, temp functions are dropped once
the query is analyzed, confs are set through ``session.conf_override``,
memory sinks drop their view once the result is resolved, and per-run
directories come from ``tables.run_scratch``, which removes them. A
result must not depend on what ran before it in the same session."""

from __future__ import annotations

import logging
import os
import re
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.streaming.query import StreamingQuery

from atd_dockless_processing_spark import QUERIES, tables
from atd_dockless_processing_spark.session import _RUNTIME_CONFS, conf_override, tune
from bench import BENCH_SET

# every key that registers SQL inputs, a temp function, a conf
# override or a memory sink
SESSION_KEYS = (
    sorted(k for k in QUERIES if k.startswith(("sql_", "udtf_", "stm_")))
    + ["agg_listagg", "etl_declarative_pipeline"]
    + sorted(BENCH_SET.values())
)


def _session_state(spark):
    views = {r["viewName"] for r in spark.sql("SHOW VIEWS").collect() if r["isTemporary"]}
    funcs = {r["function"] for r in spark.sql("SHOW USER FUNCTIONS").collect()}
    return views, funcs, spark.conf.getAll


def test_keys_leave_the_session_as_they_found_it(spark, sf_dir):
    """Temp views, temp functions and set confs are equal before and
    after each key is built and collected."""
    left = {}
    for key in SESSION_KEYS:
        views, funcs, conf = _session_state(spark)
        QUERIES[key](spark, sf_dir).collect()
        views2, funcs2, conf2 = _session_state(spark)
        confs = sorted(k for k in conf.keys() | conf2.keys() if conf.get(k) != conf2.get(k))
        if views != views2 or funcs != funcs2 or confs:
            left[key] = (sorted(views ^ views2), sorted(funcs ^ funcs2), confs)
    assert not left, left


def test_sql_keys_keep_provider_tables_cached(spark, sf_dir):
    """A key that hands frames to SQL text leaves a table provider's
    cached tables cached: its temp views are dropped without
    ``Catalog.dropTempView``, which would uncache the provider table a
    view was made of."""
    from bench import table_provider

    keys = sorted(k for k in QUERIES if k.startswith("sql_")) + ["agg_listagg"]
    cache = {}
    tables.set_table_provider(table_provider(spark, cache))
    try:
        uncached = {}
        for key in keys:
            QUERIES[key](spark, sf_dir).collect()
            lost = sorted(n for (_, n), df in cache.items() if not df.storageLevel.useMemory)
            if lost:
                uncached[key] = lost
                for k in [k for k in cache if k[1] in lost]:
                    cache.pop(k).unpersist()
        assert not uncached, uncached
    finally:
        tables.set_table_provider(None)
        for df in cache.values():
            df.unpersist()


def _run_dirs(tag: str) -> set[Path]:
    """Directories under ``.scratch/{tag}`` named for one run: an
    8-hex-digit run id in the name."""
    root = tables.SCRATCH / tag
    return {p for p in root.rglob("*") if p.is_dir() and re.search(r"[0-9a-f]{8}", p.name)}


@pytest.mark.parametrize(
    "key, tag",
    [
        ("stm_late_data_drop", "stm_late_data"),
        ("stm_foreachbatch_sink", "stm_foreachbatch"),
        ("stm_cdc_stream_apply", "stm_cdc_snap"),
    ],
)
def test_a_failed_drain_leaves_no_run_directory(spark, sf_dir, monkeypatch, key, tag):
    """A drain that raises once its stream has run leaves no per-run
    directory under the key's tag, and no memory-sink view."""
    await_termination = StreamingQuery.awaitTermination

    def fail_after_drain(self, timeout=None):
        await_termination(self, timeout)
        raise RuntimeError("injected drain failure")

    before, views = _run_dirs(tag), _session_state(spark)[0]
    monkeypatch.setattr(StreamingQuery, "awaitTermination", fail_after_drain)
    with pytest.raises(RuntimeError, match="injected drain failure"):
        QUERIES[key](spark, sf_dir)
    assert _run_dirs(tag) <= before
    assert _session_state(spark)[0] == views


def test_python_sink_leaves_no_run_directory(spark, sf_dir):
    """The Python-sink key returns rows that outlive its sink
    directory: two runs leave no per-run directory under its tag."""
    before = _run_dirs("pyds_sink")
    for _ in range(2):
        assert QUERIES["snk_python_datasource_write"](spark, sf_dir).collect()
    assert _run_dirs("pyds_sink") <= before


def test_run_scratch_is_fresh_and_always_removed():
    """Two uses get two directories, each present inside its block and
    gone after it, with the footers cached under it, after a clean exit
    and after a raise."""
    tag = "unit_run_scratch"
    with tables.run_scratch(tag) as a, tables.run_scratch(tag) as b:
        assert a != b and os.path.isdir(a) and os.path.isdir(b)
        pq.write_table(pa.table({"v": [1]}), f"{a}/part.parquet")
        assert tables._footers(a).nrows == 1 and a in tables._FOOTERS
    assert not os.path.exists(a) and not os.path.exists(b)
    assert a not in tables._FOOTERS
    with pytest.raises(RuntimeError, match="inside the block"):
        with tables.run_scratch(tag) as c:
            assert os.path.isdir(c)
            raise RuntimeError("inside the block")
    assert not os.path.exists(c)


def test_conf_override_restores_set_and_unset_keys(spark):
    """A key that was set comes back to its value and a key that was
    unset is unset again — after a clean exit and after a raise."""
    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.getAll
    assert set_key in before and unset_key not in before
    override = {set_key: "3", unset_key: "TIMESTAMP_MICROS"}
    with conf_override(spark, override):
        assert {k: spark.conf.get(k) for k in override} == override
    assert spark.conf.getAll == before
    with pytest.raises(RuntimeError, match="inside the block"):
        with conf_override(spark, override):
            raise RuntimeError("inside the block")
    assert spark.conf.getAll == before


def test_tune_sets_every_conf_the_session_accepts(caplog):
    """A conf the session refuses (a static conf raises on
    ``spark.conf.set``) is logged at WARNING and every other conf is
    still set."""
    refused = next(iter(_RUNTIME_CONFS))

    class Conf:
        def __init__(self):
            self.values = {}

        def set(self, key, value):
            if key == refused:
                raise RuntimeError(f"Cannot modify the value of a static config: {key}")
            self.values[key] = value

    env = {"__atd_pkg_shipped__": "1"}  # skip addPyFile on the stub
    stub = SimpleNamespace(conf=Conf(), sparkContext=SimpleNamespace(environment=env))
    with caplog.at_level(logging.WARNING, logger="atd_dockless_processing_spark.session"):
        assert tune(stub) is stub
    assert stub.conf.values == {k: v for k, v in _RUNTIME_CONFS.items() if k != refused}
    assert [r.levelno for r in caplog.records] == [logging.WARNING]
    assert refused in caplog.records[0].getMessage()
    assert env["__atd_tuned__"] == "1"
