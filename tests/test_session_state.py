"""Keys borrow the one shared SparkSession and give it back as they
found it: DataFrames reach ``spark.sql`` as keyword arguments, temp
functions are dropped once the query is analyzed, and confs are set
through ``session.conf_override``. A result must not depend on what
ran before it in the same session."""

from __future__ import annotations

import pytest

from atd_dockless_processing_spark import QUERIES
from atd_dockless_processing_spark.session import conf_override

# every key that registers SQL inputs, a temp function or a conf
# override, plus one memory-sink stream key
SESSION_KEYS = sorted(k for k in QUERIES if k.startswith(("sql_", "udtf_"))) + [
    "agg_listagg",
    "etl_declarative_pipeline",
    "stm_rocksdb_changelog",
]


def _session_state(spark):
    views = {r["viewName"] for r in spark.sql("SHOW VIEWS").collect() if r["isTemporary"]}
    funcs = {r["function"] for r in spark.sql("SHOW USER FUNCTIONS").collect()}
    return views, funcs, spark.conf.getAll


def test_keys_leave_the_session_as_they_found_it(spark, sf_dir):
    """Temp views, temp functions and set confs are equal before and
    after each key is built and collected; the stream key's one
    memory-sink table is the only thing it may add."""
    left = {}
    for key in SESSION_KEYS:
        views, funcs, conf = _session_state(spark)
        QUERIES[key](spark, sf_dir).collect()
        views2, funcs2, conf2 = _session_state(spark)
        new_views = views ^ views2
        if key.startswith("stm_"):
            sinks = {v for v in views2 - views if v.startswith("stm_rkcl_")}
            assert len(sinks) == 1, (key, sorted(views2 - views))
            new_views -= sinks
        confs = sorted(k for k in conf.keys() | conf2.keys() if conf.get(k) != conf2.get(k))
        if new_views or funcs != funcs2 or confs:
            left[key] = (sorted(new_views), sorted(funcs ^ funcs2), confs)
    assert not left, left


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
