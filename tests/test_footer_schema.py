"""The footer-schema reader (``tables.footer_schema``): every local
parquet read takes its schema from the footers, so loading a table or
building a plan runs no schema-inference Spark job. Pins: the footer
schema equals Spark's inferred one for every driver table and for one
small file per dispatch row; what the reader cannot map falls back to
the inferring read with one dispatch record; an in-place rewrite is
re-read; and the bench and batch-etl keys build with 0 jobs. The same
footers give the row count of ``tables.rows_below``, the one row-count
gate: every key that chooses a physical form while its plan is built
writes exactly one dispatch record, and an unknown count takes the
form that holds at any size."""

from __future__ import annotations

import datetime
import decimal
import importlib.util
import logging
from contextlib import contextmanager
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from atd_dockless_processing_spark import QUERIES, tables

REPO = Path(__file__).resolve().parent.parent
NANOS = "spark.sql.legacy.parquet.nanosAsLong"
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


@contextmanager
def _confs(spark, confs: dict[str, str]):
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _inferred(spark, path: str):
    """Spark's inferred schema of ``path``, or the class of the error
    inference raises."""
    try:
        return spark.read.parquet(path).schema
    except Exception as exc:
        return type(exc)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inferred_for_every_table(spark, sf_dir, sf):
    with _confs(spark, {NANOS: "true"}):  # as tables.load sets it for events
        for name in tables.TABLES:
            path = str(Path(sf_dir).parent / sf / f"{name}.parquet")
            got = tables.footer_schema(spark, path)
            assert got is not None, path
            assert got == spark.read.parquet(path).schema, path


_TS = [1_700_000_000_000_000]
# case -> (the file's one column, confs, "mapped" | "fallback"); "int96"
# is written with pyarrow's deprecated INT96 timestamps
_CASES = {
    "boolean": (pa.array([True]), {}, "mapped"),
    "int8": (pa.array([1], pa.int8()), {}, "mapped"),
    "int16": (pa.array([1], pa.int16()), {}, "mapped"),
    "int32": (pa.array([1], pa.int32()), {}, "mapped"),
    "int64": (pa.array([1], pa.int64()), {}, "mapped"),
    "float": (pa.array([1.5], pa.float32()), {}, "mapped"),
    "double": (pa.array([1.5]), {}, "mapped"),
    "string": (pa.array(["x"]), {}, "mapped"),
    "date": (pa.array([datetime.date(2024, 1, 2)]), {}, "mapped"),
    "decimal": (pa.array([decimal.Decimal("1.25")], pa.decimal128(7, 2)), {}, "mapped"),
    "list": (pa.array([[1.0, None]], pa.list_(pa.float32())), {}, "mapped"),
    "ts_micros_ntz": (pa.array(_TS, pa.timestamp("us")), {NTZ: "true"}, "mapped"),
    "ts_micros_ntz_off": (pa.array(_TS, pa.timestamp("us")), {NTZ: "false"}, "mapped"),
    "ts_millis": (pa.array([1], pa.timestamp("ms")), {NTZ: "true"}, "mapped"),
    "ts_utc": (pa.array(_TS, pa.timestamp("us", tz="UTC")), {}, "mapped"),
    "ts_nanos_as_long": (pa.array([1], pa.timestamp("ns")), {NANOS: "true"}, "mapped"),
    "ts_nanos_conf_off": (pa.array([1], pa.timestamp("ns")), {NANOS: "false"}, "fallback"),
    "int96": (pa.array([1], pa.timestamp("ns")), {}, "fallback"),
    "binary": (pa.array([b"x"]), {}, "fallback"),
    "uint32": (pa.array([1], pa.uint32()), {}, "fallback"),
    "struct": (pa.array([{"x": 1}]), {}, "fallback"),
    "map": (pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int32())), {}, "fallback"),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_footer_schema_dispatch_rows(spark, tmp_path, caplog, case):
    """One pyarrow-written file per dispatch row: a mapped type gives
    the inferred schema; anything else falls back, with one dispatch
    record, to the inferring read — its schema, or its error class."""
    column, confs, outcome = _CASES[case]
    path = str(tmp_path / f"{case}.parquet")
    pq.write_table(
        pa.table({"c": column}), path, use_deprecated_int96_timestamps=case == "int96"
    )
    with _confs(spark, confs):
        want = _inferred(spark, path)
        with caplog.at_level(logging.INFO, logger=tables.DISPATCH.name):
            got = tables.footer_schema(spark, path)
        records = [r for r in caplog.records if r.name == tables.DISPATCH.name]
        if outcome == "mapped":
            assert got == want and not records
            return
        assert got is None
        assert [(r.path, r.decision) for r in records] == [(path, "inferring read")]
        assert records[0].reason
        if isinstance(want, type):
            with pytest.raises(want):
                tables.read_parquet(spark, path).schema
        else:
            assert tables.read_parquet(spark, path).schema == want


def test_footer_schema_directories(spark, tmp_path):
    """A Spark-written directory (the Spark schema JSON in its footers,
    an INT96 timestamp, ``_SUCCESS`` and ``.crc`` files) maps, also
    when its part files differ only in nullability; a partitioned
    directory and one whose part files disagree fall back, as does a
    footer that will not open (raising the inferring read's error
    class); a non-local path falls back before any Spark call."""
    sw = str(tmp_path / "spark_written")
    spark.sql(
        "SELECT id, timestamp'2024-01-02 03:04:05' AS ts,"
        " CAST(id AS DECIMAL(30, 3)) AS d, array(named_struct('a', id)) AS arr"
        " FROM range(3)"
    ).repartition(2).write.parquet(sw)
    assert tables.footer_schema(spark, sw) == spark.read.parquet(sw).schema
    nulls = str(tmp_path / "nullability")
    for s in ("'U'", "CAST(NULL AS STRING)"):
        spark.sql(f"SELECT id, {s} AS s FROM range(2)").coalesce(1).write.mode(
            "append"
        ).parquet(nulls)
    assert tables.footer_schema(spark, nulls) == spark.read.parquet(nulls).schema

    part = tmp_path / "partitioned"
    for k in (1, 2):
        (part / f"k={k}").mkdir(parents=True)
        pq.write_table(pa.table({"x": [k]}), str(part / f"k={k}" / "p.parquet"))
    assert tables.footer_schema(spark, str(part)) is None
    assert tables.read_parquet(spark, str(part)).schema == spark.read.parquet(str(part)).schema

    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(pa.table({"x": [1]}), str(mixed / "a.parquet"))
    pq.write_table(pa.table({"x": ["one"]}), str(mixed / "b.parquet"))
    assert tables.footer_schema(spark, str(mixed)) is None

    bad = str(tmp_path / "bad.parquet")
    Path(bad).write_bytes(b"not parquet")
    want = _inferred(spark, bad)
    assert isinstance(want, type) and tables.footer_schema(spark, bad) is None
    with pytest.raises(want):
        tables.read_parquet(spark, bad)

    assert tables.footer_schema(spark, "s3a://bucket/t.parquet") is None


def test_parquet_nrows_counts_spark_data_files(tmp_path, caplog):
    """parquet_nrows sums every data file's footer and skips names
    starting with ``_`` or ``.``, as Spark does; a missing path is
    ``None``, and the row-count gate on it is False with one dispatch
    record that gives the footers' reason."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": [1, 2]}), str(d / "part-0.parquet"))
    pq.write_table(pa.table({"x": [3, 4, 5]}), str(d / "part-1"))
    (d / "_SUCCESS").write_text("")
    (d / ".part-0.parquet.crc").write_text("not parquet")
    assert tables.parquet_nrows(str(tmp_path), "t") == 5
    assert tables.parquet_nrows(str(tmp_path), "missing") is None
    with caplog.at_level(logging.INFO, logger=tables.DISPATCH.name):
        assert not tables.rows_below("k", str(tmp_path), "missing", 10)
    records = [r for r in caplog.records if r.name == tables.DISPATCH.name]
    assert [(r.key, r.decision) for r in records] == [("k", "any-size form")]
    assert "footer will not open" in records[0].reason
    assert tables.rows_below("k", str(tmp_path), "t", 6)
    assert not tables.rows_below("k", str(tmp_path), "t", 5)


def test_load_rereads_a_rewritten_file(spark, tmp_path):
    """The footer cache is keyed on the source signature: a table
    rewritten in place with a different schema loads with the new
    schema and rows."""
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([1], pa.int32())}), path)
    assert tables.load(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_name": ["AFRICA", "ASIA"]}), path)
    df = tables.load(spark, str(tmp_path), "region")
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(r.r_name for r in df.collect()) == ["AFRICA", "ASIA"]


def _batch_etl_keys() -> list[str]:
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", REPO / "perfbench" / "run.py"
    )
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    return list(run.BATCH_MIX)


def test_bench_and_batch_keys_build_without_jobs(spark, sf_dir):
    """With no table provider, building each bench key and each
    batch-etl key runs no Spark job: the loads read their schema from
    the footers. Counted as ``scripts/dump_plans.py`` counts its
    ``build jobs`` column."""
    import bench
    from dump_plans import build_jobs

    assert not tables.provider_active()
    keys = dict.fromkeys([*bench.BENCH_SET.values(), *_batch_etl_keys()])
    assert len(keys) == 15
    jobs = {key: build_jobs(spark, key, sf_dir)[1] for key in keys}
    assert jobs == dict.fromkeys(keys, 0)


# gate key -> "this optimized plan is the key's small-input form"
_SMALL_FORM = {
    "agg_grouping_sets": lambda p: "Expand" in p,
    "agg_corr_cov": lambda p: "4294967296" in p,
    "evt_rfm_segments": lambda p: "MapInPandas" in p,
    "llm_cosine_topk": lambda p: "MapInArrow" not in p,
    "llm_knn_join": lambda p: "MapInArrow" not in p,
    "llm_vector_quantize": lambda p: "MapInArrow" not in p,
    "llm_ann_hyperplane": lambda p: "MapInArrow" not in p,
}
_LAYOUT_KEYS = (
    "join_inner", "join_anti", "join_cross_small", "join_multiway_5", "evt_tumbling_hour"
)
# key -> the decisions its record may hold, for keys that choose by
# something other than a row count
_DECISIONS = {
    **dict.fromkeys(_LAYOUT_KEYS, ("bucketed", "staged", "adhoc")),
    "geo_bbox_join": ("theta",),
}


@pytest.mark.parametrize("key", [*_SMALL_FORM, *_DECISIONS])
def test_plan_build_writes_one_decision_record(spark, sf_dir, caplog, key):
    """One record (footer-schema fallbacks, which name a path, aside)
    per build, with ``key``, ``decision`` and ``reason``; the gate keys
    take their small-input form on the driver corpus and their any-size
    form under a ``file:`` URI, whose footers give no row count."""

    def build(d):
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=tables.DISPATCH.name):
            plan = QUERIES[key](spark, d)._jdf.queryExecution().optimizedPlan().toString()
        recs = [r for r in caplog.records if r.name == tables.DISPATCH.name]
        return plan, [r for r in recs if not hasattr(r, "path")]

    plan, records = build(sf_dir)
    assert [r.key for r in records] == [key] and records[0].reason
    if key in _DECISIONS:
        assert records[0].decision in _DECISIONS[key]
        return
    assert records[0].decision == "small-input form" and _SMALL_FORM[key](plan), plan
    plan, records = build(f"file://{sf_dir}")
    assert [(r.key, r.decision) for r in records] == [(key, "any-size form")]
    assert "unknown" in records[0].reason and not _SMALL_FORM[key](plan), plan
