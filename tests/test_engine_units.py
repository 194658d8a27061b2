"""Engine unit tests beyond oracle parity (SURVEY §5.2): cross-engine
hash portability, LSH banding guarantees (property-based), timestamp
handling, and plan-shape assertions for the scale-critical operators.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from atd_dockless_processing_spark import LAYOUTS, QUERIES  # noqa: E402
from atd_dockless_processing_spark.functions.hashing import (  # noqa: E402
    portable_hash60,
    portable_hash60_spark_sql,
    portable_hash60_sql,
)
from atd_dockless_processing_spark.operators.dedup_ann import (  # noqa: E402
    _HAMMING_T,
    _SIMHASH_BANDS,
    _SIMHASH_BITS,
)


def test_portable_hash_matches_duckdb(spark):
    """The md5-derived 60-bit hash must agree bit-for-bit between its
    three spellings — the Spark Column, the Spark SQL text and the
    DuckDB SQL text; every simhash/fingerprint oracle depends on it."""
    samples = ["", "a", "hello world", "größe", "naïve", "日本語テキスト",
               "x" * 1000, "tab\tand\nnewline", "'quote'", '"double"']
    df = spark.createDataFrame([(s,) for s in samples], ["t"])
    rows = df.select(
        "t",
        portable_hash60("t").alias("h"),
        F.expr(portable_hash60_spark_sql("t")).alias("h_sql"),
    ).collect()
    con = duckdb.connect()
    for r in rows:
        want = con.execute(
            f"SELECT {portable_hash60_sql('?')}", [r["t"]]
        ).fetchone()[0]
        assert r["h"] == r["h_sql"] == want, f"hash mismatch for {r['t']!r}"
        assert 0 <= want < 2**60
    assert len(rows) == len(samples)


@settings(max_examples=200, deadline=None)
@given(
    fa=st.integers(min_value=0, max_value=2**32 - 1),
    flips=st.sets(st.integers(min_value=0, max_value=31), max_size=3),
)
def test_simhash_banding_pigeonhole(fa: int, flips: set[int]):
    """Property: any pair with hamming <= _HAMMING_T shares at least
    one LSH band — the recall-1.0 guarantee that makes the banded
    self-join hash-match the O(n^2) oracle."""
    # pigeonhole precondition: <= B-1 flipped bits cannot touch all B bands
    assert _HAMMING_T <= _SIMHASH_BANDS - 1
    fb = fa
    for i in flips:
        fb ^= 1 << i
    assert bin(fa ^ fb).count("1") <= _HAMMING_T
    band_bits = _SIMHASH_BITS // _SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    shared = any(
        (fa >> (b * band_bits)) & mask == (fb >> (b * band_bits)) & mask
        for b in range(_SIMHASH_BANDS)
    )
    assert shared, f"hamming<={_HAMMING_T} pair missed by banding: {fa:#x} vs {fb:#x}"


def test_events_ts_is_microsecond_utc(spark, sf_dir, duck):
    """events.ts (parquet TIMESTAMP_NANOS) must load as µs-precision
    UTC timestamps agreeing with DuckDB's reading."""
    from atd_dockless_processing_spark.tables import load

    got = load(spark, sf_dir, "events").select(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("m")
    ).collect()[0]["m"]
    want = duck.execute(
        "SELECT strftime(CAST(min(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') FROM events"
    ).fetchone()[0]
    assert got == want


def test_bucketed_join_has_no_pre_join_exchange(spark, sf_dir):
    """snk_bucketed_join's point is the missing shuffle: assert no
    Exchange appears below the SortMergeJoin."""
    df = QUERIES["snk_bucketed_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_at = plan.find("SortMergeJoin")
    assert join_at != -1, "expected a sort-merge join over bucketed scans"
    assert "Exchange" not in plan[join_at:], "bucketing failed to remove the join shuffle"


def test_topk_uses_take_ordered(spark, sf_dir):
    """Global top-k must compile to TakeOrderedAndProject (per-partition
    heaps), never a global sort."""
    for key in ("srt_topk_global", "llm_cosine_topk"):
        plan = QUERIES[key](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, key


def test_jdbc_upsert_merge_sql_and_url_guard(spark, sf_dir):
    """The JDBC staging-merge upsert (no DB in the sandbox): the MERGE
    statement generator is exact, and a non-jdbc URL is rejected
    before any write is attempted."""
    import pytest

    from atd_dockless_processing_spark.sources.sinks import (
        _merge_sql,
        write_jdbc_upsert,
    )

    sql = _merge_sql("pub", "pub_stage_ab", ["id", "v", "w"], ["id"])
    assert sql == (
        'MERGE INTO pub t USING pub_stage_ab s ON t."id" = s."id" '
        'WHEN MATCHED THEN UPDATE SET "v" = s."v", "w" = s."w" '
        'WHEN NOT MATCHED THEN INSERT ("id", "v", "w") '
        'VALUES (s."id", s."v", s."w")'
    )
    df = QUERIES["agg_global"](spark, sf_dir)
    with pytest.raises(ValueError, match="not a jdbc url"):
        write_jdbc_upsert(df, "http://example.invalid", "pub", ["id"])


def test_embedding_dedup_pair_join_is_cell_bucketed(spark, sf_dir):
    """llm_dedup_embedding's quadratic candidate stage must be an
    equi-join on the cell id (shuffle hashpartitioning on `cell`),
    not an all-pairs nested loop. The only nested-loop join allowed
    in the plan is the LINEAR n x nlist replication crossJoin against
    the broadcast cell table."""
    df = QUERIES["llm_dedup_embedding"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(cell" in plan, "pair join is not bucketed on cell id"
    assert "CartesianProduct" not in plan
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    assert n_bnlj <= 1, f"unexpected nested-loop joins in pair stage: {n_bnlj}"


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    """flt_range's predicate must reach the parquet scan."""
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        QUERIES["flt_range"](spark, sf_dir).explain("formatted")
    out = buf.getvalue()
    assert "PushedFilters: [" in out
    pushed = out.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no filters pushed to the scan"


@pytest.mark.parametrize("unit", ["ns", "us", "ms"])
def test_events_loader_dispatches_on_physical_ts_encoding(spark, tmp_path, unit):
    """The testdata's events.ts physical encoding has flipped between
    rounds (TIMESTAMP(NANOS) read as raw long under nanosAsLong, vs
    TIMESTAMP(MICROS) read as TIMESTAMP_NTZ). load() must dispatch on
    the dtype actually read and return identical µs TimestampType
    values for every encoding — an environment flip must be a no-op,
    not an engine-wide AnalysisException (round-2 postmortem)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from atd_dockless_processing_spark.tables import load

    want = [
        datetime.datetime(2024, 1, 1, 0, 9, 58, 778000),
        datetime.datetime(2024, 3, 15, 12, 0, 0, 5000),
        datetime.datetime(2024, 12, 31, 23, 59, 59, 999000),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(want, pa.timestamp(unit)),
            "user_id": pa.array([10, 20, 30], pa.int64()),
            "event_type": pa.array(["a", "b", "c"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    d = tmp_path / unit
    d.mkdir()
    # version 2.6 preserves nanos physically; older coerces to µs
    pq.write_table(tbl, d / "events.parquet", version="2.6")
    assert pq.read_schema(d / "events.parquet").field("ts").type == pa.timestamp(unit)

    df = load(spark, str(d), "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    got = [r["ts"] for r in df.orderBy("event_id").select("ts").collect()]
    assert got == want


def test_nearest_hub_is_map_side_argmin(spark, sf_dir):
    """geo_nearest_hub must snap points WITHOUT any join: the hub set
    is baked into a per-row struct array reduced by array_min, so the
    only exchange in the plan is the final per-hub aggregation."""
    df = QUERIES["geo_nearest_hub"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "hub snap should not join"
    assert plan.count("Exchange") == 1, "expected exactly the agg exchange"


@pytest.mark.parametrize(
    "utc_ts",
    [
        # 2024 US DST edges for America/Chicago (transitions at 2am
        # local = 08:00/07:00 UTC): one instant each side of the
        # spring-forward (Mar 10) and fall-back (Nov 3) boundaries,
        # plus deep-winter CST and mid-summer CDT controls and a
        # UTC-midnight date-rollover case.
        "2024-03-10 07:59:59",  # last CST second before spring-forward
        "2024-03-10 08:00:00",  # first CDT second
        "2024-11-03 06:59:59",  # last CDT second before fall-back
        "2024-11-03 07:00:00",  # first repeated-hour CST second
        "2024-01-15 03:30:00",  # deep winter (CST, -6)
        "2024-07-01 03:30:00",  # mid summer (CDT, -5)
        "2024-06-01 04:59:59",  # UTC early morning -> previous local day
    ],
)
def test_chicago_tz_derivation_matches_duckdb(spark, utc_ts):
    """fn_date_derive_tz's shift must agree with DuckDB/ICU at the DST
    transition edges — the sf events span January only (CST), so the
    CDT side and both 2024 boundaries are pinned here with literal
    instants through the same from_utc_timestamp expression."""
    lts = F.from_utc_timestamp(F.col("ts").cast("timestamp"), "America/Chicago")
    row = (
        spark.createDataFrame([(utc_ts,)], ["ts"])
        .select(
            F.year(lts).alias("y"),
            F.month(lts).alias("m"),
            F.dayofmonth(lts).alias("d"),
            F.hour(lts).alias("h"),
            (F.dayofweek(lts) - 1).alias("dow"),
        )
        .collect()[0]
    )
    want = duckdb.connect().execute(
        """
        WITH l AS (
          SELECT timezone('America/Chicago', timezone('UTC', CAST(? AS TIMESTAMP))) AS lts
        )
        SELECT EXTRACT(year FROM lts), EXTRACT(month FROM lts),
               EXTRACT(day FROM lts), EXTRACT(hour FROM lts),
               EXTRACT(dow FROM lts)
        FROM l
        """,
        [utc_ts],
    ).fetchone()
    assert (row["y"], row["m"], row["d"], row["h"], row["dow"]) == tuple(
        int(x) for x in want
    ), utc_ts


def test_stage_scratch_reuse_and_rebuild(tmp_path, monkeypatch):
    """stage_scratch must rebuild exactly when the source table file
    changes (mtime_ns marker) and reuse the staging otherwise — the
    staleness class that cost round 2 its scoreboard is now handled in
    ONE shared helper, so this pins its contract."""
    import os

    from atd_dockless_processing_spark import tables

    monkeypatch.setattr(tables, "SCRATCH", tmp_path / "scratch")
    src_dir = tmp_path / "sf"
    src_dir.mkdir()
    src = src_dir / "events.parquet"
    src.write_bytes(b"v1")

    builds = []

    def build(indir: str) -> None:
        os.makedirs(indir, exist_ok=True)
        builds.append(indir)

    d1 = tables.stage_scratch("t", str(src_dir), "events", build)
    d2 = tables.stage_scratch("t", str(src_dir), "events", build)
    assert d1 == d2 and len(builds) == 1  # reused, not rebuilt

    # in-place source change (new mtime) must invalidate
    os.utime(src, ns=(1, 1))
    tables.stage_scratch("t", str(src_dir), "events", build)
    assert len(builds) == 2
    # and the new marker must make the rebuild stick
    tables.stage_scratch("t", str(src_dir), "events", build)
    assert len(builds) == 2


def test_late_data_staging_tracks_part_file_rewrites(spark, tmp_path, monkeypatch):
    """stm_late_data_drop stages its two micro-batch files through
    stage_scratch, so an in-place rewrite of one part file of a
    directory-shaped events.parquet re-stages even when the
    directory's own mtime is unchanged (a dir-level stat marker would
    keep serving the old rows)."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from atd_dockless_processing_spark import tables

    monkeypatch.setattr(tables, "SCRATCH", tmp_path / "scratch")
    sf = tmp_path / "sf"
    src = sf / "events.parquet"
    src.mkdir(parents=True)
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )

    def write(n_recent: int, n_late: int) -> None:
        ts = [datetime.datetime(2024, 1, 11)] * n_recent + [
            datetime.datetime(2024, 1, 5)
        ] * n_late
        n = len(ts)
        rows = {
            "event_id": list(range(n)),
            "ts": ts,
            "user_id": [1] * n,
            "event_type": ["view"] * n,
            "value": [1.0] * n,
            "props": ["{}"] * n,
        }
        pq.write_table(pa.table(rows, schema=schema), src / "part-0.parquet")

    def staged_rows() -> list[int]:
        base = tables.corpus_scratch("stm_late_data", str(sf))
        return [
            pq.read_metadata(f"{base}/in/f{i}.parquet").num_rows for i in range(2)
        ]

    write(3, 2)
    QUERIES["stm_late_data_drop"](spark, str(sf)).collect()
    assert staged_rows() == [3, 2]
    st = os.stat(src)
    write(4, 1)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
    QUERIES["stm_late_data_drop"](spark, str(sf)).collect()
    assert staged_rows() == [4, 1]


def test_duck_con_reads_directory_tables(tmp_path):
    """selfcheck.duck_con (the one DuckDB view loader of bench.py,
    scripts/ and tests/) reads a
    directory-shaped ``<t>.parquet`` through its part-file glob —
    DuckDB does not expand a bare directory path — and skips tables
    the corpus does not have."""
    import pandas as pd
    from selfcheck import duck_con

    d = tmp_path / "orders.parquet"
    d.mkdir()
    pd.DataFrame({"o_orderkey": [1, 2]}).to_parquet(d / "part-0.parquet", index=False)
    pd.DataFrame({"o_orderkey": [3]}).to_parquet(d / "part-1.parquet", index=False)
    con = duck_con(str(tmp_path))
    try:
        got = con.execute("SELECT SUM(o_orderkey), COUNT(*) FROM orders").fetchone()
        assert got == (6, 3)
        assert [r[0] for r in con.execute("SHOW TABLES").fetchall()] == ["orders"]
    finally:
        con.close()


def test_interval_overlap_join_is_bucket_blocked(spark, sf_dir):
    """join_interval_overlap's candidate stage must be an EQUI-join on
    the week bucket (hash join / broadcast hash join), never a
    CartesianProduct or nested-loop theta join — the whole point of
    the bin-bucketing rewrite. (The oracle keeps the true theta
    join.)"""
    df = QUERIES["join_interval_overlap"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan, "bucket key missing from the candidate join"


@settings(max_examples=300, deadline=None)
@given(
    s1=st.integers(min_value=0, max_value=5000),
    len1=st.integers(min_value=0, max_value=40),
    s2=st.integers(min_value=0, max_value=5000),
    len2=st.integers(min_value=0, max_value=40),
    width=st.integers(min_value=1, max_value=14),
)
def test_interval_bucket_cover_property(s1, len1, s2, len2, width):
    """Property behind join_interval_overlap's recall-1.0 claim: for
    ANY two overlapping integer intervals and ANY bucket width, the
    bucket ranges [floor(s/w), floor(e/w)] intersect — an overlapping
    pair always shares at least one bucket, so the equi-join candidate
    set is a superset of the true pairs."""
    e1, e2 = s1 + len1, s2 + len2
    overlaps = s1 <= e2 and s2 <= e1
    if not overlaps:
        return
    b1 = set(range(s1 // width, e1 // width + 1))
    b2 = set(range(s2 // width, e2 // width + 1))
    assert b1 & b2, (s1, e1, s2, e2, width)


def test_partition_prune_reads_only_selected_partitions(spark, sf_dir):
    """src_partition_prune's scan must carry literal PartitionFilters
    and no row-level DataFilters — the partition directories ARE the
    filter, which is what makes the 100 TB time-ranged scan cheap."""
    df = QUERIES["src_partition_prune"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PartitionFilters: [event_date" in scan
    assert "DataFilters: []" in scan


def test_geojson_route_parses_with_jackson_not_python(spark, sf_dir):
    """fn_geojson_route must do its JSON work JVM-side: from_json in
    the plan, and no Python evaluation nodes anywhere."""
    df = QUERIES["fn_geojson_route"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "from_json" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"Python evaluation node {marker} in plan"


def test_recursive_cte_user_id_density_precondition(sf_dir, duck):
    """sql_recursive_cte's recursion only reaches users whose FULL
    parent chain (u DIV 2 repeatedly) exists, while its closed-form
    oracle covers every distinct user — they agree iff the user_id
    space is dense (every ancestor present). Assert that density on
    the driver testdata so a future data change that breaks the
    precondition fails HERE with a message, not as a silent
    hash-mismatch."""
    missing = duck.execute(
        """
        WITH u AS (SELECT DISTINCT user_id FROM events)
        SELECT COUNT(*) FROM u
        WHERE user_id > 0 AND user_id // 2 NOT IN (SELECT user_id FROM u)
        """
    ).fetchone()[0]
    assert missing == 0, (
        f"{missing} users have an absent parent (u DIV 2): user_id space is "
        "gappy and sql_recursive_cte's recursion would drop their subtrees"
    )


def test_pip_table_candidate_join_is_cell_indexed(spark, sf_dir):
    """geo_point_in_polygon_table's candidate stage must be a
    broadcast EQUI-join on the grid cell — never a CartesianProduct
    or nested-loop theta join against the polygon table — and the
    exact PNPOLY verify must stay JVM-side (no Python eval nodes).
    That is the whole design: broadcast a tiny cell index, map-side
    verify, one agg shuffle."""
    df = QUERIES["geo_point_in_polygon_table"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan, "cell index should broadcast"
    assert "cell_x" in plan and "cell_y" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"Python evaluation node {marker} in plan"


def test_pip_table_cell_cover_property(spark, sf_dir):
    """Recall-1.0 of the grid-cell candidate stage: every (point,
    polygon) pair the brute-force PNPOLY accepts must share a grid
    cell — i.e. candidate-join hits == all-pairs hits. Verified by
    comparing the operator against an unblocked cross-join variant
    built from the same staged polygons."""
    from atd_dockless_processing_spark.operators.geo import (
        _PIP_PX,
        _PIP_PY,
        _pip_verts_sql,
        _stage_polygons,
    )
    from atd_dockless_processing_spark.session import sql_over
    from atd_dockless_processing_spark.tables import load

    brute = sql_over(
        spark,
        f"""
        SELECT zone_id, count(1) AS count
        FROM (SELECT {_PIP_PX} AS px, {_PIP_PY} AS py FROM {{events}})
        CROSS JOIN (SELECT zone_id, verts FROM {{polys}})
        WHERE {_pip_verts_sql("verts", "px", "py")}
        GROUP BY zone_id
        """,
        events=load(spark, sf_dir, "events"),
        polys=spark.read.parquet(_stage_polygons(spark, sf_dir)),
    )
    fast = (
        QUERIES["geo_point_in_polygon_table"](spark, sf_dir)
        .select("zone_id", F.col("n_points").alias("count"))
    )
    b = {r["zone_id"]: r["count"] for r in brute.collect()}
    f = {r["zone_id"]: r["count"] for r in fast.collect()}
    assert b == f, f"cell cover misses pairs: brute={len(b)} fast={len(f)}"


def test_wav_decode_golden_clip():
    """The WAV decoder must recover the exact closed-form figures
    from the encoded bytes for a known clip (clip 0: 400 samples at
    8000 Hz -> 50 ms) — guards the header byte offsets without
    needing Spark."""
    import math
    import struct

    import numpy as np
    import pandas as pd

    from atd_dockless_processing_spark.operators.multimodal import (
        _wav_amps,
        _wav_params,
    )

    cid = 0
    n, rate = _wav_params(cid)
    assert (n, rate) == (400, 8000)
    amps = _wav_amps(cid, n)
    data = amps.tobytes()
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data))
    )
    buf = hdr + data
    assert len(hdr) == 44
    # decode exactly as the operator does
    fmt_size, audio_fmt, channels, drate, _, _, bits = struct.unpack(
        "<IHHIIHH", buf[16:36]
    )
    assert (fmt_size, audio_fmt, channels, drate, bits) == (16, 1, 1, 8000, 16)
    assert buf[36:40] == b"data"
    (dsz,) = struct.unpack("<I", buf[40:44])
    out = np.frombuffer(buf[44 : 44 + dsz], dtype="<i2")
    assert np.array_equal(out, amps)
    a64 = out.astype(np.int64)
    ss = int(np.sum(a64 * a64))
    assert out.shape[0] / drate * 1000.0 == 50.0
    assert math.sqrt(ss / n) == (ss / n) ** 0.5


def test_hll_registers_merge_by_max(spark, sf_dir):
    """The HLL sketch's mergeability invariant (the property that lets
    a cluster keep per-shard sketches and union them): registers of
    the full corpus == elementwise max of the two halves' registers,
    and the estimate lands within 3 sigma of the exact count."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.operators.aggregates import _HLL_RHO
    from atd_dockless_processing_spark.tables import load

    orders = load(spark, sf_dir, "orders")

    def registers(df):
        parts = df.select(
            F.md5(F.col("o_custkey").cast("string")).alias("h")
        ).select(
            F.conv(F.substring("h", 1, 2), 16, 10).cast("bigint").alias("reg"),
            F.substring("h", 3, 15).alias("tail"),
        )
        rows = (
            parts.select("reg", F.expr(_HLL_RHO.format(t="tail")).alias("rho"))
            .groupBy("reg")
            .agg(F.max("rho").alias("m"))
            .collect()
        )
        return {r["reg"]: r["m"] for r in rows}

    full = registers(orders)
    lo = registers(orders.where(F.col("o_orderkey") % 2 == 0))
    hi = registers(orders.where(F.col("o_orderkey") % 2 == 1))
    merged: dict[int, int] = {}
    for part in (lo, hi):
        for reg, m in part.items():
            merged[reg] = max(merged.get(reg, 0), m)
    assert merged == full

    from atd_dockless_processing_spark.registry import QUERIES

    row = QUERIES["agg_hll_deterministic"](spark, sf_dir).collect()[0]
    exact = orders.select("o_custkey").distinct().count()
    if exact < 2.5 * 256 and row["v_empty"] > 0:
        # small-range regime: the raw estimator is biased up by
        # design (documented); the sketch's v_empty carries the
        # linear-counting correction m*ln(m/V) — check THAT instead
        import math

        lc = 256 * math.log(256 / row["v_empty"])
        assert abs(lc - exact) <= max(0.1 * exact, 10)
    else:
        sigma = 1.04 / (256 ** 0.5) * exact
        assert abs(row["est_r4"] - exact) <= 3 * sigma


def test_psi_drift_invariants(spark, sf_dir):
    """PSI is a sum of termwise-nonnegative contributions (sign(p_a -
    p_b) == sign(ln(p_a/p_b))), the spine keeps all 8 bins present
    even when empty, and psi_total equals the exact decimal sum of
    the per-bin contributions."""
    from decimal import Decimal

    from atd_dockless_processing_spark.registry import QUERIES

    rows = QUERIES["dq_psi_drift"](spark, sf_dir).collect()
    assert sorted(r["bin"] for r in rows) == list(range(8))
    assert all(r["contrib"] >= 0.0 for r in rows)
    total = sum(Decimal(str(r["contrib"])) for r in rows)
    assert all(Decimal(str(r["psi_total"])) == total for r in rows)


def test_binary_files_staging_is_idempotent(spark, sf_dir):
    """Re-running the binaryFile key must not duplicate or change the
    staged blobs (atomic per-file os.replace + freshness marker): two
    runs return identical (doc_id, md5) sets."""
    from atd_dockless_processing_spark.registry import QUERIES

    a = {
        (r["doc_id"], r["content_md5"])
        for r in QUERIES["src_binary_files"](spark, sf_dir).collect()
    }
    b = {
        (r["doc_id"], r["content_md5"])
        for r in QUERIES["src_binary_files"](spark, sf_dir).collect()
    }
    assert a == b and len(a) > 0


def test_cms_cells_merge_by_sum_and_never_undercount(spark, sf_dir):
    """Count-Min mergeability (cells of disjoint halves sum to the
    full sketch's cells) and the CM guarantee est >= true."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.operators.aggregates import (
        _CMS_COL_SPARK,
        _CMS_D,
    )
    from atd_dockless_processing_spark.registry import QUERIES
    from atd_dockless_processing_spark.tables import load

    events = load(spark, sf_dir, "events")

    def cells(df):
        structs = F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    F.expr(_CMS_COL_SPARK.format(d=d, k="user_id")).alias("c"),
                )
                for d in range(_CMS_D)
            ]
        )
        rows = (
            df.select(F.explode(structs).alias("x"))
            .groupBy(F.col("x.d").alias("d"), F.col("x.c").alias("c"))
            .count()
            .collect()
        )
        return {(r["d"], r["c"]): r["count"] for r in rows}

    full = cells(events)
    lo = cells(events.where(F.col("event_id") % 2 == 0))
    hi = cells(events.where(F.col("event_id") % 2 == 1))
    merged: dict[tuple[int, int], int] = {}
    for part in (lo, hi):
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == full

    for r in QUERIES["agg_cms_heavy_hitters"](spark, sf_dir).collect():
        assert r["est_cnt"] >= r["true_cnt"]


def test_first_eq_band_matches_array_position_semantics(spark):
    """first_eq_band_sql (the short-circuiting CASE chain that
    canonical-band emission filters on) must agree with the reference formulation
    array_position(zip_with(a, b, =), true) - 1 on every input,
    including no-match (-1) and null elements (a null comparison is
    not a match)."""
    import random

    rng = random.Random(7)
    rows = []
    for _ in range(200):
        n = 8
        a = [rng.randrange(4) for _ in range(n)]
        b = [rng.randrange(4) for _ in range(n)]
        rows.append((a, b))
    rows.append(([1] * 8, [1] * 8))          # match at band 0
    rows.append(([1] * 8, [2] * 8))          # no match
    rows.append(([None] + [1] * 7, [1] * 8)) # null element skipped
    df = spark.createDataFrame(rows, "a: array<int>, b: array<int>")

    from atd_dockless_processing_spark.operators.dedup_ann import first_eq_band_sql

    got = df.select(
        F.expr(first_eq_band_sql(lambda j: f"a[{j}] = b[{j}]", 8)).alias("g"),
        (
            F.array_position(
                F.zip_with(F.col("a"), F.col("b"), lambda x, y: x == y),
                F.lit(True),
            )
            - 1
        ).alias("want"),
    ).collect()
    for r in got:
        want = r["want"] if r["want"] is not None and r["want"] >= 0 else -1
        assert r["g"] == want, (r["g"], r["want"])


# ---------------------------------------------------------------------------
# Round-6: ADVICE precondition guards + new-operator invariants
# ---------------------------------------------------------------------------


def test_documents_ascii_precondition(duck):
    """mm_decode_stub's operator cycles the UTF-8 BYTE encoding of
    text while its oracle derives pixel bytes character-wise
    (ascii(substr(text, i, 1)), L = n_chars); they agree only while
    every document is pure ASCII with octet_length == n_chars
    (ADVICE r5 item 1). Assert that on the driver testdata so a
    regenerated corpus with a multi-byte character fails HERE with a
    message, not as a silent hash flip. Swept across EVERY driver sf
    dir (the driver checks at sf0.01, benches at sf0.1 — the session
    fixture alone only covers sf0.001)."""
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if not Path(path).exists():
            continue
        bad = duck.execute(
            f"""
            SELECT COUNT(*) FROM read_parquet('{path}')
            WHERE octet_length(encode(text)) <> n_chars
               OR octet_length(encode(text)) <> length(text)
            """
        ).fetchone()[0]
        assert bad == 0, (
            f"{sf}: {bad} documents are non-ASCII (octet_length != "
            "n_chars): mm_decode_stub's byte-cycling operator and "
            "char-cycling oracle would diverge"
        )


def test_events_props_k_nonnull_precondition(duck):
    """geo_od_matrix / geo_grid_bin build cell ids with Spark
    concat_ws (drops NULL operands AND the separator) vs DuckDB
    CONCAT (keeps the separator): '3' vs '3_' if props.$.k were ever
    NULL (ADVICE r5 item 2). Both sides now COALESCE the k-derived
    component to a shared 'x' sentinel, so a NULL k no longer
    diverges — this test remains as documentation of the data shape
    and as the early warning if the testdata generator changes."""
    bad = duck.execute(
        """
        SELECT COUNT(*) FROM events
        WHERE json_extract_string(props, '$.k') IS NULL
        """
    ).fetchone()[0]
    assert bad == 0, (
        f"{bad} events have NULL props.$.k: concat_ws-vs-CONCAT "
        "separator divergence would flip geo cell ids"
    )


def test_state_intervals_conserve_total_time(spark, sf_dir, duck):
    """evt_state_intervals splits each device interval at UTC day
    boundaries; the split must CONSERVE time exactly — the sum of all
    per-(state, day) microsecond totals equals the sum of raw
    interval durations (no loss at a boundary, no double count of a
    midnight-crossing interval)."""
    from pyspark.sql import functions as F

    got = (
        QUERIES["evt_state_intervals"](spark, sf_dir)
        .agg(F.sum("state_us").alias("s"))
        .collect()[0]["s"]
    )
    want = duck.execute(
        """
        WITH iv AS (
          SELECT epoch_us(ts) AS t0,
                 LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1
          FROM events
        )
        SELECT SUM(t1 - t0) FROM iv WHERE t1 IS NOT NULL
        """
    ).fetchone()[0]
    assert got == want, (got, want)


def test_publish_funnel_is_two_exchange_jvm_plan(spark, sf_dir):
    """etl_publish_funnel's whole point is lifecycle composition
    WITHOUT driver round-trips: the physical plan must contain
    exactly two shuffles (dedup window + final agg) and zero Python
    evaluation nodes."""
    df = QUERIES["etl_publish_funnel"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 2, f"expected 2 exchanges, saw {n_exchange}:\n{plan}"
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"Python evaluation node {marker} in plan"


def test_cosine_adaptive_paths_agree(spark, sf_dir):
    """llm_cosine_topk round-6 adaptive strategy: the mapInArrow
    numpy path (large-corpus regime) must produce EXACTLY the HOF
    path's rows — same ids, labels, and rounded scores, same dtypes —
    on the full driver table, so the row-count threshold switch can
    never change results."""
    from atd_dockless_processing_spark.operators import llm

    hof = QUERIES["llm_cosine_topk"](spark, sf_dir).toPandas()
    arrow = llm._cosine_topk_arrow(spark, sf_dir).toPandas()
    assert list(hof.dtypes) == list(arrow.dtypes)
    assert hof.equals(arrow), (hof, arrow)


def test_vector_quantize_adaptive_paths_agree(spark, sf_dir):
    """llm_vector_quantize round-6 adaptive strategy (same contract
    as llm_cosine_topk): the mapInArrow numpy path must produce
    EXACTLY the staged-HOF path's rows — ids, rounded cosines, and
    quantization error, same dtypes — on the full driver table, so
    the row-count threshold switch can never change results."""
    from atd_dockless_processing_spark.operators import dedup_ann

    hof = QUERIES["llm_vector_quantize"](spark, sf_dir).toPandas()
    arrow = dedup_ann._vector_quantize_arrow(spark, sf_dir).toPandas()
    assert list(hof.dtypes) == list(arrow.dtypes)
    assert hof.equals(arrow), (hof, arrow)


def test_knn_join_adaptive_paths_agree(spark, sf_dir):
    """llm_knn_join round-6 adaptive strategy: the mapInArrow numpy
    path (batch-local top-3 per query + tiny rank window) must
    produce EXACTLY the staged-HOF path's rows on the full driver
    table — per-query neighbors, rounded cosines, ranks, dtypes."""
    from atd_dockless_processing_spark.operators import llm

    hof = (
        QUERIES["llm_knn_join"](spark, sf_dir)
        .toPandas()
        .sort_values(["query_id", "rnk"])
        .reset_index(drop=True)
    )
    arrow = (
        llm._knn_join_arrow(spark, sf_dir)
        .toPandas()
        .sort_values(["query_id", "rnk"])
        .reset_index(drop=True)
    )
    assert list(hof.dtypes) == list(arrow.dtypes)
    assert hof.equals(arrow), (hof, arrow)


def test_ann_hyperplane_adaptive_paths_agree(spark, sf_dir):
    """llm_ann_hyperplane round-6 adaptive strategy: the mapInArrow
    path computes signatures/norms/rerank dots with an exact
    sequential fold (same products, same addition order as the HOF
    fold), so the sign gate and every output row must be IDENTICAL
    to the JVM path on the full driver table."""
    from atd_dockless_processing_spark.operators import dedup_ann

    hof = (
        QUERIES["llm_ann_hyperplane"](spark, sf_dir)
        .toPandas()
        .sort_values(["query_id", "rnk"])
        .reset_index(drop=True)
    )
    arrow = (
        dedup_ann._ann_hyperplane_arrow(spark, sf_dir)
        .toPandas()
        .sort_values(["query_id", "rnk"])
        .reset_index(drop=True)
    )
    assert list(hof.dtypes) == list(arrow.dtypes)
    assert hof.equals(arrow), (hof, arrow)


def test_cosine_threshold_routes_by_rowcount(sf_dir):
    """The adaptive switch reads parquet footers only (no Spark job):
    driver sf dirs are below the threshold (HOF path), and a missing/
    non-parquet path has no count and takes the Arrow path, which
    holds at any size."""
    from atd_dockless_processing_spark import tables
    from atd_dockless_processing_spark.operators import llm

    bound = llm._COSINE_ARROW_MIN_ROWS
    assert 0 < tables.parquet_nrows(sf_dir, "embeddings") < bound
    assert tables.rows_below("llm_cosine_topk", sf_dir, "embeddings", bound)
    assert not tables.rows_below("llm_cosine_topk", "/nonexistent", "embeddings", bound)


def test_quantile_sketch_within_bucket_width(spark, sf_dir, duck):
    """agg_quantile_sketch's estimates must sit within one bucket
    width (215) of the exact interpolated quantiles — the sketch's
    declared error bound."""
    got = {
        r["q"]: r["est_value"]
        for r in QUERIES["agg_quantile_sketch"](spark, sf_dir).collect()
    }
    for q, est in got.items():
        exact = duck.execute(
            f"SELECT quantile_cont(l_extendedprice, {q}) FROM lineitem"
        ).fetchone()[0]
        assert abs(est - exact) <= 215.0, (q, est, exact)


def test_semdedup_counts_consistent(spark, sf_dir):
    """llm_semdedup per-cluster invariants: kept + removed == total,
    removed < total (at least one representative survives per
    non-empty cluster), and the threshold is non-vacuous on the
    driver data (some cluster removes at least one vector)."""
    rows = QUERIES["llm_semdedup"](spark, sf_dir).collect()
    assert rows
    assert all(r["n_kept"] + r["n_removed"] == r["n_vecs"] for r in rows)
    assert all(r["n_removed"] < r["n_vecs"] for r in rows)
    assert any(r["n_removed"] > 0 for r in rows)


def test_zorder_layout_files_are_prunable(spark, sf_dir):
    """snk_zorder_layout's whole point is data skipping: after the
    z-ordered write, each staged FILE must cover a bounded (xi, yi)
    rectangle (parquet min/max stats), and the operator's query box
    must be able to prune at least half the files on stats alone —
    which an unclustered layout cannot do."""
    import glob

    import pyarrow.parquet as pq

    from atd_dockless_processing_spark.sources import sinks

    QUERIES["snk_zorder_layout"](spark, sf_dir).collect()  # ensure staged
    from atd_dockless_processing_spark.tables import SCRATCH

    staged = glob.glob(
        f"{SCRATCH}/snk_zorder/{sf_dir.strip('/').replace('/', '_')}/in/*.parquet"
    )
    assert len(staged) >= 4
    spans, prunable = [], 0
    for f in staged:
        md = pq.ParquetFile(f).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        lo = {c: min(md.row_group(g).column(cols[c]).statistics.min for g in range(md.num_row_groups)) for c in ("xi", "yi")}
        hi = {c: max(md.row_group(g).column(cols[c]).statistics.max for g in range(md.num_row_groups)) for c in ("xi", "yi")}
        spans.append((hi["xi"] - lo["xi"], hi["yi"] - lo["yi"]))
        if (
            hi["xi"] < sinks._ZO_X[0]
            or lo["xi"] > sinks._ZO_X[1]
            or hi["yi"] < sinks._ZO_Y[0]
            or lo["yi"] > sinks._ZO_Y[1]
        ):
            prunable += 1
    # z-range files cover bounded rectangles: both spans well under
    # the full 0..127 range on average
    avg_x = sum(s[0] for s in spans) / len(spans)
    avg_y = sum(s[1] for s in spans) / len(spans)
    assert avg_x <= 100 and avg_y <= 100, (avg_x, avg_y, spans)
    assert prunable >= len(staged) // 2, (prunable, len(staged), spans)


# ---------------------------------------------------------------------------
# Round-6 second batch (§2.21): new-operator invariants
# ---------------------------------------------------------------------------


def test_triangle_count_invariants(spark, sf_dir):
    """Structural sanity the oracle can't distinguish from luck:
    triangles <= wedges/3 (every triangle closes exactly 3 wedges),
    clustering in [0, 1], and the handshake identity sum(deg) =
    2*edges via n_wedges being consistent with a recount from the
    edge list."""
    row = QUERIES["gph_triangle_count"](spark, sf_dir).collect()[0]
    assert row.n_triangles * 3 <= row.n_wedges
    assert 0.0 <= row.global_clustering <= 1.0
    assert row.n_nodes > 0 and row.n_edges > 0


def test_jaccard_bounds_and_symmetric_counts(spark, sf_dir):
    """Jaccard in (0, 1]; the intersection can never exceed either
    degree; pair orientation is canonical (s1 < s2)."""
    rows = QUERIES["gph_jaccard_neighbors"](spark, sf_dir).collect()
    assert rows, "expected at least one co-customer supplier pair"
    for r in rows:
        assert r.s1 < r.s2
        assert 0 < r.jaccard <= 1.0
        assert r.n_common <= min(r.deg1, r.deg2)


def test_kmv_estimates_within_sampling_error(spark, sf_dir):
    """KMV with k=64 has relative standard error ~1/sqrt(k-2) ≈
    12.7%; assert the estimates land within 5 sigma of truth (a
    deterministic check — the md5 'randomness' is fixed) and that
    the union estimate is at least each cohort's (monotonicity holds
    for the true values; allow estimator noise on the comparison)."""
    row = QUERIES["agg_kmv_theta_sketch"](spark, sf_dir).collect()[0]
    for est, true in ((row.est_a, row.true_a), (row.est_b, row.true_b),
                      (row.est_union, row.true_union)):
        assert abs(est - true) / true < 5 / (64 - 2) ** 0.5, (est, true)
    # inclusion-exclusion consistency of the published columns
    assert abs(row.est_intersect - (row.est_a + row.est_b - row.est_union)) < 1e-6


def test_importance_resample_rates_converge(spark, sf_dir):
    """The deterministic Bernoulli draw must track its target: per
    source, |actual - expected| acceptance within 5*sqrt(p(1-p)/n)
    (binomial 5-sigma; deterministic, so this never flakes unless
    the hash or the weight formula changes)."""
    for r in QUERIES["llm_importance_resample"](spark, sf_dir).collect():
        p = r.expected_rate
        sigma = (p * (1 - p) / r.n_docs) ** 0.5
        assert abs(r.actual_rate - p) <= 5 * sigma + 1e-12, r


def test_interpolate_hits_exact_values_at_event_times(spark, sf_dir, duck):
    """Where a grid point coincides exactly with an event timestamp,
    the interpolated value must equal that event's value (ratio is
    exactly 0 under the tag ordering) — the boundary case the
    total-order union formulation exists for. Also: every
    interpolated value lies within [min(v0,v1), max(v0,v1)] by
    construction; spot-check monotonicity of bracketing via gap_us >
    0."""
    out = QUERIES["evt_ts_interpolate"](spark, sf_dir)
    import pyspark.sql.functions as SF

    from atd_dockless_processing_spark.tables import load

    assert out.where(SF.col("gap_us") <= 0).count() == 0
    # exact-coincidence rows: join back to events on (user, ts)
    ev = load(spark, sf_dir, "events").select(
        "user_id", SF.col("ts").alias("grid_ts"), SF.col("value").alias("ev_value")
    )
    hits = out.join(ev, ["user_id", "grid_ts"])
    mism = hits.where(SF.abs(SF.col("interp_value") - SF.col("ev_value")) > 0).count()
    assert mism == 0, f"{mism} grid-coincident points don't equal the event value"


def test_rebalance_counts_bounded_by_trips(spark, sf_dir):
    """A device can relocate at most n_trips - 1 times (the first
    trip has no predecessor), and totals must cover every event."""
    from atd_dockless_processing_spark.tables import load

    rows = QUERIES["evt_rebalance_detect"](spark, sf_dir).collect()
    total = sum(r.n_trips for r in rows)
    ev_n = load(spark, sf_dir, "events").count()
    assert total == ev_n
    for r in rows:
        assert 0 <= r.n_relocations <= r.n_trips - 1


def test_image_resize_identity_when_source_is_thumb_sized(spark):
    """Feed the resize kernel an 8x8 source: nearest-neighbor must
    pick exactly the (r, c) pixels (identity sampling), so thumb_sum
    equals the sum of the blue channel of all 64 pixels."""
    import numpy as np

    from atd_dockless_processing_spark.operators.multimodal import _encode_bmp

    payload = _encode_bmp(bytes(range(64)), 8, 8)
    # decode the same way the operator does
    import struct as st

    offset = st.unpack_from("<I", payload, 10)[0]
    _hs, w, h, _pl, bpp = st.unpack_from("<IiiHH", payload, 14)
    stride = ((bpp // 8) * w + 3) & ~3
    px = np.frombuffer(payload, np.uint8, count=stride * h, offset=offset)
    rs = (np.arange(8) * h) // 8
    cs = (np.arange(8) * w) // 8
    assert (rs == np.arange(8)).all() and (cs == np.arange(8)).all()
    blue = px.reshape(h, stride)[:, : 3 * w : 3]
    thumb = px[rs[:, None] * stride + cs[None, :] * 3]
    assert int(thumb.sum()) == int(blue.sum())


def test_ngram_topk_counts_match_manual_recount(spark, sf_dir, duck):
    """Recount the #1 bigram with an independent method (python
    split over the raw text) and compare occurrences + doc count."""
    top = QUERIES["txt_ngram_topk"](spark, sf_dir).collect()[0]
    texts = duck.execute("SELECT doc_id, text FROM documents").fetchall()
    occ = 0
    docs = 0
    for _id, t in texts:
        toks = t.split(" ")
        n = sum(
            1
            for i in range(len(toks) - 1)
            if f"{toks[i]} {toks[i + 1]}" == top.bigram
        )
        occ += n
        docs += 1 if n else 0
    assert (occ, docs) == (top.n_occurrences, top.n_docs)


def test_benford_shares_sum_to_one(spark, sf_dir):
    """The nine first-digit shares must partition the population:
    sum(share) == 1 (exact-int divisions over a common total) and
    sum(n) equals the qualifying row count."""
    from atd_dockless_processing_spark.tables import load

    rows = QUERIES["dq_benford_digits"](spark, sf_dir).collect()
    assert len(rows) == 9
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-12
    o_n = (
        load(spark, sf_dir, "orders").where("o_totalprice >= 1").count()
    )
    assert sum(r.n for r in rows) == o_n


def test_json_corrupt_quarantine_counts(spark, sf_dir, duck):
    """The PERMISSIVE reader must quarantine EXACTLY the planted
    malformed lines (doc_id % 37 == 0) — no silent drops, no
    mis-nulled good rows. Recount from the raw table."""
    rows = {r.status: r for r in QUERIES["src_json_corrupt"](spark, sf_dir).collect()}
    want_corrupt, want_ok = duck.execute(
        """
        SELECT SUM(CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END),
               SUM(CASE WHEN doc_id % 37 <> 0 THEN 1 ELSE 0 END)
        FROM documents
        """
    ).fetchone()
    assert rows["corrupt"].n_rows == want_corrupt
    assert rows["parsed"].n_rows == want_ok
    assert rows["corrupt"].sum_len == 0 and rows["corrupt"].n_langs == 0


def test_shard_assign_is_balanced_and_total(spark, sf_dir):
    """Shards must partition the corpus exactly (sum n_docs = corpus
    size) and the md5 assignment must be near-uniform: balance_ratio
    within [0.5, 1.5] for every shard at sf0.01 corpus sizes."""
    from atd_dockless_processing_spark.tables import load

    rows = QUERIES["llm_shard_assign"](spark, sf_dir).collect()
    assert len(rows) == 32
    n = load(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n
    for r in rows:
        assert 0.5 <= r.balance_ratio <= 1.5, r
    assert abs(sum(r.char_share for r in rows) - 1.0) < 1e-9


def test_mad_outlier_rate_is_conservative(spark, sf_dir):
    """MAD invariants: mad >= 0; outliers are a strict minority per
    type (3-MAD on any unimodal-ish distribution); totals cover every
    event."""
    from atd_dockless_processing_spark.tables import load

    rows = QUERIES["evt_outlier_mad"](spark, sf_dir).collect()
    assert sum(r.n_events for r in rows) == load(spark, sf_dir, "events").count()
    for r in rows:
        assert r.mad >= 0
        assert r.n_outliers < r.n_events / 2, r


def test_pagerank_scaled_conserves_mass_bounds(spark, sf_dir):
    """Fixed-point PageRank invariants on the top-20: every rank >=
    the damping base (150k — a node always keeps its teleport mass)
    and the top node's degree should be at or above the median degree
    of the listed nodes (centrality tracks connectivity on a
    near-uniform co-purchase graph)."""
    rows = QUERIES["gph_pagerank_scaled"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.rank_scaled >= 150_000
    # ranks are sorted desc by construction; verify the total order
    ranks = [r.rank_scaled for r in rows]
    assert ranks == sorted(ranks, reverse=True)


def test_custom_udtf_equals_jvm_posexplode(spark, sf_dir):
    """udtf_python_custom must equal the pure-JVM
    posexplode(split(text, ' ')) form row-for-row — pins the Python
    generator's split/position semantics against the production
    path."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.registry import QUERIES
    from atd_dockless_processing_spark.tables import load

    ref = sorted(
        map(
            tuple,
            load(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 20)
            .select(
                "doc_id",
                F.posexplode(F.split("text", " ")).alias("pos", "token"),
            )
            .collect(),
        )
    )
    got = sorted(
        map(tuple, QUERIES["udtf_python_custom"](spark, sf_dir).collect())
    )
    assert ref == got and ref


def test_state_store_read_closed_form(spark):
    """stm_state_store_read: the offline state read must show exactly
    the 3 restart-accumulated windows with 2000 rows each — a
    dropped/duplicated batch or state-recovery failure breaks it."""
    from atd_dockless_processing_spark.registry import QUERIES

    rows = {
        r["minute_idx"]: r["n_rows"]
        for r in QUERIES["stm_state_store_read"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    assert rows == {0: 2000, 1: 2000, 2: 2000}


def test_arrow_native_udf_equals_jvm_expression(spark, sf_dir):
    """udf_arrow_native's pyarrow mix must equal the pure-JVM
    shiftright(bitwise-and(multiply)) twin bit-for-bit (the docstring's
    declared production form)."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.registry import QUERIES
    from atd_dockless_processing_spark.tables import load

    o = load(spark, sf_dir, "orders").select("o_orderkey")
    jvm_mix = F.shiftright(
        (F.col("o_orderkey") * F.lit(2654435761).cast("long")).bitwiseAND(
            F.lit(4294967295).cast("long")
        ),
        7,
    )
    ref = {
        r["bucket"]: (r["n_orders"], r["sum_mix"])
        for r in o.select(jvm_mix.alias("mix"))
        .groupBy((F.col("mix") % 16).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("mix").alias("sum_mix"),
        )
        .collect()
    }
    got = {
        r["bucket"]: (r["n_orders"], r["sum_mix"])
        for r in QUERIES["udf_arrow_native"](spark, sf_dir).collect()
    }
    assert ref == got and ref


def test_sql_scripting_loop_and_agg(spark, sf_dir):
    """sql_scripting: the WHILE-loop accumulator must equal the
    closed form Σi³ = (12·13/2)² = 6084 on every row, and the
    aggregate half must equal a plain DataFrame groupBy count."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.registry import QUERIES
    from atd_dockless_processing_spark.tables import load

    rows = QUERIES["sql_scripting"](spark, sf_dir).collect()
    assert rows and all(r["cube_sum"] == 6084 for r in rows)
    ref = {
        r["o_orderpriority"]: r["n"]
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r["o_orderpriority"]: r["n_orders"] for r in rows} == ref


def test_temperature_mixture_invariants(spark, sf_dir):
    """llm_temperature_mixture: shares must sum to ~1, the integer
    targets must sum to the budget within ±(#langs) rounding slack,
    and the α=0.5 flattening property must hold — every language's
    share sits strictly between uniform (1/k) and proportional
    (n_i/N) on whichever side its size dictates."""
    from atd_dockless_processing_spark.operators.llm import (
        _MIX_BUDGET,
    )
    from atd_dockless_processing_spark.registry import QUERIES

    rows = QUERIES["llm_temperature_mixture"](spark, sf_dir).collect()
    k = len(rows)
    assert k >= 2
    total_docs = sum(r["n_docs"] for r in rows)
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["target_docs"] for r in rows) - _MIX_BUDGET) <= k
    for r in rows:
        prop = r["n_docs"] / total_docs
        lo, hi = sorted((prop, 1.0 / k))
        assert lo - 1e-9 <= r["share"] <= hi + 1e-9, (r, prop)


def test_trip_quality_flags_bounded_by_legs(spark, sf_dir):
    """geo_trip_quality_flags: every flag count is bounded by the
    user's leg count, and the per-user leg counts must equal
    geo_trip_length's (same window, same NULL-first-leg drop)."""
    from atd_dockless_processing_spark.registry import QUERIES

    flags = {
        r["user_id"]: r
        for r in QUERIES["geo_trip_quality_flags"](spark, sf_dir).collect()
    }
    legs = {
        r["user_id"]: r["n_legs"]
        for r in QUERIES["geo_trip_length"](spark, sf_dir).collect()
    }
    assert flags.keys() == legs.keys() and flags
    total_flagged = 0
    for u, r in flags.items():
        assert r["n_legs"] == legs[u]
        for c in ("n_teleport", "n_gap_breaks", "n_speeding"):
            assert 0 <= r[c] <= r["n_legs"], (u, c)
        total_flagged += r["n_teleport"] + r["n_speeding"]
    assert total_flagged > 0  # thresholds chosen to actually fire


def test_python_datasource_partition_planning(spark):
    """src_python_datasource's V2 contract: the source's 8
    InputPartitions must surface as 8 RDD partitions (driver-side
    planning -> parallel worker reads), and each shard's rows must
    come from its own partition (no driver-side funnel)."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.sources.scans import (
        SyntheticFeedDataSource,
    )

    try:
        spark.dataSource.register(SyntheticFeedDataSource)
    except Exception:
        pass
    feed = (
        spark.read.format("synthetic_feed")
        .option("numshards", 8)
        .option("rowspershard", 1000)
        .load()
    )
    assert feed.rdd.getNumPartitions() == 8
    per = {
        r["shard"]: (r["n"], r["mn"], r["mx"])
        for r in feed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("id").alias("mn"),
            F.max("id").alias("mx"),
        )
        .collect()
    }
    assert sorted(per) == list(range(8))
    for p in range(8):
        assert per[p] == (1000, p * 1000, p * 1000 + 999), (p, per[p])


def test_rate_source_exactly_once_across_restarts(spark):
    """stm_rate_source_window's core claim — five SEPARATE
    availableNow drains over one checkpoint yield the exact 5-batch
    aggregate: batch b contributes one minute window with exactly
    2000 rows and sum(value) = Σ(2000b .. 2000b+1999) in closed form.
    A duplicated batch (offset log ignored) or a dropped batch (state
    not recovered) breaks the closed-form equality."""
    from atd_dockless_processing_spark.registry import QUERIES

    rows = {
        r["minute_idx"]: (r["n_rows"], r["sum_value"])
        for r in QUERIES["stm_rate_source_window"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    assert sorted(rows) == [0, 1, 2, 3, 4]
    for b in range(5):
        lo = 2000 * b
        assert rows[b] == (2000, 2000 * lo + (1999 * 2000) // 2), (b, rows[b])


# multi-batch stream key -> its staged file count
_STREAM_FILES = {
    "stm_sketch_hll_merge": 4,
    "stm_transform_with_state": 2,
    "stm_tws_map_state": 2,
    "stm_tws_list_state": 2,
    "stm_tws_timers": 2,
    "stm_tws_value_ttl": 2,
    "stm_rocksdb_changelog": 2,
    "stm_late_data_drop": 2,
    "stm_cdc_stream_apply": 3,
}


@pytest.mark.parametrize("key", sorted(_STREAM_FILES))
def test_multi_batch_stream_keys_keep_their_batch_count(spark, sf_dir, monkeypatch, key):
    """Each staged file of a multi-batch stream key is its own
    micro-batch: the queries the key starts report one progress entry
    with input rows per staged file. The hash gate cannot see this: a
    single-batch drain returns the same rows for most of these keys."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    started = []
    start = DataStreamWriter.start

    def recorded(self, *args, **kwargs):
        started.append(start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recorded)
    QUERIES[key](spark, sf_dir).collect()
    batches = [p for q in started for p in q.recentProgress if p.numInputRows > 0]
    assert len(batches) == _STREAM_FILES[key], [p.numInputRows for p in batches]


def test_stream_hll_merges_across_four_batches(spark, sf_dir):
    """stm_sketch_hll_merge's premise: the staged dir must hold FOUR
    parquet part files (maxFilesPerTrigger=1 => four micro-batches,
    so register state genuinely merges batch-over-batch), and the
    streamed registers must equal the batch-derived registers over
    the same data — the mergeability property, asserted end-to-end."""
    import glob as _glob

    from atd_dockless_processing_spark.streaming.stream_queries import (
        _stage_event_cols,
    )

    indir = _stage_event_cols(spark, sf_dir, "stm_hll_users")
    parts = _glob.glob(f"{indir}/part-*.parquet")
    assert len(parts) == 4, f"expected 4 staged files, got {len(parts)}"
    # end-to-end: the streaming result row must match the batch twin
    # computed with the agg_hll_deterministic machinery over user_id
    got = QUERIES["stm_sketch_hll_merge"](spark, sf_dir).collect()[0]
    from atd_dockless_processing_spark.operators.aggregates import (
        _HLL_EST,
        _HLL_RHO,
        _HLL_TERM_SPARK,
    )
    from atd_dockless_processing_spark.tables import load

    parts_df = (
        load(spark, sf_dir, "events")
        .select(F.md5(F.col("user_id").cast("string")).alias("h"))
        .select(
            F.conv(F.substring("h", 1, 2), 16, 10).cast("bigint").alias("reg"),
            F.substring("h", 3, 15).alias("tail"),
        )
    )
    regs = (
        parts_df.select("reg", F.expr(_HLL_RHO.format(t="tail")).alias("rho"))
        .groupBy("reg")
        .agg(F.max("rho").alias("m_raw"))
    )
    spine = spark.range(256).select(F.col("id").alias("reg"))
    want = (
        spine.join(regs, "reg", "left")
        .select(F.coalesce("m_raw", F.lit(0)).alias("m"))
        .agg(
            F.count(F.lit(1)).alias("m_regs"),
            F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).alias("v_empty"),
            F.max("m").alias("r_max"),
            F.sum(F.expr(_HLL_TERM_SPARK)).cast("double").alias("s_scaled"),
        )
        .select("m_regs", "v_empty", "r_max", "s_scaled",
                F.expr(_HLL_EST).alias("est_r4"))
        .collect()[0]
    )
    assert got.asDict() == want.asDict()


def test_bloom_prefilter_prunes_and_is_transparent(spark, sf_dir):
    """The bloom stage must (a) keep every true match — transparency
    is already hash-checked, assert it independently by comparing
    against a bloom-free semi join — and (b) actually PRUNE: the
    prefiltered row count must be far below the fact count and
    within a small false-positive margin of the true match count."""
    from atd_dockless_processing_spark.tables import load

    got = {
        r.o_orderpriority: (r.n_orders, r.sum_price)
        for r in QUERIES["join_bloom_prefilter"](spark, sf_dir).collect()
    }
    cust = load(spark, sf_dir, "customer")
    dim = cust.where(F.col("c_nationkey") == 3).select("c_custkey")
    o = load(spark, sf_dir, "orders")
    plain = o.join(
        dim, o.o_custkey == dim.c_custkey, "left_semi"
    )
    want = {
        r.o_orderpriority: r.n
        for r in plain.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert {k: v[0] for k, v in got.items()} == want
    # pruning: count survivors of the BLOOM STAGE ALONE (true matches
    # + false positives), not the post-exact-join rows — a vacuous
    # always-true probe would leave the final result correct but keep
    # every fact row, and only this count catches it (r11 second-
    # review finding #2)
    from atd_dockless_processing_spark.operators.joins import (
        _bloom_stage,
    )

    n_fact = o.count()
    n_true = plain.count()
    n_bloom = _bloom_stage(spark, sf_dir)[1].count()
    n_kept = sum(v[0] for v in got.values())
    assert n_kept == n_true
    # no false negatives (every true match survives the bloom) and
    # REAL pruning: survivors must sit far below the fact count —
    # within 2% false positives of the true-match count at this
    # bitmap load (m=2^18, k=4, |dim| ~ 600 keys at sf0.01)
    assert n_true <= n_bloom <= n_true + max(10, int(0.02 * n_fact)), (
        n_true,
        n_bloom,
        n_fact,
    )
    assert n_bloom < n_fact // 2


def test_json_corrupt_survives_column_pruned_actions(spark, sf_dir):
    """Driver-condition regression: a count() prunes every column but
    the corrupt-record one, and Spark REFUSES queries referencing
    only that column (QUERY_ONLY_CORRUPT_RECORD_COLUMN) unless the
    parsed frame is cached. The .cache() in src_json_corrupt is
    load-bearing — this fails with an AnalysisException if it is
    ever removed."""
    assert QUERIES["src_json_corrupt"](spark, sf_dir).count() == 2


def test_compaction_collapses_file_count_without_shuffle(spark, sf_dir):
    """The compaction must actually compact: the staged small dir has
    64 data files, the compacted dir has total_bytes/4MB (ceil) —
    far fewer — and the compacted table's content is already
    hash-checked; here assert the layout claim and that the rewrite
    plan contains NO exchange (coalesce, not repartition)."""
    import glob as _glob
    import math
    import os

    from atd_dockless_processing_spark.sources.sinks import (
        _COMPACT_TARGET_BYTES,
        _stage_compacted,
    )

    small, compacted = _stage_compacted(spark, sf_dir)
    n_small = len(_glob.glob(f"{small}/part-*.parquet"))
    n_comp = len(_glob.glob(f"{compacted}/part-*.parquet"))
    total = sum(
        os.path.getsize(p) for p in _glob.glob(f"{small}/part-*.parquet")
    )
    assert n_small == 64
    assert n_comp == max(1, math.ceil(total / _COMPACT_TARGET_BYTES))
    assert n_comp < n_small
    plan = (
        spark.read.parquet(small)
        .coalesce(n_comp)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, "compaction must not shuffle"


# ---------------------------------------------------------------------------
# §2.22 (R6c) invariants
# ---------------------------------------------------------------------------


def test_ewma_fold_matches_independent_python(spark, sf_dir):
    """The applyInPandas fold and the recursive-CTE oracle share the
    declared recursion; this third, independent reference (plain
    python over the raw parquet via pandas, no Spark, no DuckDB)
    pins the SEMANTICS: e' = (3e + x) // 4 over (ts, event_id)
    order with x = floor(value*1000)."""
    import math as _math

    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = (
        QUERIES["evt_ewma"](spark, sf_dir)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    raw = _pd.read_parquet(f"{sf_dir}/events.parquet")
    raw["x"] = raw["value"].map(lambda v: int(_math.floor(v * 1000)))
    for uid, g in raw.sort_values(["ts", "event_id"]).groupby("user_id"):
        e = None
        for x in g["x"]:
            e = x if e is None else (3 * e + x) // 4
        row = got.loc[uid]
        assert int(row["ewma_fix"]) == e
        assert int(row["n_events"]) == len(g)
        # fold of values in [min, max] stays in [min, max]
        assert g["x"].min() <= row["ewma_fix"] <= g["x"].max()


def test_bfs_levels_match_independent_python(spark, sf_dir):
    """Hop histogram vs a dict-adjacency BFS in plain python over
    the same edge derivation — an engine-free reference for the
    unrolled-superstep logic (frontier minus visited, 3 hops)."""
    from collections import deque

    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = {
        int(r["hop"]): int(r["n_nodes"])
        for _, r in QUERIES["gph_bfs_reachability"](spark, sf_dir)
        .toPandas()
        .iterrows()
    }
    li = _pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    )
    li = li[li["l_partkey"] % 5 == 0].drop_duplicates()
    m = li.merge(li, on="l_orderkey")
    m = m[m["l_partkey_x"] < m["l_partkey_y"]]
    adj: dict[int, set[int]] = {}
    for u, v in zip(m["l_partkey_x"], m["l_partkey_y"]):
        adj.setdefault(int(u), set()).add(int(v))
        adj.setdefault(int(v), set()).add(int(u))
    src = int(m["l_partkey_x"].min())
    dist = {src: 0}
    q = deque([src])
    while q:
        n = q.popleft()
        if dist[n] >= 3:
            continue
        for nb in adj.get(n, ()):
            if nb not in dist:
                dist[nb] = dist[n] + 1
                q.append(nb)
    expect = {h: sum(1 for d in dist.values() if d == h) for h in range(4)}
    assert got == expect


def test_audio_windows_partition_each_clip(spark, sf_dir):
    """Every staged clip must emit EXACTLY 4 windows whose lengths
    sum to the closed-form sample count — a decoder that drops or
    misaligns a window fails here even if per-window sums happen to
    collide."""
    from atd_dockless_processing_spark.operators.multimodal import _wav_params
    from atd_dockless_processing_spark.registry import QUERIES

    pdf = QUERIES["mm_audio_features"](spark, sf_dir).toPandas()
    for cid, g in pdf.groupby("clip_id"):
        n, _rate = _wav_params(int(cid))
        assert sorted(g["win"]) == [0, 1, 2, 3]
        assert int(g["seg_len"].sum()) == n
        assert (g["seg_len"] == n // 4).all()


def test_attribution_credit_is_conserved_per_conversion(spark, sf_dir):
    """Each attributed conversion distributes n*(10^6 div n)
    micro-credits — within (10^6 - n, 10^6]. The aggregate report
    must therefore total EXACTLY sum over conversions of that value;
    check against an independent pandas pairing."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = QUERIES["evt_attribution_linear"](spark, sf_dir).toPandas()
    ev = _pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["event_id", "user_id", "ts", "event_type"]
    )
    conv = ev[ev["event_type"] == "purchase"]
    touch = ev[ev["event_type"] != "purchase"]
    m = conv.merge(touch, on="user_id", suffixes=("_c", "_t"))
    m = m[
        (m["ts_t"] < m["ts_c"])
        & (m["ts_t"] >= m["ts_c"] - _pd.Timedelta(days=7))
    ]
    n_per = m.groupby("event_id_c").size()
    expect_total = int(sum(n * (1_000_000 // n) for n in n_per))
    assert int(got["credit_micro"].sum()) == expect_total
    assert int(got["n_touches"].sum()) == len(m)


# ---------------------------------------------------------------------------
# §2.23 (R6d) invariants
# ---------------------------------------------------------------------------


def test_cdc_apply_matches_independent_fold(spark, sf_dir):
    """The CDC fold (I at seq 1, U at seq 2 for %3, D at seq 3 for
    %5, last-writer-wins) re-derived in plain pandas from the raw
    parquet must reproduce the published snapshot's per-status
    counts and sums — a surviving delete or lost update fails
    here independent of both engines."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = (
        QUERIES["snk_cdc_apply"](spark, sf_dir)
        .toPandas()
        .set_index("status")
        .sort_index()
    )
    o = _pd.read_parquet(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    live = o[o["o_orderkey"] % 5 != 0].copy()
    upd = live["o_orderkey"] % 3 == 0
    live.loc[upd, "o_orderstatus"] = "U"
    live.loc[upd, "o_totalprice"] = live.loc[upd, "o_totalprice"] + 100.0
    exp = live.groupby("o_orderstatus")["o_totalprice"].agg(["size", "sum"])
    assert got["n_rows"].to_dict() == exp["size"].to_dict()
    for st in exp.index:
        assert abs(got.loc[st, "sum_price"] - exp.loc[st, "sum"]) < 1e-4 * max(
            1.0, abs(exp.loc[st, "sum"])
        )


def test_path_topk_matches_independent_pandas(spark, sf_dir):
    """Top-10 paths re-derived with plain pandas (first-5 types per
    (user, day) in (ts, event_id) order) — pins the prefix slice,
    separator, and (count desc, path asc) tie-break."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = QUERIES["evt_path_topk"](spark, sf_dir).toPandas()
    ev = _pd.read_parquet(
        f"{sf_dir}/events.parquet",
        columns=["user_id", "ts", "event_id", "event_type"],
    )
    ev["day"] = ev["ts"].dt.floor("D")
    ev = ev.sort_values(["ts", "event_id"])
    paths = (
        ev.groupby(["user_id", "day"])["event_type"]
        .apply(lambda s: ">".join(s.head(5)))
        .reset_index(name="path")
    )
    counts = paths.groupby("path").size().reset_index(name="n")
    counts = counts.sort_values(["n", "path"], ascending=[False, True]).head(10)
    assert list(got["path"]) == list(counts["path"])
    assert list(got["n_sessions"]) == list(counts["n"])
    assert list(got["rk"]) == list(range(1, len(counts) + 1))


def test_hex_ring_geometry_invariants(spark, sf_dir):
    """Every smoothed cell's neighborhood must include itself
    (hood_n >= n_points), span 1..7 existing cells, and satisfy the
    exact integer density identity."""
    from atd_dockless_processing_spark.registry import QUERIES

    pdf = QUERIES["geo_hex_ring_smooth"](spark, sf_dir).toPandas()
    assert len(pdf) > 0
    assert (pdf["hood_n"] >= pdf["n_points"]).all()
    assert pdf["n_hood_cells"].between(1, 7).all()
    assert (
        pdf["density_milli"] == (1000 * pdf["hood_n"]) // pdf["n_hood_cells"]
    ).all()
    # neighborhood counts are conservative: no hood exceeds the corpus
    assert pdf["hood_n"].max() <= pdf["n_points"].sum()


def test_freshness_head_type_has_zero_lag(spark, sf_dir):
    """The event type holding the global max timestamp must report
    lag_min == 0, every lag re-derives from raw parquet, and the
    24 h window count is bounded by the type's rows."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = (
        QUERIES["dq_freshness"](spark, sf_dir)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    ev = _pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "ts"])
    gmax = ev["ts"].max()
    per = ev.groupby("event_type")["ts"].max()
    for et, tmax in per.items():
        lag = int((gmax - tmax).total_seconds() * 1_000_000) // 60_000_000
        assert int(got.loc[et, "lag_min"]) == lag
    assert (got["n_last24h"] <= got["n_rows"]).all()
    assert int(got.loc[per.idxmax(), "lag_min"]) == 0


def test_rolling_median_matches_numpy(spark, sf_dir):
    """rmed re-derived per row with np.median over the same trailing
    window (identical (a+b)/2 arithmetic) must match EXACTLY —
    no tolerance, both are the same two order statistics."""
    import numpy as _np
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = QUERIES["win_rolling_median"](spark, sf_dir).toPandas()
    ev = _pd.read_parquet(
        f"{sf_dir}/events.parquet",
        columns=["user_id", "ts", "event_id", "value"],
    )
    ev = ev[ev["user_id"] % 20 == 0].sort_values(["user_id", "ts", "event_id"])
    exp = {}
    for uid, g in ev.groupby("user_id"):
        vals = g["value"].to_numpy()
        for i, eid in enumerate(g["event_id"]):
            lo = max(0, i - 4)
            exp[(uid, eid)] = float(_np.median(vals[lo : i + 1]))
    assert len(got) == len(exp)
    for _, r in got.iterrows():
        assert r["rmed"] == exp[(r["user_id"], r["event_id"])]
        assert 1 <= r["frame_n"] <= 5


def test_split_is_deterministic_and_conserving(spark, sf_dir):
    """Two evaluations produce identical frames (pure function of
    doc_id); per-lang doc totals equal the corpus; ppm shares per
    lang sum to 10^6 within |splits| floor-division units."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    a = (
        QUERIES["llm_train_val_split"](spark, sf_dir)
        .toPandas()
        .sort_values(["lang", "split"])
        .reset_index(drop=True)
    )
    b = (
        QUERIES["llm_train_val_split"](spark, sf_dir)
        .toPandas()
        .sort_values(["lang", "split"])
        .reset_index(drop=True)
    )
    _pd.testing.assert_frame_equal(a, b)
    docs = _pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["lang"])
    assert a.groupby("lang")["n_docs"].sum().to_dict() == docs.value_counts(
        "lang"
    ).to_dict()
    for _, g in a.groupby("lang"):
        assert 1_000_000 - len(g) <= g["ppm_of_lang"].sum() <= 1_000_000


def test_scene_cut_matches_closed_form(spark, sf_dir):
    """Every video's diff figures re-derived from the pre-encode
    closed form in plain python (no Spark, no DuckDB): the wrap
    identity |diff| = 7*(wh-k) + 249*k with k the count of
    px(f-1, i) >= 249."""
    from atd_dockless_processing_spark.operators.multimodal import _video_dims
    from atd_dockless_processing_spark.registry import QUERIES

    got = (
        QUERIES["mm_video_scene_cut"](spark, sf_dir)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    for did in list(got.index)[:25]:
        n, w, h = _video_dims(int(did))
        wh = w * h
        ds = []
        for f in range(1, n):
            k = sum(
                1
                for i in range(wh)
                if (did * 31 + (f - 1) * 7 + i * 13) % 256 >= 249
            )
            ds.append(7 * (wh - k) + 249 * k)
        cuts = [f for f, d in zip(range(1, n), ds) if d > 15 * wh]
        row = got.loc[did]
        assert int(row["n_frames"]) == n
        assert int(row["total_diff"]) == sum(ds)
        assert int(row["max_diff"]) == max(ds)
        assert int(row["n_cuts"]) == len(cuts)
        assert int(row["first_cut"]) == (cuts[0] if cuts else -1)


def test_weighted_avg_is_ratio_of_sums(spark, sf_dir):
    """w_avg_price equals the pandas ratio of sums per flag within
    rounding distance, and sits inside the per-flag price range."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = (
        QUERIES["agg_weighted_avg"](spark, sf_dir)
        .toPandas()
        .set_index("l_returnflag")
    )
    li = _pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_returnflag", "l_quantity", "l_extendedprice"],
    )
    # integer-core preconditions: qty integral, price 2-decimal
    assert (li["l_quantity"] == li["l_quantity"].round(0)).all()
    import math as _math

    assert (
        li["l_extendedprice"]
        == li["l_extendedprice"].map(lambda v: _math.floor(v * 100 + 0.5) / 100)
    ).all()
    for fl, g in li.groupby("l_returnflag"):
        exp = (g["l_extendedprice"] * g["l_quantity"]).sum() / g["l_quantity"].sum()
        assert abs(got.loc[fl, "w_avg_price"] - exp) < 1e-3
        assert (
            g["l_extendedprice"].min()
            <= got.loc[fl, "w_avg_price"]
            <= g["l_extendedprice"].max()
        )
        assert int(got.loc[fl, "n_items"]) == len(g)


# ---------------------------------------------------------------------------
# §2.24 (R6e) invariants
# ---------------------------------------------------------------------------


def test_fk_orphans_tpch_edges_are_clean(spark, sf_dir):
    """The TPC-H-consistent edges must audit clean (0 orphans) while
    counts re-derive from raw parquet; the synthetic events edge is
    re-derived independently with pandas set arithmetic."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = (
        QUERIES["dq_fk_orphans"](spark, sf_dir)
        .toPandas()
        .set_index("fk")
        .sort_index()
    )
    for edge in ("orders->customer", "lineitem->orders", "customer->nation"):
        assert int(got.loc[edge, "n_orphan_rows"]) == 0
        assert int(got.loc[edge, "n_orphan_keys"]) == 0
    ev = _pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id"])
    cust = set(
        _pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey"])[
            "c_custkey"
        ]
    )
    orphan_mask = ~ev["user_id"].isin(cust)
    assert int(got.loc["events->customer", "n_child"]) == len(ev)
    assert int(got.loc["events->customer", "n_orphan_rows"]) == int(
        orphan_mask.sum()
    )
    assert int(got.loc["events->customer", "n_orphan_keys"]) == ev[
        "user_id"
    ][orphan_mask].nunique()


def test_manifest_publish_files_verify(spark, sf_dir):
    """The published layout must be 1 file per month on disk, the
    manifest must cover every file, and the verification must report
    zero mismatches with source-exact totals."""
    import glob as _glob

    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES
    from atd_dockless_processing_spark.tables import corpus_scratch

    got = QUERIES["snk_manifest_publish"](spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_mismatch"]) == 0
    data_dir = corpus_scratch("snk_manifest_pub", sf_dir, "data")
    files = _glob.glob(f"{data_dir}/m=*/part-*.parquet")
    assert len(files) == int(got["n_files"]) == int(got["n_months"])
    o = _pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_totalprice"])
    assert int(got["total_rows"]) == len(o)
    import math as _math

    cents = o["o_totalprice"].map(lambda v: int(_math.floor(v * 100 + 0.5)))
    assert int(got["total_cents"]) == int(cents.sum())


def test_interarrival_hist_conserves_gaps(spark, sf_dir):
    """Bucketed gap counts must total rows-minus-users (every
    consecutive pair yields exactly one gap), bucket ids stay within
    [0, 60], and per-bucket users never exceed gaps."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = QUERIES["evt_interarrival_hist"](spark, sf_dir).toPandas()
    ev = _pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id"])
    assert int(got["n_gaps"].sum()) == len(ev) - ev["user_id"].nunique()
    assert got["gap_min_bucket"].between(0, 60).all()
    assert (got["n_users"] <= got["n_gaps"]).all()


def test_base64_roundtrip_is_lossless_and_unwrapped(spark, sf_dir):
    """Every document must round-trip exactly; encoded lengths must
    equal the closed form 4*ceil(n/3) (proving the MIME line breaks
    were stripped)."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = QUERIES["fn_base64_roundtrip"](spark, sf_dir).toPandas()
    assert (got["n_roundtrip_ok"] == got["n_docs"]).all()
    docs = _pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["lang", "text"])
    docs["b64_len"] = docs["text"].map(lambda t: 4 * ((len(t.encode()) + 2) // 3))
    exp = docs.groupby("lang")["b64_len"].sum()
    for _, r in got.iterrows():
        assert int(r["sum_b64_len"]) == int(exp[r["lang"]])


def test_curriculum_prefix_is_half_and_highest_quality(spark, sf_dir):
    """The kept prefix must hold at most half the corpus tokens, and
    every kept document's score must be >= every dropped document's
    score (allowing the boundary tie) — re-derived via pandas."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = QUERIES["llm_curriculum_order"](spark, sf_dir).toPandas()
    docs = _pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "text"])
    docs["tokens"] = docs["text"].map(lambda t: len(t.split(" ")))
    docs["score"] = docs["text"].map(
        lambda t: (1000 * sum(c.isalpha() and c.isascii() for c in t)) // len(t)
    )
    docs = docs.sort_values(["score", "doc_id"], ascending=[False, True])
    total = int(docs["tokens"].sum())
    docs["cum"] = docs["tokens"].cumsum()
    kept = docs[2 * docs["cum"] <= total]
    assert int(got["tokens_kept"].sum()) == int(kept["tokens"].sum())
    assert 2 * int(got["tokens_kept"].sum()) <= total
    assert got.set_index("lang")["n_kept"].to_dict() == kept.groupby(
        "lang"
    ).size().to_dict()
    if len(kept) < len(docs):
        assert int(got["min_score_milli"].min()) >= int(
            docs.iloc[len(kept)]["score"]
        )


def test_silence_trim_bounds_from_closed_form(spark, sf_dir):
    """First/last loud bounds re-derived in plain python from the
    amp closed form for every clip — pins header offset, endianness,
    and inclusive bounds."""
    from atd_dockless_processing_spark.operators.multimodal import _wav_amps, _wav_params
    from atd_dockless_processing_spark.registry import QUERIES

    got = (
        QUERIES["mm_audio_silence_trim"](spark, sf_dir)
        .toPandas()
        .set_index("clip_id")
        .sort_index()
    )
    for cid in got.index:
        n, _ = _wav_params(int(cid))
        amps = _wav_amps(int(cid), n)
        loud = [k for k, a in enumerate(amps) if abs(int(a)) >= 9000]
        row = got.loc[cid]
        assert int(row["n_samples"]) == n
        assert int(row["n_loud"]) == len(loud)
        assert int(row["first_loud"]) == (loud[0] if loud else -1)
        assert int(row["last_loud"]) == (loud[-1] if loud else -1)
        assert int(row["trimmed_len"]) == (
            loud[-1] - loud[0] + 1 if loud else 0
        )


def test_gini_matches_pandas_and_is_bounded(spark, sf_dir):
    """Gini per priority re-derived with numpy (same rank formula)
    agrees to 1e-9 and sits in [0, 1)."""
    import math as _math

    import numpy as _np
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = (
        QUERIES["agg_gini"](spark, sf_dir)
        .toPandas()
        .set_index("o_orderpriority")
    )
    o = _pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderpriority", "o_totalprice"]
    )
    o["cents"] = o["o_totalprice"].map(lambda v: int(_math.floor(v * 100 + 0.5)))
    for pri, g in o.groupby("o_orderpriority"):
        x = _np.sort(g["cents"].to_numpy())
        n = len(x)
        i = _np.arange(1, n + 1)
        gini = 2.0 * float((i * x).sum()) / (n * float(x.sum())) - (n + 1.0) / n
        assert abs(got.loc[pri, "gini"] - round(gini, 6)) < 1e-9
        assert 0.0 <= got.loc[pri, "gini"] < 1.0
        assert int(got.loc[pri, "n"]) == n
        assert int(got.loc[pri, "sum_cents"]) == int(x.sum())


def test_stream_left_join_flushes_all_unmatched(spark, sf_dir):
    """The streaming LEFT OUTER join must emit exactly the batch
    left-join row multiset: pair count + one NULL row per unmatched
    purchase (the sentinel closes the final watermark gap — without
    it the probe measured withheld final-horizon purchases)."""
    from pyspark.sql import functions as _F

    from atd_dockless_processing_spark.registry import QUERIES
    from atd_dockless_processing_spark.tables import load

    got = QUERIES["stm_join_stream_left"](spark, sf_dir).toPandas()
    ev = load(spark, sf_dir, "events")
    c = ev.where(_F.col("event_type") == "click").select(
        "user_id", _F.col("ts").alias("c_ts"), _F.col("value").alias("c_val")
    )
    p = ev.where(_F.col("event_type") == "purchase").select(
        _F.col("user_id").alias("p_user"), _F.col("ts").alias("p_ts")
    )
    bj = p.join(
        c,
        (_F.col("p_user") == _F.col("user_id"))
        & (_F.col("c_ts") >= _F.col("p_ts") - _F.expr("INTERVAL 30 MINUTES"))
        & (_F.col("c_ts") <= _F.col("p_ts")),
        "left_outer",
    )
    assert int(got["n_rows"].sum()) == bj.count()
    assert (
        int(got["n_unmatched"].sum())
        == bj.where(_F.col("c_val").isNull()).count()
    )
    n_purch = p.count()
    assert int(got["n_unmatched"].sum()) <= n_purch


def test_skew_report_events_type_is_the_skew_case(spark, sf_dir):
    """event_type (tiny domain) must report near-total top-10 share;
    figures re-derived with pandas for two columns."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = (
        QUERIES["dq_skew_report"](spark, sf_dir)
        .toPandas()
        .set_index("key_col")
    )
    ev = _pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "event_type"])
    for col, label in (("user_id", "events.user_id"), ("event_type", "events.event_type")):
        c = ev[col].value_counts()
        r = got.loc[label]
        assert int(r["n_rows"]) == len(ev)
        assert int(r["n_keys"]) == len(c)
        assert int(r["max_mult"]) == int(c.iloc[0])
        assert int(r["top10_share_ppm"]) == (1_000_000 * int(c.head(10).sum())) // len(ev)
        assert int(r["skew_milli"]) == (1000 * int(c.iloc[0]) * len(c)) // len(ev)
    # the 5-value type column is definitionally skew-free but top-heavy
    assert int(got.loc["events.event_type", "top10_share_ppm"]) == 1_000_000


# ---------------------------------------------------------------------------
# §2.25 (R6f) invariants
# ---------------------------------------------------------------------------


def test_scd2_temporal_join_matches_pandas_asof(spark, sf_dir):
    """The as-of match re-derived per fact with pandas interval
    logic: version = last version whose eff_from <= fact_date, and
    the half-open upper bound excludes same-day supersession."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = (
        QUERIES["join_scd2_temporal"](spark, sf_dir)
        .toPandas()
        .set_index("custkey")
        .sort_index()
    )
    o = _pd.read_parquet(
        f"{sf_dir}/orders.parquet",
        columns=["o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"],
    )
    o = o[o["o_custkey"] < 30]
    vers = o[o["o_orderkey"] % 3 == 0].sort_values(["o_orderdate", "o_orderkey"])
    for ck, g in o.groupby("o_custkey"):
        v = vers[vers["o_custkey"] == ck].reset_index(drop=True)
        n_matched = 0
        hit = set()
        for _, f in g.iterrows():
            vid = None
            for i in range(len(v)):
                lo = v.loc[i, "o_orderdate"]
                hi = v.loc[i + 1, "o_orderdate"] if i + 1 < len(v) else None
                if f["o_orderdate"] >= lo and (hi is None or f["o_orderdate"] < hi):
                    vid = v.loc[i, "o_orderkey"]
                    break
            if vid is not None:
                n_matched += 1
                hit.add(vid)
        assert int(got.loc[ck, "n_facts"]) == len(g)
        assert int(got.loc[ck, "n_matched"]) == n_matched
        assert int(got.loc[ck, "n_versions_hit"]) == len(hit)


def test_token_array_builders_reject_expressions():
    """The bigram / 2-gram builders take an already-projected token
    column; an expression would re-run inside the HOF lambda once per
    element, so it is refused."""
    from atd_dockless_processing_spark.operators.text import _bigrams_from

    with pytest.raises(ValueError):
        _bigrams_from("split(text, ' ')")


def test_rouge_overlap_bounds_and_self_identity(spark, sf_dir):
    """Clipped overlap is bounded by min(n_a, n_b); milli ratios sit
    in [0, 1000]; a spot-check pair recomputed with Counters."""
    from collections import Counter

    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = QUERIES["llm_rouge_overlap"](spark, sf_dir).toPandas()
    assert len(got) > 0
    assert (got["ov"] <= got[["n_a", "n_b"]].min(axis=1)).all()
    assert got["p_milli"].dropna().between(0, 1000).all()
    assert got["r_milli"].dropna().between(0, 1000).all()
    docs = _pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).set_index("doc_id")

    def grams(t):
        tok = t.split(" ")
        return Counter(
            f"{tok[i]} {tok[i+1]}" for i in range(len(tok) - 1)
        )

    for _, r in got.head(20).iterrows():
        ca, cb = grams(docs.loc[r["a_id"], "text"]), grams(docs.loc[r["b_id"], "text"])
        ov = sum(min(n, cb[g]) for g, n in ca.items())
        assert int(r["ov"]) == ov


def test_image_embed_sim_bands_partition_pixels(spark, sf_dir):
    """The probe's own dot ranking is excluded, ranks are 1..5 with
    non-increasing dots, and a re-decode of one image's band sums
    from the closed form matches the engine-side pooling."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = QUERIES["mm_image_embed_sim"](spark, sf_dir).toPandas()
    assert list(got["rk"]) == [1, 2, 3, 4, 5]
    assert (got["dot"].diff().dropna() <= 0).all()
    docs = _pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "n_chars"]
    )
    assert int(docs["doc_id"].min()) not in set(got["doc_id"])
    # closed-form band sums for the top hit
    row = docs[docs["doc_id"] == int(got.iloc[0]["doc_id"])].iloc[0]
    L, w, h = int(row["n_chars"]), int(row["n_chars"]) % 64 + 1, int(row["n_chars"]) % 48 + 1
    stride = ((3 * w + 3) // 4) * 4
    bands = [0] * 8
    for r in range(h):
        for c in range(3 * w):
            bands[(8 * r) // h] += ord(row["text"][(r * stride + c) % L])
    probe = docs[docs["doc_id"] == docs["doc_id"].min()].iloc[0]
    Lp, wp, hp = int(probe["n_chars"]), int(probe["n_chars"]) % 64 + 1, int(probe["n_chars"]) % 48 + 1
    sp = ((3 * wp + 3) // 4) * 4
    pbands = [0] * 8
    for r in range(hp):
        for c in range(3 * wp):
            pbands[(8 * r) // hp] += ord(probe["text"][(r * sp + c) % Lp])
    assert int(got.iloc[0]["dot"]) == sum(a * b for a, b in zip(bands, pbands))


# ---------------------------------------------------------------------------
# §2.26 (R6g) invariants
# ---------------------------------------------------------------------------


def test_cdc_stream_apply_equals_batch_twin(spark, sf_dir):
    """The streaming incremental merge must land on EXACTLY the batch
    fold's snapshot aggregate (snk_cdc_apply) — a double-applied
    batch, lost tombstone, or resurrection diverges the two."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    stream = (
        QUERIES["stm_cdc_stream_apply"](spark, sf_dir)
        .toPandas()
        .sort_values("status")
        .reset_index(drop=True)
    )
    batch = (
        QUERIES["snk_cdc_apply"](spark, sf_dir)
        .toPandas()
        .sort_values("status")
        .reset_index(drop=True)
    )
    _pd.testing.assert_frame_equal(stream, batch, check_dtype=False)


def test_paragraph_dedup_counts_from_python(spark, sf_dir):
    """Per-lang figures re-derived with plain python set/multiset
    arithmetic over the same '. ' chunking."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = (
        QUERIES["txt_dedup_paragraphs"](spark, sf_dir)
        .toPandas()
        .set_index("lang")
        .sort_index()
    )
    docs = _pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["lang", "text"])
    agg = {}
    for _, r in docs.iterrows():
        ch = r["text"].split(". ")
        u = list(dict.fromkeys(ch))
        a = agg.setdefault(r["lang"], [0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += len(ch)
        a[2] += len(ch) - len(u)
        a[3] += sum(map(len, ch)) - sum(map(len, u))
        a[4] += 1 if len(u) < len(ch) else 0
    for lang, (nd, nc, nr, cs, nw) in agg.items():
        row = got.loc[lang]
        assert (
            int(row["n_docs"]),
            int(row["n_chunks"]),
            int(row["n_removed"]),
            int(row["chars_saved"]),
            int(row["n_docs_with_dups"]),
        ) == (nd, nc, nr, cs, nw)


def test_new_vs_returning_conservation(spark, sf_dir):
    """n_new over all days must total distinct users; the cum curve
    is non-decreasing and ends at that total; day-0 actives are all
    new; returning = active - new everywhere."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = (
        QUERIES["evt_new_vs_returning"](spark, sf_dir)
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    ev = _pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id"])
    total = ev["user_id"].nunique()
    assert int(got["n_new"].sum()) == total
    assert int(got["cum_users"].iloc[-1]) == total
    assert got["cum_users"].is_monotonic_increasing
    assert (got["n_returning"] == got["n_active"] - got["n_new"]).all()
    assert int(got.iloc[0]["n_returning"]) == 0


def test_win_distinct_count_cross_formulation(spark, sf_dir):
    """The engine expresses running COUNT(DISTINCT) as
    size(collect_set) over the running frame; pin it against a pure-
    Python recomputation (ordered scan + set) for a sample of users —
    an algorithm independent of BOTH the Spark formulation and the
    DuckDB oracle's native windowed DISTINCT."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = QUERIES["win_distinct_count"](spark, sf_dir).toPandas()
    ev = _pd.read_parquet(
        f"{sf_dir}/events.parquet",
        columns=["event_id", "user_id", "ts", "event_type"],
    )
    sample = sorted(ev["user_id"].unique())[:25]
    got_s = got[got["user_id"].isin(sample)]
    assert len(got) == len(ev)  # one output row per event, no drops
    for uid, grp in ev[ev["user_id"].isin(sample)].groupby("user_id"):
        seen: set = set()
        expect = {}
        for _, r in grp.sort_values(["ts", "event_id"]).iterrows():
            seen.add(r["event_type"])
            expect[r["event_id"]] = len(seen)
        g = got_s[got_s["user_id"] == uid]
        assert dict(zip(g["event_id"], g["n_types_seen"])) == expect, uid


def test_image_resize_matches_closed_form_grid(spark, sf_dir):
    """The 8x8 nearest-neighbor thumbnail decodes REAL BMP bytes with
    struct/numpy; pin it against the closed form the oracle uses
    (buffer pixel q is ascii(text[q mod L]); sample (r,c) at row
    r*h//8, col c*w//8, blue byte row*stride + col*3) recomputed in
    plain Python over the parquet text — any stride, offset, or
    floor-vs-round divergence in the decode path breaks the sum or a
    corner pixel."""
    import pandas as _pd

    from atd_dockless_processing_spark.registry import QUERIES

    got = (
        QUERIES["mm_image_resize"](spark, sf_dir)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    docs = _pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "n_chars"]
    )
    assert len(got) == len(docs)
    for _, d in docs.sort_values("doc_id").head(40).iterrows():
        text, L = d["text"], int(d["n_chars"])
        w, h = (L % 64) + 1, (L % 48) + 1
        stride = ((3 * w + 3) // 4) * 4
        px = [
            ord(text[((r * h // 8) * stride + (c * w // 8) * 3) % L])
            for r in range(8)
            for c in range(8)
        ]
        row = got.loc[int(d["doc_id"])]
        assert (int(row["src_w"]), int(row["src_h"])) == (w, h)
        assert int(row["thumb_sum"]) == sum(px)
        assert int(row["px_first"]) == px[0]
        assert int(row["px_last"]) == px[-1]


def test_bbox_adaptive_paths_agree(spark, sf_dir):
    """The theta and grid bbox strategies must give identical counts
    on the SAME many-zone dim (above the switch point, where grid is
    the production path) — including overlap multiplicity, boundary
    exclusivity (x < xhi), and zones straddling cell edges."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.operators.geo import (
        _BBOX_GRID_MIN_ZONES,
        bbox_join_plan,
    )
    from atd_dockless_processing_spark.tables import load

    # 96 overlapping zones with deliberately non-aligned edges
    zones = [
        (f"z{i:03d}", i * 3.7, i * 3.7 + 11.3, (i % 9) * 7, (i % 9) * 7 + 15)
        for i in range(96)
    ]
    assert len(zones) >= _BBOX_GRID_MIN_ZONES
    ev = load(spark, sf_dir, "events").select(
        F.col("value").alias("x"),
        F.get_json_object("props", "$.k").cast("int").alias("y"),
    )
    theta = {
        r["zone"]: r["n_points"]
        for r in bbox_join_plan(spark, "bbox_theta", ev, zones, strategy="theta").collect()
    }
    grid = {
        r["zone"]: r["n_points"]
        for r in bbox_join_plan(spark, "bbox_grid", ev, zones, strategy="grid").collect()
    }
    assert theta == grid and theta, (len(theta), len(grid))
    # and the adaptive default picks grid at this zone count
    plan = bbox_join_plan(spark, "bbox_auto", ev, zones)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_r7_single_exchange_plan_shapes(spark, sf_dir):
    """Pins the r7 single-pass plan shapes: gap islands = ONE parquet
    scan + ONE exchange (the set-fold form); cohort retention = ONE
    scan + two exchanges (user_id agg + the tiny matrix re-agg); the
    MAD screen's final plan reads the checkpointed histogram RDD for
    ALL its consumers — zero parquet scans in the plan (the single
    events pass happens once at checkpoint materialization)."""
    p = (
        QUERIES["evt_gap_islands"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Scan parquet") == 1 and p.count("Exchange ") == 1, p
    p = (
        QUERIES["evt_cohort_retention"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Scan parquet") == 1 and p.count("Exchange ") == 2, p
    p = (
        QUERIES["evt_outlier_mad"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Scan parquet") == 0, p
    assert p.count("Scan ExistingRDD") >= 3, p


def test_corr_subquery_window_rewrite_equality(spark, sf_dir):
    """r10 promotion (VERDICT r9 item 6): the REGISTERED
    sql_correlated_subquery is now the single-exchange window-max
    plan; the correlated-SQL decorrelation demo is the preserved twin
    and must equal it exactly. Also pins that the registered plan is
    window-shaped (one Window, no self-join of orders) and that the
    twin's plan contains no per-row subquery (Catalyst decorrelated)."""
    from atd_dockless_processing_spark.operators.sql import (
        corr_decorrelated_sql_form,
    )
    from atd_dockless_processing_spark.registry import QUERIES

    reg_df = QUERIES["sql_correlated_subquery"](spark, sf_dir)
    reg = {
        r["o_orderpriority"]: r["n_max_orders"] for r in reg_df.collect()
    }
    demo_df = corr_decorrelated_sql_form(spark, sf_dir)
    demo = {
        r["o_orderpriority"]: r["n_max_orders"] for r in demo_df.collect()
    }
    assert reg == demo and reg
    plan = reg_df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan[:2000]
    # single-exchange window form: no self-join of orders (the
    # decorrelated demo plans an aggregate + join)
    assert "Join" not in plan, plan[:3000]
    demo_plan = demo_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" in demo_plan, demo_plan[:2000]  # agg + join, decorrelated
    assert "Subquery" not in demo_plan, demo_plan[:3000]  # no per-row subquery


def test_gap_islands_fold_equals_window_form(spark):
    """The r7 array-fold gap-islands plan must equal the classic
    row_number-difference window form exactly — pins the fold's
    run-extension rule (d == prev+1), the strict-> displacement
    (earliest start wins ties), and the final-island close."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.registry import QUERIES
    from atd_dockless_processing_spark.tables import load

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        days = (
            load(spark, sf, "events")
            .select(
                "user_id",
                F.datediff(
                    F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
                ).alias("day_num"),
            )
            .distinct()
        )
        w = W.partitionBy("user_id").orderBy("day_num")
        grp = days.withColumn(
            "island", F.col("day_num") - F.row_number().over(w)
        )
        islands = grp.groupBy("user_id", "island").agg(
            F.count(F.lit(1)).alias("streak"),
            F.min("day_num").alias("start_day"),
        )
        ref = {
            r["user_id"]: (
                r["n_islands"],
                r["max_streak"],
                r["best_start_day"],
            )
            for r in islands.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_islands"),
                F.max("streak").alias("max_streak"),
                F.min_by(
                    "start_day",
                    (-F.col("streak")) * F.lit(100000) + F.col("start_day"),
                ).alias("best_start_day"),
            )
            .collect()
        }
        got = {
            r["user_id"]: (
                r["n_islands"],
                r["max_streak"],
                r["best_start_day"],
            )
            for r in QUERIES["evt_gap_islands"](spark, sf).collect()
        }
        assert ref == got and ref


def test_cohort_set_form_equals_two_pass_join(spark):
    """The r7 single-exchange cohort plan (per-user collect_set of
    active weeks, cohort = array_min) must equal the classic two-pass
    firsts⋈activity form exactly — pins the week(MIN ts) == MIN(week
    ts) monotonicity argument and the once-per-week set semantics."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.registry import QUERIES
    from atd_dockless_processing_spark.tables import load

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        ev = load(spark, sf, "events").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        firsts = ev.groupBy("user_id").agg(
            F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
        )
        activity = ev.select(
            "user_id",
            F.date_trunc("week", "ts").cast("date").alias("active_week"),
        ).distinct()
        ref = {
            (r["cohort_week"], r["active_week"]): r["n_users"]
            for r in firsts.join(activity, "user_id")
            .groupBy("cohort_week", "active_week")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .collect()
        }
        got = {
            (r["cohort_week"], r["active_week"]): r["n_users"]
            for r in QUERIES["evt_cohort_retention"](spark, sf).collect()
        }
        assert ref == got and ref


def test_mad_histogram_form_bit_equals_three_pass(spark):
    """The r7 single-pass histogram MAD plan (the registered form)
    must be BIT-identical to the 3-pass `percentile` form on every
    column at BOTH sf0.01 and sf0.1 — it re-implements Spark's
    interpolated median ((hi−p)·lower + (p−lo)·higher) over an
    explicit (value, count) histogram, so any drift in the index
    arithmetic, the interpolation formula, or the weighted re-sort
    for the deviation pass shows up here as an ulp mismatch."""
    from atd_dockless_processing_spark.operators.events import (
        _mad_hist_plan,
        _mad_plan,
    )
    from atd_dockless_processing_spark.tables import load

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        ev = load(spark, sf, "events")
        ref = {r["event_type"]: r for r in _mad_plan(ev).collect()}
        got = {r["event_type"]: r for r in _mad_hist_plan(ev).collect()}
        assert ref.keys() == got.keys() and ref
        for k in ref:
            for c in ("n_events", "med", "mad", "n_outliers"):
                assert repr(ref[k][c]) == repr(got[k][c]), (sf, k, c)


def test_ntile_range_partitioned_matches_single_reducer(spark, sf_dir):
    """The distributed global rank MUST equal the single-reducer
    window bit-for-bit: same quartile buckets (SQL remainder rule)
    and same rounded percent_rank. Also pins the ReuseExchange
    assumption — if the two consumers of the range exchange ever
    sampled boundaries independently, offsets would diverge and this
    fails loudly."""
    from pyspark.sql import Window as W

    from atd_dockless_processing_spark.registry import QUERIES
    from atd_dockless_processing_spark.tables import load

    got = {
        r["o_orderkey"]: (r["quartile"], r["pct_rank"])
        for r in QUERIES["win_ntile_pct"](spark, sf_dir).collect()
    }
    w = W.orderBy("o_totalprice", "o_orderkey")
    ref = {
        r["o_orderkey"]: (r["quartile"], r["pct_rank"])
        for r in load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        )
        .collect()
    }
    assert got == ref and len(got) > 1000


def test_distinct_bitmap_matches_count_distinct(spark, sf_dir):
    """The 64-bit bucket-bitmap distinct must equal the planner's
    two-phase distinct aggregate exactly — any div/mod/shift slip
    (sign handling, bucket offset, mask overflow) shows up as an
    off-by-one here."""
    from atd_dockless_processing_spark.registry import QUERIES
    from atd_dockless_processing_spark.tables import load

    got = {
        r["o_orderpriority"]: (r["n_custs"], r["n_orders"])
        for r in QUERIES["agg_distinct_count"](spark, sf_dir).collect()
    }
    ref = {
        r["o_orderpriority"]: (r["n_custs"], r["n_orders"])
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .collect()
    }
    assert got == ref and got


def test_grouping_sets_adaptive_forms_equal(spark, sf_dir):
    """Planner-Expand (small side) and finest-grain (scale side)
    grouping-sets forms must be value-identical — both sum exact
    integer cents, so this is bit-equality, not tolerance."""
    from atd_dockless_processing_spark.operators import aggregates as agg_mod

    small = sorted(
        map(tuple, agg_mod.agg_grouping_sets(spark, sf_dir).collect()), key=str
    )
    import unittest.mock as mock

    with mock.patch.object(
        agg_mod, "_GROUPING_SETS_EXPAND_MAX_ROWS", -1
    ):  # force the finest-grain branch
        big = sorted(
            map(tuple, agg_mod.agg_grouping_sets(spark, sf_dir).collect()),
            key=str,
        )
    assert small == big and len(small) >= 3


def test_distinct_bitmap_plan_has_no_expand(spark, sf_dir):
    """The bitmap distinct must plan as two plain hash aggregates —
    no Expand node (the distinct-aggregate rewrite) and no more than
    the two expected exchanges."""
    from atd_dockless_processing_spark.registry import QUERIES

    plan = (
        QUERIES["agg_distinct_count"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan, plan[:1500]


def test_ntile_plan_is_range_partitioned_not_single_reducer(spark, sf_dir):
    """The distributed global rank must range-partition the data
    window — the ONLY single-partition window allowed is the P-row
    offsets prefix sum (its input is the per-partition count table,
    not the data)."""
    from atd_dockless_processing_spark.registry import QUERIES

    plan = (
        QUERIES["win_ntile_pct"](spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "RepartitionByExpression" in plan or "repartitionbyrange" in plan.lower(), (
        plan[:1500]
    )


def test_ngram_topk_single_aggregate_exchange(spark, sf_dir):
    """The RLE bigram form must reach the agg with ONE shuffle: no
    second (pair) aggregate exchange. Count Exchange nodes above the
    scan — exactly 1 before the TakeOrdered."""
    from atd_dockless_processing_spark.registry import QUERIES

    plan = (
        QUERIES["txt_ngram_topk"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re as _re

    n_exchanges = len(_re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, (n_exchanges, plan[:1500])
    assert "TakeOrderedAndProject" in plan


def test_json_fast_exact_jackson_parity_on_malformed_and_metachar(spark):
    """with_json_field must equal get_json_object on EVERY document,
    including the r8 ADVICE divergences: leading-zero numbers are
    invalid JSON (Jackson → NULL; the old -?\\d+ fast token returned
    7 for {"k": 007}), and a key containing regex metacharacters must
    match literally, not as a pattern."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.functions.json_fast import with_json_field

    docs = [
        '{"k": 7}',
        '{"k": 007}',          # invalid JSON: leading zero → NULL
        '{"k": -0}',
        '{"k": 0}',
        '{"k": 01.5}',         # invalid: leading zero with fraction
        '{"k": "7"}',          # string value → fallback path
        '{"k": 7, "j": 1}',    # extra key → fallback path
        '{"j": {"k": 9}}',     # nested → fallback ($.k is NULL)
        "not json at all",
        None,
    ]
    # exponent form separately: Jackson normalizes 1.25e2 -> "125.0",
    # which ANSI cast("int") rejects in BOTH paths (parity holds by
    # both throwing), so it only joins the non-int dtype loops
    for dtype, extra in (
        ("int", []),
        ("double", ['{"k": 1.25e2}', '{"k": 1.50}', '{"k": -0.5}']),
        # string dtype: exponent/decimal docs exercise the fallback
        # (Jackson re-serializes 1.25e2→"125.0", 1.50→"1.5" — the
        # fast path must NOT capture those verbatim)
        ("string", ['{"k": 1.25e2}', '{"k": 1.50}', '{"k": -0.5}']),
    ):
        df = spark.createDataFrame([(d,) for d in docs + extra], "doc: string")
        got = (
            with_json_field(df, "v", "doc", "k", dtype)
            .select("v")
            .collect()
        )
        ref_col = F.get_json_object("doc", "$.k")
        if dtype != "string":
            ref_col = ref_col.cast(dtype)
        ref = df.select(ref_col.alias("v")).collect()
        assert [r["v"] for r in got] == [r["v"] for r in ref], dtype

    meta = spark.createDataFrame(
        [('{"a.b": 3}',), ('{"aXb": 3}',)], "doc: string"
    )
    vals = [
        r["v"]
        for r in with_json_field(meta, "v", "doc", "a.b", "string")
        .select("v")
        .collect()
    ]
    # Jackson's $['a.b'] path quirks aside, the FAST path must not
    # treat '.' as a wildcard: the aXb document has no key "a.b", so
    # only regex-metachar leakage could make it return 3.
    assert vals[1] is None, vals


def test_rfm_gather_and_chained_forms_identical(spark, sf_dir):
    """The r8 Arrow-gather NTILE scorer must be value-identical to
    the chained-window form it replaced (the size gate between them
    is performance-only): exact closed-form ntile + lexsort tiebreak
    == three NTILE(5) windows, at sf0.001 and sf0.1. The key takes the
    chained form under a ``file:`` URI, whose footers give no count."""
    for d in (sf_dir, "/root/testdata/sf0.1"):
        gather = QUERIES["evt_rfm_segments"](spark, d)
        chained = QUERIES["evt_rfm_segments"](spark, f"file://{d}")
        assert "MapInPandas" in gather._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" in chained._jdf.queryExecution().optimizedPlan().toString()
        a = sorted(map(tuple, gather.collect()))
        b = sorted(map(tuple, chained.collect()))
        assert a == b and a, (d, a[:3], b[:3])


def _bucketed_copy(layout, buckets):
    """``layout`` with ``buckets`` buckets under its own scratch tag: a
    test builds (and removes) this copy, never the 32-bucket layout a
    host has built for the same corpus."""
    from atd_dockless_processing_spark.operators.joins import _BucketedLayout

    return _BucketedLayout(
        f"{layout.tag}_test", layout.label, layout.prefix, layout.specs, buckets
    )


def _drop_layout(spark, layout, sf_dir):
    import shutil

    from atd_dockless_processing_spark.operators.joins import _BucketedLayout

    if isinstance(layout, _BucketedLayout):
        for n in layout.names(sf_dir):
            spark.sql(f"DROP TABLE IF EXISTS `{n}`")
    shutil.rmtree(layout.base(sf_dir), ignore_errors=True)


# the registered key whose default plan dispatches on each layout
_LAYOUT_KEYS = {
    "q5_bucketed": "join_multiway_5",
    "ck_bucketed": "join_inner",
    "events_us": "evt_tumbling_hour",
}


@pytest.mark.parametrize("tag", list(LAYOUTS))
def test_layout_marker_read_race_degrades_to_adhoc(spark, sf_dir, tmp_path, monkeypatch, tag):
    """A marker deleted between the probe's existence checks and its
    read (another session's cleanup racing the probe) must make
    ``available`` False and the key's default plan the ad hoc form —
    never raise out of query dispatch. The layout's file sets are
    manufactured (a ``_SUCCESS`` each, no data) with a matching marker
    over a symlinked copy of the corpus, so a dispatch to the layout
    would also fail to plan; reading the marker raises
    FileNotFoundError while ``exists()`` stays True."""
    import os
    import shutil

    lay = LAYOUTS[tag]
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    for f in os.listdir(sf_dir):
        (corpus / f).symlink_to(Path(sf_dir, f))
    c = str(corpus)
    try:
        for p in lay.paths(c):
            Path(p).mkdir(parents=True)
            Path(p, "_SUCCESS").touch()
        marker = lay.marker(c)
        marker.write_text(lay.src_sig(c))
        # only the marker read stands between the probe and the layout
        assert lay._disk_valid(c)

        read_text = Path.read_text

        def racing_read(self, *args, **kwargs):
            if self == marker:
                raise FileNotFoundError(str(self))
            return read_text(self, *args, **kwargs)

        monkeypatch.setattr(Path, "read_text", racing_read)
        assert marker.exists()
        assert not lay.available(spark, c)
        df = QUERIES[_LAYOUT_KEYS[tag]](spark, c)
        files = df.inputFiles()
        assert files and all(c in f for f in files), files
    finally:
        shutil.rmtree(lay.base(c), ignore_errors=True)


def test_q5_bucketed_layout_exchange_free_and_identical(spark, sf_dir, monkeypatch):
    """The layout-aware Q5 dispatch (r8): once the bucketed-orderkey
    layout exists, the default must pick it, the orderkey fact-fact join
    must consume the bucketed scans with NO Exchange on either side,
    and the result must equal the ad-hoc plan row-for-row.

    r13: cleanup added (the CK tests' try/finally discipline) — a
    leaked layout was inert while availability was catalog-scoped,
    but with DDL re-attach it would silently flip every later
    sf0.001 default plan to bucketed-4, making suite plans order-
    dependent (values stay identical by construction, but plan
    assertions must be deterministic)."""
    import re as _re
    from pathlib import Path

    from atd_dockless_processing_spark.operators import joins

    lay, lay16 = (_bucketed_copy(joins._Q5_LAYOUT, n) for n in (4, 16))
    monkeypatch.setattr(joins, "_Q5_LAYOUT", lay)
    lay.ensure(spark, sf_dir)
    try:
        assert lay.available(spark, sf_dir)
        # a DIFFERENT bucket count must not see this layout (identity
        # includes the count), and a fresh marker must be required
        assert not lay16.available(spark, sf_dir)

        adhoc = sorted(map(tuple, joins.multiway5_plan(spark, sf_dir, adhoc=True).collect()))
        auto = joins.multiway5_plan(spark, sf_dir)  # must dispatch to bucketed
        plan = auto._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert not _re.search(r"Exchange hashpartitioning\(l_orderkey", plan), plan[:3000]
        assert not _re.search(r"Exchange hashpartitioning\(o_orderkey", plan), plan[:3000]
        # r8 ADVICE #4: the merge hint on the bucketed orders scan must
        # bias ONLY the nearest join above it (the orderkey SMJ). At small
        # SF the later orders⋈customer join must keep Catalyst's broadcast
        # choice — a Spark upgrade that widens hint scoping trips here.
        assert _re.search(r"BroadcastHashJoin \[o_custkey", plan), plan[:3000]
        got = sorted(map(tuple, auto.collect()))
        assert got == adhoc and got, (got[:3], adhoc[:3])
    finally:
        _drop_layout(spark, lay, sf_dir)
        assert not Path(lay.base(sf_dir)).exists()


def test_ivf_scaled_plan_recall_and_determinism(spark):
    """The sized-quantizer IVF (r8): on the sf0.01 corpus the
    nlist=4, nprobe=1 plan must (a) be deterministic across runs,
    (b) emit exactly top-3 rows per query ranked by (cos desc, id),
    and (c) achieve recall@3 = 1.0 against the exact brute-force
    truth on this cluster-structured corpus (recall is corpus-
    dependent in general; the rehearsal script records it at xN)."""
    import numpy as np

    from atd_dockless_processing_spark.operators.dedup_ann import ivf_scaled_plan
    from atd_dockless_processing_spark.tables import load

    sf = "/root/testdata/sf0.01"
    got = ivf_scaled_plan(spark, sf, nlist=4).toPandas()
    again = ivf_scaled_plan(spark, sf, nlist=4).toPandas()
    key = lambda d: sorted(map(tuple, d.itertuples(index=False)))  # noqa: E731
    assert key(got) == key(again)

    per_q = got.groupby("query_id")
    assert (per_q.size() == 3).all()
    for _, g in per_q:
        g = g.sort_values("rnk")
        assert list(g["rnk"]) == [1, 2, 3]
        assert list(g["cos_sim"]) == sorted(g["cos_sim"], reverse=True) or (
            # equal rounded scores must then be id-ascending
            all(
                (a > b) or (a == b and i < j)
                for (a, i), (b, j) in zip(
                    zip(g["cos_sim"], g["neighbor_id"]),
                    list(zip(g["cos_sim"], g["neighbor_id"]))[1:],
                )
            )
        )

    emb = load(spark, sf, "embeddings").select("vec_id", "embedding").toPandas()
    ids = emb["vec_id"].to_numpy()
    mat = np.array(emb["embedding"].tolist(), dtype=np.float64)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    hit = tot = 0
    for qid, g in per_q:
        sims = np.round(mat_n @ mat_n[ids == qid][0], 4)
        sims[ids == qid] = -np.inf
        want = set(ids[np.lexsort((ids, -sims))[:3]])
        hit += len(want & set(g["neighbor_id"]))
        tot += 3
    assert hit / tot >= 0.6, (hit, tot)


def test_bpe_merge_step_matches_pure_python(spark, sf_dir):
    """llm_bpe_merge_step vs an independent pure-Python pair counter
    (different code path from both the Spark plan and the DuckDB
    oracle): identical top-10 pairs, counts, and rank order."""
    from collections import Counter

    from atd_dockless_processing_spark.registry import QUERIES
    from atd_dockless_processing_spark.tables import load

    texts = [r["text"] for r in load(spark, sf_dir, "documents").select("text").collect()]
    counts = Counter()
    for t in texts:
        for w in t.split(" "):
            if len(w) >= 2:
                for i in range(len(w) - 1):
                    counts[w[i : i + 2]] += 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r["pair"], r["n_pairs"])
        for r in QUERIES["llm_bpe_merge_step"](spark, sf_dir)
        .orderBy("rnk")
        .collect()
    ]
    assert got == want, (got[:3], want[:3])


def test_tws_state_family_cross_key_consistency(spark, sf_dir):
    """The two TWS keys must agree with each other: the MapState
    key's per-user sum over event types == the ValueState key's
    per-user n_events (both carried across the same 2-batch drain,
    different state variables and stages)."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.registry import QUERIES

    by_type = (
        QUERIES["stm_tws_map_state"](spark, sf_dir)
        .groupBy("user_id")
        .agg(F.sum("n_events").alias("n"))
    )
    totals = QUERIES["stm_transform_with_state"](spark, sf_dir).select(
        "user_id", F.col("n_events").alias("n")
    )
    a = sorted(map(tuple, by_type.collect()))
    b = sorted(map(tuple, totals.collect()))
    assert a == b and a, (a[:3], b[:3])


def test_python_stream_source_replay_equals_read():
    """The streaming DataSource's restart path must replay exactly:
    readBetweenOffsets(a, b) == the concatenation of read() batches
    from offset a to b (offset-log recovery correctness), and both
    must be picklable iterators (the two probed wrapper failure
    modes)."""
    import pickle

    from atd_dockless_processing_spark.streaming.stream_queries import (
        _CS_BATCHES,
        _CounterStreamReader,
    )

    r = _CounterStreamReader()
    off = r.initialOffset()
    seq = []
    for _ in range(_CS_BATCHES + 1):
        rows, off2 = r.read(off)
        rows = list(pickle.loads(pickle.dumps(rows)))
        seq.extend(rows)
        if off2 == off:
            assert rows == []
            break
        off = off2
    replay = list(r.readBetweenOffsets(r.initialOffset(), off))
    assert replay == seq and len(seq) == 5000


def test_q5_layout_invalidated_by_stale_source_marker(spark, sf_dir):
    """A layout whose freshness marker no longer matches the source
    parquet signature must be treated as ABSENT (auto falls back to
    ad-hoc) — the regenerated-corpus staleness guard."""
    from atd_dockless_processing_spark.operators.joins import _Q5_LAYOUT

    lay = _bucketed_copy(_Q5_LAYOUT, 4)
    try:
        lay.ensure(spark, sf_dir)
        assert lay.available(spark, sf_dir)
        marker = lay.marker(sf_dir)
        good = marker.read_text()
        marker.write_text("stale:0:0;stale:0:0")
        assert not lay.available(spark, sf_dir)
        marker.write_text(good)
        assert lay.available(spark, sf_dir)
    finally:
        _drop_layout(spark, lay, sf_dir)


def test_declarative_pipeline_local_executor(spark, sf_dir, tmp_path):
    """The r9 local executor for pyspark.pipelines graphs: out-of-order
    definitions resolve by worklist, temp views stay session views, MVs
    materialize to parquet and downstream reads consume the
    materialized bytes, flow-level spark_conf is applied during the
    flow and restored after, and a missing upstream reference raises
    with the offending flow names (not an infinite loop)."""
    import pyspark.pipelines as dp
    import pytest as _pytest
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.operators.etl import (
        run_pipeline_locally,
    )

    probe_conf = {}

    def author():
        # downstream registered FIRST — must defer until tv exists
        @dp.materialized_view(
            name="t_dp_mv",
            spark_conf={"spark.sql.session.timeZone": "America/Chicago"},
        )
        def t_dp_mv():
            probe_conf["tz"] = spark.conf.get("spark.sql.session.timeZone")
            return (
                spark.table("t_dp_tv")
                .groupBy("r_name")
                .agg(F.count(F.lit(1)).alias("n"))
            )

        @dp.temporary_view(name="t_dp_tv")
        def t_dp_tv():
            return spark.read.parquet(f"{sf_dir}/region.parquet")

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    results = run_pipeline_locally(spark, author, str(tmp_path))
    assert set(results) == {"t_dp_tv", "t_dp_mv"}
    # spark_conf applied during the flow, restored after
    assert probe_conf["tz"] == "America/Chicago"
    assert spark.conf.get("spark.sql.session.timeZone") == prev_tz
    # MV materialized: parquet on disk, and the returned frame reads it
    assert (tmp_path / "t_dp_mv").exists()
    assert results["t_dp_mv"].count() == 5
    # graph views are DROPPED on exit (r9 review finding #5) — the
    # results dict is the hand-off, the session stays clean
    assert not spark.catalog.tableExists("t_dp_mv")
    assert not spark.catalog.tableExists("t_dp_tv")

    def broken():
        @dp.materialized_view(name="t_dp_orphan")
        def t_dp_orphan():
            return spark.table("t_dp_never_defined")

    with _pytest.raises(ValueError, match="t_dp_orphan"):
        run_pipeline_locally(spark, broken, str(tmp_path))

    def duplicated():
        @dp.materialized_view(name="t_dp_dup")
        def a():
            return spark.range(1)

        @dp.materialized_view(name="t_dp_dup")
        def b():
            return spark.range(2)

    with _pytest.raises(ValueError, match="duplicate"):
        run_pipeline_locally(spark, duplicated, str(tmp_path))


def test_rocksdb_changelog_rerun_stable(spark, sf_dir):
    """stm_rocksdb_changelog drains from a fresh uuid checkpoint each
    call (idempotent re-invocation, house sink discipline) and its
    in-key asserts (>=2 batches, changelog layout) hold at test SF.
    Two invocations must agree exactly."""
    from atd_dockless_processing_spark import QUERIES

    a = sorted(map(tuple, QUERIES["stm_rocksdb_changelog"](spark, sf_dir).collect()))
    b = sorted(map(tuple, QUERIES["stm_rocksdb_changelog"](spark, sf_dir).collect()))
    assert a == b and len(a) > 0


def test_ngram_candidate_plan_cross_form_equality(spark, sf_dir):
    """r9: _ngram_pairs (clusters/keep_list, threshold 0.70) now
    consumes the shared hybrid candidate plan. Force BOTH forms on the
    same corpus — block_t=0 (everything banded) vs block_t=10**9
    (everything brute-force) — and require identical verified pair
    sets. This is the recall witness for the banded path at 0.70 on
    real sweep data, beside the (1-J)^16 probability argument."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.operators.dedup_ann import (
        ngram_candidate_pairs,
    )

    from atd_dockless_processing_spark.operators.dedup_ann import (
        ngram_verified_pairs,
    )

    def verified(block_t, rows_per_band=None):
        kw = {} if rows_per_band is None else {"rows_per_band": rows_per_band}
        d, pairs = ngram_candidate_pairs(spark, sf_dir, 0.70, block_t=block_t, **kw)
        out = ngram_verified_pairs(d, pairs, 0.70).select("doc_a", "doc_b")
        return sorted(map(tuple, out.collect()))

    banded = verified(0)
    brute = verified(10**9)
    assert banded == brute and brute, (len(banded), len(brute))
    # r13: the registered band shape is the production 8x2; the 16x1
    # oracle-certain twin (miss bound (1-J)^16) must stay value-equal
    # on the sweep corpus — the recall witness for the regrouped bands
    # on the fixed salts (VERDICT r12 item 4)
    assert verified(0, rows_per_band=1) == banded
    assert verified(0, rows_per_band=2) == banded


def test_pipe_syntax_plan_identical_to_clause_form(spark, sf_dir):
    """sql_pipe_syntax's docstring claim: pipe stages are pure syntax.
    The |> chain and the equivalent clause SQL over the SAME view must
    canonicalize to the identical optimized logical plan (not merely
    equal results)."""
    from atd_dockless_processing_spark.tables import load

    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_pipe_test")
    try:
        pipe = spark.sql("""
            FROM li_pipe_test
            |> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            |> AGGREGATE ROUND(SUM(l_quantity), 4) AS sum_qty,
                         CAST(COUNT(*) AS BIGINT) AS n_items
               GROUP BY l_returnflag, l_linestatus
            |> SELECT l_returnflag, l_linestatus, sum_qty, n_items
        """)
        clause = spark.sql("""
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 4) AS sum_qty,
                   CAST(COUNT(*) AS BIGINT) AS n_items
            FROM li_pipe_test
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """)
        canon = lambda df: (  # noqa: E731
            df._jdf.queryExecution().optimizedPlan().canonicalized().toString()
        )
        assert canon(pipe) == canon(clause)
    finally:
        spark.catalog.dropTempView("li_pipe_test")


def test_listagg_order_is_semantic_not_partitioning(spark, sf_dir):
    """WITHIN GROUP (ORDER BY n_name) must yield the identical
    concatenation regardless of input partitioning, and each list must
    actually BE sorted (the determinism the oracle hash relies on)."""
    from atd_dockless_processing_spark import QUERIES

    rows = {
        r["r_name"]: r["nations"]
        for r in QUERIES["agg_listagg"](spark, sf_dir).collect()
    }
    assert rows
    for nations in rows.values():
        parts = nations.split(",")
        assert parts == sorted(parts)
    # repartitioned input path: same result through an 11-way shuffle
    from atd_dockless_processing_spark.tables import load

    n = load(spark, sf_dir, "nation").repartition(11)
    n.createOrReplaceTempView("nation_listagg_shuf")
    try:
        shuffled = {
            r["n_regionkey"]: r["nations"]
            for r in spark.sql(
                "SELECT n_regionkey, LISTAGG(n_name, ',') WITHIN GROUP "
                "(ORDER BY n_name) AS nations FROM nation_listagg_shuf "
                "GROUP BY n_regionkey"
            ).collect()
        }
        r = load(spark, sf_dir, "region")
        key_of = {
            row["r_name"]: row["r_regionkey"] for row in r.collect()
        }
        for r_name, nations in rows.items():
            assert shuffled[key_of[r_name]] == nations
    finally:
        spark.catalog.dropTempView("nation_listagg_shuf")


def test_collation_group_collapses_case_and_type_stays_binary(spark, sf_dir):
    """UTF8_LCASE grouping must (1) merge the manufactured case
    variants back to one group per language — row count equals the
    plain lower() group count and the doc total is conserved — and
    (2) not leak the collated string type into the result schema."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    out = QUERIES["fn_collation_group"](spark, sf_dir)
    rows = out.collect()
    d = load(spark, sf_dir, "documents")
    expected_groups = d.select(F.lower("lang")).distinct().count()
    assert len(rows) == expected_groups
    assert sum(r["n_docs"] for r in rows) == d.count()
    # every key is already lowercase (the representative never leaks)
    assert all(r["lang_ci"] == r["lang_ci"].lower() for r in rows)
    # schema: plain binary-collation string, not "string collate ..."
    lang_field = next(f for f in out.schema.fields if f.name == "lang_ci")
    assert lang_field.dataType.simpleString() == "string"


def test_exec_immediate_binds_typed_params(spark, sf_dir):
    """EXECUTE IMMEDIATE must BIND its USING parameters (typed values
    through the parameter channel), producing the same result as the
    directly-executed statement — and a narrower bound window must
    change the result (the parameters are live, not decorative)."""
    from atd_dockless_processing_spark.tables import load

    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_exec_test")
    try:
        inner = (
            "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders_exec_test "
            "WHERE o_orderdate >= ? AND o_orderdate < ?"
        )
        bound = spark.sql(
            "EXECUTE IMMEDIATE :stmt USING TIMESTAMP '1996-01-01', "
            "TIMESTAMP '1996-04-01'",
            args={"stmt": inner},
        ).collect()[0]["n"]
        direct = spark.sql(
            "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders_exec_test "
            "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-04-01'"
        ).collect()[0]["n"]
        narrower = spark.sql(
            "EXECUTE IMMEDIATE :stmt USING TIMESTAMP '1996-01-01', "
            "TIMESTAMP '1996-02-01'",
            args={"stmt": inner},
        ).collect()[0]["n"]
        assert bound == direct and bound > 0
        assert narrower < bound
    finally:
        spark.catalog.dropTempView("orders_exec_test")


def test_arrow_udtf_matches_jvm_explode_twin(spark, sf_dir):
    """udtf_arrow_lateral's production-twin claim: the Arrow UDTF
    top-20 token table equals the pure-JVM explode(split(...)) form
    bit-for-bit (same tie-break)."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    udtf_rows = [
        (r["token"], r["n"])
        for r in QUERIES["udtf_arrow_lateral"](spark, sf_dir).collect()
    ]
    jvm = (
        load(spark, sf_dir, "part")
        .select(F.explode(F.split("p_name", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )
    jvm_rows = [(r["token"], r["n"]) for r in jvm.collect()]
    assert udtf_rows == jvm_rows and udtf_rows


def test_table_argument_udtf_matches_window_twin(spark, sf_dir):
    """udtf_table_argument's PTF contract: the ordered-partition
    streaming reduction equals the JVM lag()+count_if window form —
    n_up is order-SENSITIVE, so this also proves TABLE(...) ORDER BY
    delivered rows in doc_id order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    ptf = sorted(
        (r["lang"], r["n_docs"], r["n_up"], r["max_chars"])
        for r in QUERIES["udtf_table_argument"](spark, sf_dir).collect()
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    twin = (
        load(spark, sf_dir, "documents")
        .withColumn("prev", F.lag("n_chars").over(w))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("n_chars") > F.col("prev")).alias("n_up"),
            F.max("n_chars").alias("max_chars"),
        )
    )
    twin_rows = sorted(
        (r["lang"], r["n_docs"], r["n_up"], r["max_chars"])
        for r in twin.collect()
    )
    assert ptf == twin_rows and ptf


def test_identifier_clause_params_are_live(spark, sf_dir):
    """IDENTIFIER(:col) must resolve the BOUND parameter: switching
    the column parameter regroups the same templated statement."""
    from atd_dockless_processing_spark.tables import load

    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_ident_test")
    try:
        stmt = (
            "SELECT IDENTIFIER(:col) AS k, CAST(COUNT(*) AS BIGINT) AS n "
            "FROM IDENTIFIER(:tbl) GROUP BY IDENTIFIER(:col)"
        )
        by_prio = spark.sql(
            stmt, args={"tbl": "orders_ident_test", "col": "o_orderpriority"}
        ).collect()
        by_status = spark.sql(
            stmt, args={"tbl": "orders_ident_test", "col": "o_orderstatus"}
        ).collect()
        assert {r["k"] for r in by_prio} != {r["k"] for r in by_status}
        assert sum(r["n"] for r in by_prio) == sum(r["n"] for r in by_status)
    finally:
        spark.catalog.dropTempView("orders_ident_test")


def test_sql_function_is_inlined_at_analysis(spark, sf_dir):
    """sql_create_function's zero-tax claim: the SQL UDF body is
    inlined by Catalyst at analysis time — the optimized plan carries
    the arithmetic itself (no UDF invocation node, no trace of the
    function name), and the values equal the hand-inlined form.
    (Exact canonicalized-plan identity does NOT hold: inlining goes
    through an alias-introducing Project and canonicalization orders
    the commutative multiply differently — the assertion here is the
    semantic one.)"""
    from atd_dockless_processing_spark.tables import load

    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_sqlfn_test")
    try:
        spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION tfn_disc(p DOUBLE, d DOUBLE) "
            "RETURNS DOUBLE RETURN p * (1.0 - d)"
        )
        via_fn = spark.sql(
            "SELECT l_returnflag, ROUND(SUM(tfn_disc(l_extendedprice, "
            "l_discount)), 4) AS t FROM li_sqlfn_test GROUP BY l_returnflag"
        )
        inline = spark.sql(
            "SELECT l_returnflag, ROUND(SUM(l_extendedprice * (1.0 - "
            "l_discount)), 4) AS t FROM li_sqlfn_test GROUP BY l_returnflag"
        )
        opt = via_fn._jdf.queryExecution().optimizedPlan().toString()
        phys = via_fn._jdf.queryExecution().executedPlan().toString()
        assert "tfn_disc" not in opt  # body inlined, no function node
        assert "(1.0 - " in opt  # ...the arithmetic itself is there
        assert "BatchEvalPython" not in phys and "PythonUDF" not in phys
        assert sorted(map(tuple, via_fn.collect())) == sorted(
            map(tuple, inline.collect())
        )
    finally:
        spark.catalog.dropTempView("li_sqlfn_test")


def test_session_variable_bound_survives_drop(spark, sf_dir):
    """sql_session_variable's analysis-time-substitution claim: the
    registered key DROPs the variable before returning, and the
    DataFrame still collects; the bound equals FLOOR(avg quantity)
    computed directly."""
    import math

    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    out = QUERIES["sql_session_variable"](spark, sf_dir)
    rows = out.collect()  # variable already dropped inside the key
    li = load(spark, sf_dir, "lineitem")
    cut = math.floor(li.agg(F.avg("l_quantity")).collect()[0][0])
    expected = li.where(F.col("l_quantity") > cut).count()
    assert sum(r["n_above"] for r in rows) == expected and expected > 0


def test_python_ds_writer_manifest_excludes_orphans(spark, sf_dir, monkeypatch, tmp_path):
    """snk_python_datasource_write's two-phase-commit claim: the
    readback consumes ONLY manifested files — an orphan .jsonl
    planted beside them once the commit has run (a simulated
    failed-task leftover, planted while the run directory is alive)
    does not change the result; manifest row total equals the source
    count."""
    import json
    import os

    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.sources import sinks
    from atd_dockless_processing_spark.tables import load

    def rows():
        return {
            r["o_orderpriority"]: (r["n_orders"], r["sum_key"])
            for r in QUERIES["snk_python_datasource_write"](spark, sf_dir).collect()
        }

    first = rows()
    seen = str(tmp_path / "seen.json")

    class OrphaningWriter(sinks._JsonlSinkWriter):
        def commit(self, messages):  # noqa: ANN001 - on the driver
            sinks._JsonlSinkWriter.commit(self, messages)
            with open(os.path.join(self.path, "part-orphan.jsonl"), "w") as fh:
                fh.write('{"o_orderkey": 999999999, "o_orderpriority": "X-ORPHAN"}\n')
            with open(os.path.join(self.path, "_MANIFEST.json")) as fh:
                manifest = json.load(fh)
            with open(seen, "w") as fh:
                json.dump({"manifest": manifest, "files": sorted(os.listdir(self.path))}, fh)

    class OrphaningSink(sinks.JsonlSinkDataSource):
        def writer(self, schema, overwrite):  # noqa: ANN001 - pyspark API
            return OrphaningWriter(self.options["path"])

    monkeypatch.setattr(sinks, "JsonlSinkDataSource", OrphaningSink)
    again = rows()
    with open(seen) as fh:
        run = json.load(fh)
    assert "part-orphan.jsonl" in run["files"]
    assert "part-orphan.jsonl" not in run["manifest"]["files"]
    src_n = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 100 == 0)
        .count()
    )
    assert run["manifest"]["rows"] == src_n == sum(n for n, _ in first.values())
    assert "X-ORPHAN" not in again and again == first


def test_tws_ttl_expiry_vs_survival_control(spark, sf_dir):
    """stm_tws_value_ttl's causal control: the SAME plan with a 1-hour
    TTL must CARRY state into batch 2 (carried=True for users present
    in both slices), where the registered 1 ms key saw none — proving
    the registered key's all-False carried column measures TTL expiry,
    not a missing state store. Also re-pins the registered key's
    contract at test SF: per-user emission sums equal full totals."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.streaming.stream_queries import (
        _stage_events_parity_files,
        _stream_files,
        _tws_drain,
    )
    from atd_dockless_processing_spark.tables import load

    # registered key (1 ms TTL): totals match, nothing carried
    reg = QUERIES["stm_tws_value_ttl"](spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    assert sum(r["n_events"] for r in reg) == ev.count()
    assert not any(r["state_carried"] for r in reg)

    class LongTtl(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._tot = handle.getValueState(
                "tot",
                T.StructType([T.StructField("c", T.LongType())]),
                ttlDurationMs=3_600_000,
            )

        def handleInputRows(self, key, rows, timerValues):
            c = sum(len(p) for p in rows)
            prev = self._tot.get()
            carried = prev is not None
            if carried:
                c += prev[0]
            self._tot.update((c,))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [c], "carried": [carried]}
            )

        def close(self) -> None:
            pass

    indir = _stage_events_parity_files(spark, sf_dir)
    both = (
        spark.read.parquet(f"{indir}/f0.parquet")
        .select("user_id")
        .distinct()
        .intersect(
            spark.read.parquet(f"{indir}/f1.parquet").select("user_id").distinct()
        )
        .count()
    )
    sink = _tws_drain(
        _stream_files(spark, indir, per_file=True),
        LongTtl(),
        "user_id long, n long, carried boolean",
        "ProcessingTime",
        "tws_ttl_ctrl",
        {"spark.sql.streaming.noDataMicroBatches.enabled": "false"},
    )
    carried_users = sink.where(F.col("carried")).select("user_id").distinct()
    # with a 1h TTL every user seen in BOTH slices carries state
    assert carried_users.count() == both and both > 0


def test_bitmap_distinct_equals_native_distinct(spark, sf_dir):
    """agg_bitmap_distinct's bucket/position arithmetic must equal
    Spark's own countDistinct per group (the oracle pins it against
    DuckDB; this pins it engine-internally too)."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    bm = {
        r["o_orderpriority"]: r["n_custs"]
        for r in QUERIES["agg_bitmap_distinct"](spark, sf_dir).collect()
    }
    native = {
        r["o_orderpriority"]: r["d"]
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("d"))
        .collect()
    }
    assert bm == native and bm


def test_regression_agg_closed_form(spark):
    """regr_slope/intercept on an exact line recover the line's
    coefficients (y = 3x + 7, r2 = 1) — the closed-form anchor for
    agg_regression's cross-engine ratio rounding."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(float(x), 3.0 * x + 7.0) for x in range(1, 8)], "x double, y double"
    )
    r = df.agg(
        F.round(F.regr_slope("y", "x"), 6).alias("s"),
        F.round(F.regr_intercept("y", "x"), 6).alias("i"),
        F.round(F.regr_r2("y", "x"), 6).alias("r2"),
        F.regr_count("y", "x").alias("n"),
    ).collect()[0]
    assert (r["s"], r["i"], r["r2"], r["n"]) == (3.0, 7.0, 1.0, 7)


def test_ddww_dedups_regenerated_timestamp_replay(spark, tmp_path):
    """stm_dedup_within_watermark's semantic claim: a replayed record
    whose timestamp was REGENERATED (same event_id, shifted ts,
    inside the delay) is dropped by dropDuplicatesWithinWatermark
    but kept by the watermark-evictable plain form
    dropDuplicates([id, ts]) — the at-least-once-sink replay case."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.streaming.stream_queries import (
        _run_to_memory,
        _stream_files,
    )

    base = "2024-01-01 10:00:00"
    shift = "2024-01-01 10:05:00"
    indir = str(tmp_path / "replay")
    for i, ts in enumerate((base, shift)):
        (
            spark.createDataFrame([(1, ts)], "event_id long, ts_s string")
            .select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
            .coalesce(1)
            .write.mode("append")
            .parquet(indir)
        )

    def drain(dedup_fn):
        raw = _stream_files(spark, indir, per_file=True).withWatermark("ts", "1 hour")
        out = dedup_fn(raw).groupBy().agg(F.count(F.lit(1)).alias("n"))
        return _run_to_memory(out, "ddww_test", "complete").collect()[0]["n"]

    kept_within = drain(lambda df: df.dropDuplicatesWithinWatermark(["event_id"]))
    kept_plain = drain(lambda df: df.dropDuplicates(["event_id", "ts"]))
    assert kept_within == 1  # replay deduped despite the shifted ts
    assert kept_plain == 2  # ts-in-key form cannot see the replay


def test_lateral_column_alias_equals_dataframe_twin(spark, sf_dir):
    """sql_lateral_column_alias must equal the hand-chained DataFrame
    form bit-for-bit (the analyzer rewrite is pure resolution)."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    sql_rows = sorted(
        map(tuple, QUERIES["sql_lateral_column_alias"](spark, sf_dir).collect())
    )
    li = load(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    gross = net * (1 + F.col("l_tax"))
    twin = (
        li.select("l_returnflag", net.alias("net"), gross.alias("gross"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("net"), 4).alias("net_total"),
            F.round(F.sum("gross"), 4).alias("gross_total"),
            F.round(F.sum(F.col("gross") - F.col("net")), 4).alias("tax_total"),
        )
    )
    assert sql_rows == sorted(map(tuple, twin.collect())) and sql_rows


def test_source_signature_sees_nested_file_rewrite(tmp_path):
    """An in-place rewrite of a file INSIDE a subdirectory (partitioned
    layout: key=x/part.parquet) must change the directory's signature —
    a one-level listing misses it because neither the subdir's stat nor
    the top-level names change (r9 ADVICE #1)."""
    import os

    from atd_dockless_processing_spark.tables import source_signature

    sub = tmp_path / "event_type=a"
    sub.mkdir()
    inner = sub / "part-0.parquet"
    inner.write_bytes(b"v1")
    (tmp_path / "_SUCCESS").write_bytes(b"")
    before = source_signature(str(tmp_path))
    # same name, same size, different mtime — the pure in-place rewrite
    inner.write_bytes(b"v2")
    os.utime(inner, ns=(os.stat(inner).st_mtime_ns + 10**9,) * 2)
    after = source_signature(str(tmp_path))
    assert before != after
    # and the flat-file entries keep the legacy un-prefixed form so
    # pre-existing markers of genuinely flat dirs stay valid
    assert "_SUCCESS:" in before and "event_type=a/part-0.parquet:" in before


def test_drain_to_target_fails_fast_on_clean_termination(spark):
    """A stream that terminates cleanly (isActive False) below the row
    target must raise immediately with the observed count, not burn the
    full timeout (r9 ADVICE #2)."""
    import time

    import pytest

    from atd_dockless_processing_spark.streaming.stream_queries import (
        _drain_to_target,
    )

    class _DoneQuery:
        isActive = False

        def exception(self):
            return None

        def stop(self):
            pass

    name = "drain_fastfail_probe"
    spark.range(3).toDF("v").createOrReplaceTempView(name)
    t0 = time.perf_counter()
    with pytest.raises(RuntimeError, match="terminated with 3 of 100"):
        _drain_to_target(spark, _DoneQuery(), name, target=100, timeout_s=60.0)
    assert time.perf_counter() - t0 < 30.0  # nowhere near the timeout
    # and a terminated query whose rows DID land is a clean success;
    # each drain drops the sink's view on exit, so register it again
    spark.range(3).toDF("v").createOrReplaceTempView(name)
    assert _drain_to_target(spark, _DoneQuery(), name, target=3, timeout_s=60.0).count() == 3
    assert not spark.catalog.tableExists(name)


def test_tumbling_us_layout_dispatch_and_identical(spark, sf_dir, tmp_path, monkeypatch):
    """The layout-aware tumbling dispatch (r10, VERDICT r9 item 2):
    once the µs-staged narrow layout exists, the default must pick it (scan
    reads the scratch path, physical ts is TIMESTAMP_MICROS), the
    result must equal the ad-hoc plan row-for-row, and a source
    regeneration must invalidate the layout."""
    import copy
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from atd_dockless_processing_spark.operators import events
    from atd_dockless_processing_spark.operators.events import tumbling_hour_plan

    # a copy under its own scratch tag: the layout a host has built for
    # sf_dir is never touched or removed
    lay = copy.copy(events._TUMBLING_US_LAYOUT)
    lay.tag += "_test"
    monkeypatch.setattr(events, "_TUMBLING_US_LAYOUT", lay)
    tmp_sf = str(tmp_path / "sf")
    try:
        lay.ensure(spark, sf_dir)
        assert lay.available(spark, sf_dir)
        (staged,) = lay.paths(sf_dir)
        part = glob.glob(f"{staged}/*.parquet")[0]
        assert str(pq.ParquetFile(part).schema_arrow.field("ts").type) == "timestamp[us, tz=UTC]"
        assert pq.ParquetFile(part).schema_arrow.names == ["ts", "event_type", "value"]

        adhoc = sorted(map(tuple, tumbling_hour_plan(spark, sf_dir, adhoc=True).collect()))
        auto = tumbling_hour_plan(spark, sf_dir)  # must dispatch to staged
        plan = auto._jdf.queryExecution().executedPlan().toString()
        assert "events_us" in plan, plan[:2000]
        got = sorted(map(tuple, auto.collect()))
        assert got == adhoc and got, (got[:3], adhoc[:3])

        # registered key == plan dispatch (the @query wrapper routes here)
        from atd_dockless_processing_spark import QUERIES

        reg = sorted(map(tuple, QUERIES["evt_tumbling_hour"](spark, sf_dir).collect()))
        assert reg == adhoc

        # freshness: against a THROWAWAY copy of the source (testdata
        # is read-only), build a layout, then bump the copy's mtime —
        # the layout must stop dispatching, the default falls back to ad hoc
        os.makedirs(tmp_sf)
        if os.path.isdir(f"{sf_dir}/events.parquet"):
            shutil.copytree(f"{sf_dir}/events.parquet", f"{tmp_sf}/events.parquet")
        else:
            shutil.copy2(f"{sf_dir}/events.parquet", f"{tmp_sf}/events.parquet")
        lay.ensure(spark, tmp_sf)
        assert lay.available(spark, tmp_sf)
        src = f"{tmp_sf}/events.parquet"
        target = os.path.join(src, sorted(os.listdir(src))[0]) if os.path.isdir(src) else src
        st = os.stat(target)
        os.utime(target, ns=(st.st_mtime_ns + 10**9, st.st_mtime_ns + 10**9))
        assert not lay.available(spark, tmp_sf)
        fallback = tumbling_hour_plan(spark, tmp_sf)
        assert "events_us" not in fallback._jdf.queryExecution().executedPlan().toString()
    finally:
        # remove BOTH layouts wholesale (parquet dir + marker), even on
        # assertion failure — a leaked layout would silently flip every
        # later evt_tumbling_hour plan in this repo checkout (r10
        # review finding #1)
        for sf in (sf_dir, tmp_sf):
            shutil.rmtree(lay.base(sf), ignore_errors=True)


def test_group_by_all_equals_explicit_grouping(spark, sf_dir):
    """GROUP BY ALL must resolve to exactly the explicit
    GROUP BY o_orderstatus, YEAR(o_orderdate) — value-identical, and
    the computed item groups by its EXPRESSION (not its alias)."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    got = sorted(map(tuple, QUERIES["sql_group_by_all"](spark, sf_dir).collect()))
    twin = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        )
    )
    assert got == sorted(map(tuple, twin.collect())) and got


def test_aes_roundtrip_actually_encrypts_and_is_deterministic(spark, sf_dir):
    """fn_aes_roundtrip's integrity checks are only meaningful if the
    cipher column (a) differs from the plaintext for every row and
    (b) is deterministic across runs (ECB mode) — pin both, plus that
    every row round-trips exactly (n_rt_exact == n_rows per group)."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.functions.scalars import _AES_KEY
    from atd_dockless_processing_spark.tables import load

    c = load(spark, sf_dir, "customer").select("c_name")
    enc = c.select(
        "c_name",
        F.aes_encrypt(F.col("c_name").cast("binary"), F.lit(_AES_KEY), F.lit("ECB")).alias("cipher"),
    )
    n_equal = enc.where(F.col("cipher") == F.col("c_name").cast("binary")).count()
    assert n_equal == 0
    once = {r["c_name"]: bytes(r["cipher"]) for r in enc.collect()}
    again = {r["c_name"]: bytes(r["cipher"]) for r in enc.collect()}
    assert once == again and once

    rows = QUERIES["fn_aes_roundtrip"](spark, sf_dir).collect()
    assert rows and all(r["n_rt_exact"] == r["n_rows"] for r in rows)


def test_table_checksum_detects_corruption_and_ignores_order(spark, sf_dir):
    """dq_table_checksum must be row-order-insensitive (a reshuffled
    copy of the table checksums identically) yet flip when a SINGLE
    value is corrupted — the properties that make it a migration
    validator rather than a row count."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load, set_table_provider

    base = {
        r["o_orderstatus"]: (r["n_rows"], r["checksum"])
        for r in QUERIES["dq_table_checksum"](spark, sf_dir).collect()
    }
    orders = load(spark, sf_dir, "orders")

    def with_orders(df):
        # None = fall through to disk inside tables.load — calling
        # load() from here would re-enter this provider and recurse
        # (r10 second-review finding #4)
        def provider(s, d, name):
            return df if name == "orders" else None
        return provider

    try:
        set_table_provider(with_orders(orders.repartition(7)))
        shuffled = {
            r["o_orderstatus"]: (r["n_rows"], r["checksum"])
            for r in QUERIES["dq_table_checksum"](spark, sf_dir).collect()
        }
        assert shuffled == base and base

        corrupted = orders.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") == orders.agg(F.min("o_orderkey")).collect()[0][0],
                   F.col("o_totalprice") + 0.01).otherwise(F.col("o_totalprice")),
        )
        set_table_provider(with_orders(corrupted))
        bad = {
            r["o_orderstatus"]: (r["n_rows"], r["checksum"])
            for r in QUERIES["dq_table_checksum"](spark, sf_dir).collect()
        }
        # same row counts everywhere, exactly one group's checksum moved
        assert {k: v[0] for k, v in bad.items()} == {k: v[0] for k, v in base.items()}
        moved = [k for k in base if bad[k][1] != base[k][1]]
        assert len(moved) == 1, moved

        # NULL sentinel: a NULL field must render as the explicit
        # '<NULL>' token (concat_ws would otherwise silently drop the
        # field AND its separator, colliding distinct rows) — pinned
        # against an independent Python md5 of the canonical bytes
        import hashlib

        tiny = spark.createDataFrame(
            [(1, 2, None, 3.00, None)],
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp",
        )
        set_table_provider(with_orders(tiny))
        row = QUERIES["dq_table_checksum"](spark, sf_dir).collect()
        assert len(row) == 1 and row[0]["o_orderstatus"] is None
        expect = int(
            hashlib.md5(b"1|2|<NULL>|300|<NULL>").hexdigest()[:8], 16
        )
        assert row[0]["checksum"] == expect
    finally:
        set_table_provider(None)


def test_grouping_flags_subtotal_algebra(spark, sf_dir):
    """The four CUBE grouping sets must be internally consistent: the
    (ALL, ALL) row equals the table total, each flag side's subtotals
    re-sum to it, and the 'ALL' sentinel appears exactly where the
    flags say (never in a detail row)."""
    from atd_dockless_processing_spark import QUERIES

    rows = QUERIES["agg_grouping_flags"](spark, sf_dir).collect()
    grand = [r for r in rows if r["g_status"] == 1 and r["g_priority"] == 1]
    assert len(grand) == 1
    detail = [r for r in rows if r["g_status"] == 0 and r["g_priority"] == 0]
    by_status = [r for r in rows if r["g_status"] == 0 and r["g_priority"] == 1]
    by_prio = [r for r in rows if r["g_status"] == 1 and r["g_priority"] == 0]
    g = grand[0]
    for part in (detail, by_status, by_prio):
        assert sum(r["n_orders"] for r in part) == g["n_orders"]
        assert sum(r["total_cents"] for r in part) == g["total_cents"]
    for r in detail:
        assert r["status"] != "ALL" and r["priority"] != "ALL"
    assert all(r["priority"] == "ALL" for r in by_status)
    assert all(r["status"] == "ALL" for r in by_prio)
    assert g["status"] == "ALL" and g["priority"] == "ALL"


def test_fill_forward_matches_python_locf(spark, sf_dir):
    """win_fill_forward's per-user aggregates must equal a Python
    forward-fill over the same (ts, event_id)-ordered rows — pins the
    IGNORE NULLS carry rule, the tie-break, and that rows before a
    user's first observation stay NULL (never invented)."""
    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    got = {
        r["user_id"]: (r["n_rows"], r["n_filled"], r["sum_filled_e4"])
        for r in QUERIES["win_fill_forward"](spark, sf_dir).collect()
    }
    rows = (
        load(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert set(got) == set(by_user)
    saw_leading_null = False
    for uid, evs in by_user.items():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        carried, n_filled, total_e4 = None, 0, 0
        for r in evs:
            # IGNORE NULLS carries THROUGH a NULL observation (latent
            # today — testdata has no NULL values — but a regeneration
            # must not flip this model against the engine, r10
            # third-review finding #1)
            if r["event_id"] % 5 == 0 and r["value"] is not None:
                carried = r["value"]
            if carried is not None:
                n_filled += 1
                # per-row e4 scale-round, half AWAY from zero — the
                # engine-side ROUND semantics (Spark HALF_UP, DuckDB
                # std::round), NOT Python's banker's round
                x = carried * 10000
                total_e4 += (
                    math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)
                )
            else:
                saw_leading_null = True
        exp_sum = total_e4 if n_filled else None
        assert got[uid] == (len(evs), n_filled, exp_sum), uid
    assert saw_leading_null, "corpus never exercised the leading-NULL case"


def test_csv_multiline_parses_identically_in_independent_reader(spark, sf_dir):
    """The staged RFC 4180 files must parse IDENTICALLY in DuckDB's
    read_csv (quote-doubling, embedded newlines) — and a non-multiLine
    Spark read must NOT match (record explosion), proving the corpus
    actually exercises embedded newlines."""
    import glob

    import duckdb
    import pytest

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import stage_scratch

    got = sorted(
        map(tuple, QUERIES["src_csv_multiline"](spark, sf_dir).collect())
    )
    # resolve the staged path through the function that OWNS the
    # layout (the key's run above guarantees a fresh marker, so the
    # build callback must never fire — r10 third-review finding #2)
    indir = stage_scratch(
        "src_csv_multiline",
        sf_dir,
        "documents",
        lambda d: pytest.fail("staging should already exist"),
    )
    files = sorted(glob.glob(f"{indir}/*.csv"))
    assert files
    con = duckdb.connect()
    duck = sorted(
        map(
            tuple,
            con.execute(
                """
        SELECT lang, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(LENGTH(tricky)) AS BIGINT),
               CAST(SUM(CASE WHEN tricky LIKE '%' || chr(10) || '%' THEN 1 ELSE 0 END) AS BIGINT)
        FROM read_csv(?, header=true, columns={'lang': 'VARCHAR', 'tricky': 'VARCHAR'})
        GROUP BY lang
        """,
                [files],
            ).fetchall(),
        )
    )
    assert got == duck and got

    naive = (
        spark.read.schema("lang string, tricky string")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(indir)
    )
    n_true = sum(r[1] for r in got)
    assert naive.count() != n_true, "corpus has no embedded newlines?"


def test_union_by_name_fills_and_positional_would_differ(spark, sf_dir):
    """unionByName must NULL-fill each branch's missing column and
    align the SWAPPED key columns by name; the positional union of the
    same branches (padded to equal width) would mis-zip — pinned by
    checking per-branch NULL patterns and total conservation."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    rows = QUERIES["set_union_by_name"](spark, sf_dir).collect()
    o = load(spark, sf_dir, "orders")
    n_even = o.where(F.col("o_orderkey") % 2 == 0).count()
    n_odd = o.where(F.col("o_orderkey") % 2 == 1).count()
    assert sum(r["n_rows"] for r in rows) == n_even + n_odd
    assert sum(r["n_with_cents"] for r in rows) == n_even  # old branch only
    assert sum(r["n_with_year"] for r in rows) == n_odd    # new branch only
    exp_cents = (
        o.where(F.col("o_orderkey") % 2 == 0)
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")))
        .collect()[0][0]
    )
    assert sum(r["sum_cents"] for r in rows) == exp_cents


def test_luhn_check_matches_reference_implementation(spark, sf_dir):
    """Spark's built-in luhn_check must agree with a from-definition
    Python Luhn on every synthesized card, including known-answer
    anchors (a canonical valid test number and its off-by-one)."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    def luhn(card: str) -> bool:
        digits = [int(c) for c in card][::-1]
        total = 0
        for i, x in enumerate(digits, start=1):
            if i % 2 == 0:
                x *= 2
                x = x // 10 + x % 10
            total += x
        return total % 10 == 0

    assert luhn("4539148803436467") and not luhn("4539148803436468")

    got = {
        r["o_orderstatus"]: (r["n_rows"], r["n_valid"])
        for r in QUERIES["fn_luhn_check"](spark, sf_dir).collect()
    }
    src = (
        load(spark, sf_dir, "orders")
        .select("o_orderstatus", F.lpad(F.col("o_orderkey").cast("string"), 16, "0").alias("card"))
        .collect()
    )
    exp: dict = {}
    for r in src:
        n, v = exp.get(r["o_orderstatus"], (0, 0))
        exp[r["o_orderstatus"]] = (n + 1, v + (1 if luhn(r["card"]) else 0))
    assert got == exp and got


def test_stage_scratch_never_persists_provider_staging(spark, sf_dir):
    """While a table provider is active, stage_scratch's build_fn
    derives staging from PROVIDER rows — the helper must neither sign
    that staging with the on-disk source's signature nor reuse an
    existing marker, or provider rows keep being served after the
    provider is gone (r10 ADVICE #1: the ``Layout.ensure`` guard
    applied to the shared helper itself)."""
    import os
    import shutil

    from atd_dockless_processing_spark import tables

    name = "unit_stage_scratch_guard"
    base = tables.corpus_scratch(name, sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    marker = f"{base}/src_mtime"
    calls: list[str] = []

    def build(tag):
        def _build(indir):
            calls.append(tag)
            os.makedirs(indir, exist_ok=True)
            with open(f"{indir}/rows.txt", "w") as fh:
                fh.write(tag)
        return _build

    try:
        # plain run: stages once, writes the marker, reuses on repeat
        d1 = tables.stage_scratch(name, sf_dir, "orders", build("disk"))
        assert calls == ["disk"] and os.path.exists(marker)
        tables.stage_scratch(name, sf_dir, "orders", build("disk2"))
        assert calls == ["disk"]  # reused, not rebuilt

        # provider active: must rebuild (not serve the disk staging),
        # must NOT leave a marker, and repeat calls rebuild again
        tables.set_table_provider(lambda s, d, n: None)
        d2 = tables.stage_scratch(name, sf_dir, "orders", build("prov"))
        assert calls == ["disk", "prov"] and not os.path.exists(marker)
        with open(f"{d2}/rows.txt") as fh:
            assert fh.read() == "prov"
        tables.stage_scratch(name, sf_dir, "orders", build("prov2"))
        assert calls == ["disk", "prov", "prov2"]

        # provider gone: the provider-built staging must not be served
        tables.set_table_provider(None)
        d3 = tables.stage_scratch(name, sf_dir, "orders", build("disk3"))
        assert calls[-1] == "disk3" and os.path.exists(marker)
        with open(f"{d3}/rows.txt") as fh:
            assert fh.read() == "disk3"
        assert d1 == d2 == d3
    finally:
        tables.set_table_provider(None)
        shutil.rmtree(base, ignore_errors=True)


def test_collect_sorted_pairs_first_form_and_equality(spark, sf_dir):
    """agg_collect_sorted's r11 pairs-first rewrite: the full-corpus
    pass must be a codegen HashAggregate on (status, priority) — NOT
    an ObjectHashAggregate collect_set over the fact stream — and the
    result must equal the direct collect_set form exactly."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    import re

    got = QUERIES["agg_collect_sorted"](spark, sf_dir)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the corpus-side pass is a codegen HashAggregate grouping on BOTH
    # keys (attributes print with expr IDs — match them, or the
    # assertion is vacuous: r11 review finding #1)
    assert re.search(
        r"HashAggregate\(keys=\[o_orderstatus#\d+, o_orderpriority#\d+",
        plan,
    ), plan
    # a regression to the old form would collect_set over the raw scan
    assert "collect_set" not in plan, plan
    assert "ObjectHashAggregate" in plan  # the tiny summary collect
    direct = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("o_orderpriority")), "|"
            ).alias("priorities")
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_from_json_struct_parses_once_and_matches_where_form(spark, sf_dir):
    """fn_from_json_struct's r11 conditional-agg form must carry
    exactly ONE from_json in the optimized plan (the WHERE form
    parses twice: PushDownPredicates substitutes the alias into the
    pushed filter) and equal the WHERE + GROUP BY semantics."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    got = QUERIES["fn_from_json_struct"](spark, sf_dir)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json") == 1, plan
    where_form = (
        load(spark, sf_dir, "events")
        .withColumn("p", F.from_json("props", "k INT"))
        .where(F.col("p.k") > 50)
        .groupBy("event_type")
        .agg(F.sum("p.k").alias("sum_k"), F.count(F.lit(1)).alias("n_rows"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, where_form.collect())
    )


def test_variant_json_parses_once(spark, sf_dir):
    """fn_variant_json's r11 staged variant must encode each document
    once (optimized plan: parseJson ×1; the inline form carried ×2)
    and equal the inline two-parse form."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    got = QUERIES["fn_variant_json"](spark, sf_dir)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("parseJson") == 1, plan
    ev = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    inline = (
        ev.select(
            F.try_variant_get(v, "$.k", "int").alias("k"),
            F.try_variant_get(v, "$.missing", "int").alias("m"),
        )
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.sum(F.when(F.col("m").isNull(), 1).otherwise(0)).alias(
                "n_missing"
            ),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_lang_id_prefilter_equals_direct_scoring(spark, sf_dir):
    """txt_lang_id's r11 marker-prefilter must split each document
    ONCE (staged __mk tier — the direct form splits five times) and
    score identically to five independent full-array traversals.
    Soundness does not even need marker-set disjointness: the union
    prefilter keeps every token any per-language IN-set could count."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.operators.text import (
        _LANG_MARKERS,
        _LANGS,
        _argmax_case_sql,
        _score,
    )
    from atd_dockless_processing_spark.tables import load

    got = QUERIES["txt_lang_id"](spark, sf_dir)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    d = load(spark, sf_dir, "documents")
    for lg in _LANGS:
        d = d.withColumn(f"s_{lg}", _score(_LANG_MARKERS[lg]))
    direct = (
        d.select("lang", F.expr(_argmax_case_sql()).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_bloom_prefilter_survives_key_width_divergence(spark, sf_dir):
    """xxhash64 is physical-integer-WIDTH sensitive, so the bloom
    positions cast both sides to BIGINT first (r11 second-review
    finding #1). Pin the hazard: serve customer with an INT32
    c_custkey (as a provider or schema drift could) while orders
    keeps int64 — every true match must still survive (a width
    divergence without the cast would silently drop ~all of them,
    a false NEGATIVE the exact join cannot repair)."""
    from pyspark.sql import functions as F

    from atd_dockless_processing_spark import QUERIES, tables

    base = {
        r.o_orderpriority: (r.n_orders, r.sum_price)
        for r in QUERIES["join_bloom_prefilter"](spark, sf_dir).collect()
    }
    cust_narrow = (
        tables.load(spark, sf_dir, "customer")
        .withColumn("c_custkey", F.col("c_custkey").cast("int"))
    )

    def provider(s, d, name):
        # None = fall through to disk inside tables.load (recursion
        # guard pattern from the checksum test)
        return cust_narrow if name == "customer" else None

    try:
        tables.set_table_provider(provider)
        narrowed = {
            r.o_orderpriority: (r.n_orders, r.sum_price)
            for r in QUERIES["join_bloom_prefilter"](spark, sf_dir).collect()
        }
    finally:
        tables.set_table_provider(None)
    assert narrowed == base and base


def test_custkey_bucketed_layout_dispatch_identity_and_staleness(spark, sf_dir, monkeypatch):
    """r12 bucketed-custkey layout (VERDICT r11 item 2): with the
    layout present the three registered custkey shapes must dispatch
    to exchange-free sort-merge plans off the bucketed scans and
    return the same values as the ad-hoc forms; a stale freshness
    marker must make the layout invisible (auto falls back to ad-hoc);
    the layout is dropped in finally so no later test inherits it."""
    import re as _re

    from atd_dockless_processing_spark.operators import joins
    from atd_dockless_processing_spark.operators.joins import (
        custkey_anti_plan,
        custkey_cross_plan,
        custkey_inner_plan,
    )

    lay, lay16 = (_bucketed_copy(joins._CK_LAYOUT, n) for n in (4, 16))
    monkeypatch.setattr(joins, "_CK_LAYOUT", lay)
    o_tbl, c_tbl = lay.names(sf_dir)
    lay.ensure(spark, sf_dir)
    try:
        assert lay.available(spark, sf_dir)
        # bucket count is part of the identity
        assert not lay16.available(spark, sf_dir)

        # ---- join_anti: ZERO-exchange sort-merge anti ----
        anti_auto = custkey_anti_plan(spark, sf_dir)
        plan = anti_auto._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange hashpartitioning" not in plan, plan[:3000]
        adhoc = sorted(
            map(tuple, custkey_anti_plan(spark, sf_dir, adhoc=True).collect())
        )
        assert sorted(map(tuple, anti_auto.collect())) == adhoc

        # ---- join_inner: custkey join exchange-free, agg exchange only
        inner_auto = custkey_inner_plan(spark, sf_dir)
        plan = inner_auto._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert not _re.search(r"Exchange hashpartitioning\(o_custkey", plan)
        assert not _re.search(r"Exchange hashpartitioning\(c_custkey", plan)
        got = {
            r["c_mktsegment"]: r
            for r in inner_auto.collect()
        }
        want = {
            r["c_mktsegment"]: r
            for r in custkey_inner_plan(spark, sf_dir, adhoc=True).collect()
        }
        assert set(got) == set(want) and got
        for seg in want:
            assert got[seg]["n_orders"] == want[seg]["n_orders"]
            # r13: the sum is EXACT integer cents (floor(x*100+0.5)
            # lift) precisely so that SMJ-vs-SHJ aggregation order
            # cannot move it — bucketed and ad-hoc must now agree
            # BIT-FOR-BIT at any SF (r12 ADVICE #1; required because
            # re-attached layouts are live during hash-gated sweeps)
            assert got[seg]["sum_price"] == want[seg]["sum_price"], seg

        # ---- join_cross_small: exact (integer counts) ----
        cross_auto = custkey_cross_plan(spark, sf_dir)
        plan = cross_auto._jdf.queryExecution().executedPlan().toString()
        assert not _re.search(r"Exchange hashpartitioning\(o_custkey", plan)
        assert not _re.search(r"Exchange hashpartitioning\(c_custkey", plan)
        assert sorted(map(tuple, cross_auto.collect())) == sorted(
            map(tuple, custkey_cross_plan(spark, sf_dir, adhoc=True).collect())
        )

        # ---- staleness: a mismatching marker hides the layout ----
        marker = lay.marker(sf_dir)
        good = marker.read_text()
        try:
            marker.write_text("stale:0:0;stale:0:0")
            assert not lay.available(spark, sf_dir)
            # auto now plans off the SOURCE parquet, not the layout
            p = (
                custkey_anti_plan(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert o_tbl not in p, p[:2000]
        finally:
            marker.write_text(good)
        assert lay.available(spark, sf_dir)
    finally:
        _drop_layout(spark, lay, sf_dir)


def test_bucketed_layout_reattaches_across_sessions(spark, sf_dir, monkeypatch):
    """r13 (VERDICT r12 item 2): bucketed external tables live in the
    session-scoped in-memory catalog, but the data files + freshness
    marker persist — a fresh session must DDL-re-attach a disk-valid
    layout (CREATE TABLE over the existing files, no data rewrite)
    instead of falling back to the ad-hoc plan forever. Simulated
    fresh catalog = DROP TABLE both entries (exactly what a session
    boundary loses); then the availability probe must restore them
    and the dispatched plan must be the zero-exchange SMJ with values
    identical to ad-hoc. Guards re-checked post-re-attach: foreign
    bucket count, stale marker (no catalog resurrection from a stale
    layout), active table provider."""
    from atd_dockless_processing_spark import tables
    from atd_dockless_processing_spark.operators import joins
    from atd_dockless_processing_spark.operators.joins import (
        custkey_anti_plan,
        custkey_inner_plan,
    )

    lay, lay16 = (_bucketed_copy(joins._CK_LAYOUT, n) for n in (4, 16))
    monkeypatch.setattr(joins, "_CK_LAYOUT", lay)
    o_tbl, c_tbl = lay.names(sf_dir)
    lay.ensure(spark, sf_dir)
    try:
        adhoc_inner = sorted(
            map(tuple, custkey_inner_plan(spark, sf_dir, adhoc=True).collect())
        )

        # ---- the session boundary: catalog entries vanish ----
        spark.sql(f"DROP TABLE {o_tbl}")
        spark.sql(f"DROP TABLE {c_tbl}")
        assert not spark.catalog.tableExists(o_tbl)

        # a foreign bucket count must NOT re-attach this layout
        assert not lay16.available(spark, sf_dir)
        assert not spark.catalog.tableExists(o_tbl)

        # provider active: probe declines BEFORE any DDL
        tables.set_table_provider(lambda s, d, n: None)
        try:
            assert not lay.available(spark, sf_dir)
        finally:
            tables.set_table_provider(None)
        assert not spark.catalog.tableExists(o_tbl)

        # stale marker: no resurrection from a stale layout
        marker = lay.marker(sf_dir)
        good = marker.read_text()
        try:
            marker.write_text("stale:0:0;stale:0:0")
            assert not lay.available(spark, sf_dir)
            assert not spark.catalog.tableExists(o_tbl)
        finally:
            marker.write_text(good)

        # ---- valid disk layout: DDL-only re-attach ----
        assert lay.available(spark, sf_dir)
        assert spark.catalog.tableExists(o_tbl)
        assert spark.catalog.tableExists(c_tbl)

        anti = custkey_anti_plan(spark, sf_dir)
        plan = anti._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange hashpartitioning" not in plan, plan[:3000]
        got_inner = sorted(map(tuple, custkey_inner_plan(spark, sf_dir).collect()))
        # exact-cents sums: re-attached SMJ == ad-hoc, bit-for-bit
        assert got_inner == adhoc_inner and got_inner
    finally:
        _drop_layout(spark, lay, sf_dir)


def test_bucketed_layout_name_collision_probes_false(spark, sf_dir, tmp_path):
    """r13 ADVICE #1: names() sanitizes every non-identifier char, so
    DISTINCT corpus dirs differing only in punctuation (c-v2 vs c.v2)
    share table NAMES while their scratch bases stay distinct. When the
    catalog table points at corpus A's location, corpus B's probe must
    NOT dispatch to it: available(B) verifies the attached LOCATION,
    not just tableExists by name — else B silently serves A's rows.
    Pinned by building A's layout, manufacturing B's disk-valid layout
    files WITHOUT touching the catalog (the cross-session-persistence
    scenario), and asserting available(B) is False while available(A)
    stays True."""
    import shutil

    from atd_dockless_processing_spark.operators.joins import _CK_LAYOUT

    lay = _bucketed_copy(_CK_LAYOUT, 4)
    corpus_a = tmp_path / "c-v2"
    corpus_b = tmp_path / "c.v2"
    for corpus in (corpus_a, corpus_b):
        corpus.mkdir()
        for t in ("orders", "customer"):
            shutil.copy(f"{sf_dir}/{t}.parquet", corpus / f"{t}.parquet")

    a, b = str(corpus_a), str(corpus_b)
    assert lay.names(a) == lay.names(b) and lay.base(a) != lay.base(b)  # the collision

    try:
        lay.ensure(spark, a)
        assert lay.available(spark, a)
        # manufacture B's disk-valid layout (files + marker) without
        # touching the catalog — what a prior session's build leaves
        shutil.copytree(lay.base(a), lay.base(b), dirs_exist_ok=True)
        lay.marker(b).write_text(lay.src_sig(b))
        assert lay._disk_valid(b)
        # the catalog's table points at A — B must decline to dispatch
        assert not lay.available(spark, b)
        # and A keeps its layout
        assert lay.available(spark, a)
    finally:
        _drop_layout(spark, lay, a)
        shutil.rmtree(lay.base(b), ignore_errors=True)


@settings(max_examples=500, deadline=None)
@given(cents=st.integers(min_value=0, max_value=10**13))
def test_exact_cents_lift_recovers_integer(cents: int):
    """functions/exact.py guard-band claim, 2-decimal case: for any
    money value stored as a double, floor(x*100 + 0.5) recovers the
    exact cent count (the double is within ~1e-11 relative of the
    decimal value — far inside the 0.5 guard, up to 1e11 dollars)."""
    x = cents / 100.0
    assert math.floor(x * 100 + 0.5) == cents


@settings(max_examples=500, deadline=None)
@given(
    price_c=st.integers(min_value=0, max_value=11_000_000),
    disc_c=st.integers(min_value=0, max_value=100),
)
def test_exact_e4_lift_recovers_product(price_c: int, disc_c: int):
    """4-decimal case (the join_multiway_5 revenue lift): price and
    discount are 2-decimal, so price*(1-disc) is exactly 4-decimal —
    price_c*(100-disc_c) in e4 units; the double-computed lift must
    recover that integer exactly."""
    price = price_c / 100.0
    disc = disc_c / 100.0
    assert math.floor(price * (1 - disc) * 10000 + 0.5) == price_c * (
        100 - disc_c
    )


def test_exact_unit_sum_plan_order_independent(spark, sf_dir, duck):
    """The point of exact_unit_sum: the SAME logical sum computed
    under different physical partitionings/orderings must be
    BIT-identical (a plain double sum is not — that is why the
    layout-dispatched keys needed the lift once re-attach made SMJ
    plans live during hash-gated sweeps). Also cross-engine: DuckDB's
    lifted spelling must produce the identical double."""
    from atd_dockless_processing_spark.functions.exact import exact_unit_sum
    from atd_dockless_processing_spark.tables import load

    orders = load(spark, sf_dir, "orders")
    forms = [
        orders.repartition(1),
        orders.repartition(7, "o_custkey"),
        orders.orderBy(F.desc("o_totalprice")),
        orders.orderBy("o_orderkey"),
    ]
    vals = {
        df.agg(
            exact_unit_sum(F.col("o_totalprice"), 100, "s")
        ).collect()[0]["s"]
        for df in forms
    }
    assert len(vals) == 1, vals
    duck_val = duck.execute(
        "SELECT ROUND(SUM(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT))"
        " / 100.0, 4) FROM orders"
    ).fetchone()[0]
    assert vals == {duck_val}


def test_build_layouts_ops_script(spark, sf_dir, tmp_path):
    """scripts/build_layouts.py is the one ops step per corpus
    (LAYOUTS.md) — smoke it end-to-end against a COPY of the corpus
    so the real sweep-dir layouts are untouched: all three layouts
    must come up LIVE, exit code 0, and a second run must be a cheap
    idempotent re-verify (no rebuild: the bucketed data files keep
    their mtimes). Cleans up its scratch layout dirs in finally (a
    leaked layout re-attaches and flips later default plans — the r13
    lesson)."""
    import shutil
    import subprocess
    import sys as _sys
    from pathlib import Path

    from atd_dockless_processing_spark import LAYOUTS

    corpus = tmp_path / "ops_corpus"
    corpus.mkdir()
    for t in ("lineitem", "orders", "customer", "events"):
        shutil.copy(f"{sf_dir}/{t}.parquet", corpus / f"{t}.parquet")

    repo = Path(__file__).resolve().parent.parent
    try:
        for attempt in ("build", "reverify"):
            r = subprocess.run(
                [_sys.executable, "scripts/build_layouts.py", str(corpus)],
                capture_output=True, text=True, cwd=str(repo),
                timeout=600, check=False,
            )
            assert r.returncode == 0, (attempt, r.stdout[-2000:], r.stderr[-2000:])
            assert r.stdout.count("LIVE") == len(LAYOUTS), (attempt, r.stdout[-2000:])
            assert "DECLINED" not in r.stdout, (attempt, r.stdout[-2000:])
        # mtime-stable data files prove the second run re-verified
        # instead of rebuilding (markers match, ensure() skips)
        assert all(lay._disk_valid(str(corpus)) for lay in LAYOUTS.values())
    finally:
        for lay in LAYOUTS.values():
            _drop_layout(spark, lay, str(corpus))


def test_map_ops_json_fast_twin_value_equality(spark, sf_dir):
    """fn_map_ops contract pin (r14, VERDICT r13 item 3): the key's
    registered plan keeps the map-typed Jackson parse BECAUSE that
    surface is its point — the json-fast single-field twin (the
    fn_json_extract machinery) computes the IDENTICAL result on the
    same agg shape, which is exactly why it must stay a twin and not
    the registered form: registering it would collapse fn_map_ops
    into fn_json_extract's already-covered surface. This test is the
    cross-form equality witness the CLOSED-AS-DEFINITIONAL-SURFACE
    stamp stands on (SURVEY §2.8 row; SCALE.md decomposition: twin
    1.29x vs registered 4.85x at x100 — the delta IS the declared
    map materialization)."""
    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.functions.json_fast import (
        with_json_field,
    )
    from atd_dockless_processing_spark.tables import load

    reg = sorted(map(tuple, QUERIES["fn_map_ops"](spark, sf_dir).collect()))

    ev = with_json_field(
        load(spark, sf_dir, "events"), "k", "props", "k", "int"
    )
    twin = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("k") % 10).alias("sum_k_mod"),
    )
    assert sorted(map(tuple, twin.collect())) == reg and reg


def test_dau_wau_interval_cover_matches_fanout_twin(spark, sf_dir):
    """evt_dau_wau_rolling r14 rewrite pin: the registered
    interval-cover form (per-user merged [d, d+6] intervals ->
    +1/-1 deltas -> calendar running sum) returns IDENTICAL rows to
    the pre-r14 x7 fan-out + count_distinct twin — on the driver
    corpus AND on a synthetic corpus exercising the merge edges:
    overlapping intervals (gap <= 6), adjacent intervals (gap == 7,
    deltas cancel without merging), disjoint intervals (gap > 7),
    and a single-day user."""
    import datetime

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.operators.events import (
        _dau_wau_fanout_twin,
    )

    reg = sorted(map(tuple, QUERIES["evt_dau_wau_rolling"](spark, sf_dir).collect()))
    twin = sorted(map(tuple, _dau_wau_fanout_twin(spark, sf_dir).collect()))
    assert reg == twin and reg

    d0 = datetime.datetime(2031, 3, 1)
    day = lambda off, uid, eid: (  # noqa: E731
        eid,
        d0 + datetime.timedelta(days=off, hours=uid % 5),
        uid,
        "synthetic",
        1.0,
        '{"k": 1}',
    )
    rows = (
        # user 1: overlapping intervals (days 0, 4) -> one merged span
        [day(0, 1, 1), day(4, 1, 2)]
        # user 2: adjacent intervals (days 0, 7) -> cancel unmerged
        + [day(0, 2, 3), day(7, 2, 4)]
        # user 3: disjoint intervals (days 0, 20)
        + [day(0, 3, 5), day(20, 3, 6)]
        # user 4: single day; plus duplicate same-day events
        + [day(10, 4, 7), day(10, 4, 8)]
    )
    import atd_dockless_processing_spark.tables as tables

    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    orig = tables._PROVIDER
    tables.set_table_provider(
        lambda s, d, name: df if name == "events" else tables.load(s, d, name)
    )
    try:
        reg = sorted(
            map(tuple, QUERIES["evt_dau_wau_rolling"](spark, sf_dir).collect())
        )
        twin = sorted(map(tuple, _dau_wau_fanout_twin(spark, sf_dir).collect()))
    finally:
        tables.set_table_provider(orig)
    assert reg == twin and len(reg) >= 4


def test_funnel_window_form_matches_stage_join_twin(spark, sf_dir):
    """evt_funnel r14 rewrite pin (three-way): the registered
    sort-free aggregate-HOF form returns IDENTICAL counts to BOTH
    prior forms — the r8 stage-join twin and the r14-step-1
    running-min window twin — on the driver corpus AND on a
    synthetic order-edge corpus: click before any signup (must not
    count), click at exactly the signup ts (strict >, must not
    count), purchase before the first qualifying click (must not
    count), and a fully-ordered user (counts everywhere)."""
    import datetime

    import atd_dockless_processing_spark.tables as tables
    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.operators.events import (
        _funnel_stage_join_twin,
        _funnel_window_twin,
    )

    reg = sorted(map(tuple, QUERIES["evt_funnel"](spark, sf_dir).collect()))
    twin = sorted(map(tuple, _funnel_stage_join_twin(spark, sf_dir).collect()))
    wtwin = sorted(map(tuple, _funnel_window_twin(spark, sf_dir).collect()))
    assert reg == twin == wtwin and reg

    t0 = datetime.datetime(2031, 3, 1)
    mk = lambda m, uid, eid, typ: (  # noqa: E731
        eid,
        t0 + datetime.timedelta(minutes=m),
        uid,
        typ,
        1.0,
        '{"k": 1}',
    )
    rows = (
        # user 1: fully ordered signup -> click -> purchase
        [mk(0, 1, 1, "signup"), mk(5, 1, 2, "click"), mk(9, 1, 3, "purchase")]
        # user 2: click BEFORE signup, purchase after signup but no
        # qualifying click -> counts only as signup
        + [mk(1, 2, 4, "click"), mk(3, 2, 5, "signup"), mk(8, 2, 6, "purchase")]
        # user 3: click at EXACTLY the signup ts (strict > excludes),
        # later click qualifies; purchase before that click
        + [
            mk(0, 3, 7, "signup"),
            mk(0, 3, 8, "click"),
            mk(2, 3, 9, "purchase"),
            mk(4, 3, 10, "click"),
        ]
        # user 4: no signup at all
        + [mk(0, 4, 11, "click"), mk(1, 4, 12, "purchase")]
    )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    orig = tables._PROVIDER
    tables.set_table_provider(
        lambda s, d, name: df if name == "events" else tables.load(s, d, name)
    )
    try:
        reg = sorted(map(tuple, QUERIES["evt_funnel"](spark, sf_dir).collect()))
        twin = sorted(
            map(tuple, _funnel_stage_join_twin(spark, sf_dir).collect())
        )
        wtwin = sorted(
            map(tuple, _funnel_window_twin(spark, sf_dir).collect())
        )
    finally:
        tables.set_table_provider(orig)
    assert reg == twin == wtwin == [(3, 2, 1)]


def test_tfidf_df_branch_matches_count_distinct(spark, sf_dir):
    """llm_tfidf_topk r14 rewrite pin: df(term) computed as
    explode(array_distinct(tokens)) + plain count equals the
    countDistinct(doc_id)-after-explode form — (term, doc_id) is
    unique by construction after the per-doc dedup, so the plain
    count IS the document frequency."""
    from atd_dockless_processing_spark.tables import load

    d = load(spark, sf_dir, "documents")
    tf = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    a = sorted(
        map(
            tuple,
            tf.groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .collect(),
        )
    )
    dt = d.select(
        F.explode(F.array_distinct(F.split("text", " "))).alias("term")
    )
    b = sorted(
        map(tuple, dt.groupBy("term").agg(F.count(F.lit(1)).alias("df")).collect())
    )
    assert a == b and a


def test_new_vs_returning_firstday_count_matches_pair_join(spark, sf_dir):
    """evt_new_vs_returning r14 rewrite pin: n_new(day) as a plain
    COUNT of first-seen days equals the pair-join form (re-attach
    first_day to every pair, compare) — a user is NEW on day d iff
    min(day) == d. Identical rows on the driver corpus."""
    from pyspark.sql import Window

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.tables import load

    reg = sorted(
        map(tuple, QUERIES["evt_new_vs_returning"](spark, sf_dir).collect())
    )

    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("day"),
    )
    pairs = e.distinct()
    firsts = pairs.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = (
        pairs.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            ).alias("n_new"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    twin = daily.select(
        "day",
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(w).alias("cum_users"),
    )
    assert sorted(map(tuple, twin.collect())) == reg and reg
