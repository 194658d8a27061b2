"""Oracle-differential tests (SURVEY.md §5.2): every registered
query vs its DuckDB oracle at sf0.001 (fast smoke scale; the full
sf0.01 driver-scale sweep is scripts/selfcheck.py).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from selfcheck import duck_con, norm_pdf  # noqa: E402

from atd_dockless_processing_spark import ORACLES, QUERIES  # noqa: E402

ALL_KEYS = sorted(QUERIES)
HASH_KEYS = [k for k in ALL_KEYS if k in ORACLES]
ROWS_ONLY_KEYS = [k for k in ALL_KEYS if k not in ORACLES]


def test_inventory_complete():
    # SURVEY §2: 117+ operators; exactly these rows-only (mm_frame_
    # sample, mm_decode_wav, and mm_decode_stub were all upgraded to
    # hash-checked in r5 — the two left have genuinely engine-specific
    # semantics: HLL implementations differ, watermark drop timing
    # is engine-defined)
    assert len(ALL_KEYS) >= 117
    assert set(ROWS_ONLY_KEYS) <= {
        "agg_approx_distinct",
        "stm_late_data_drop",
    }


@pytest.mark.parametrize("key", HASH_KEYS)
def test_hash_parity(key, spark, sf_dir, duck):
    # both sides go THROUGH PANDAS, dtype-sensitively — the driver's
    # canonicalizer hashes pandas frames, so an int64-vs-float64
    # divergence (e.g. DuckDB HUGEINT from an un-cast SUM) must fail
    # here exactly as it fails the driver (round-4 fn_url_parse bug)
    df = QUERIES[key](spark, sf_dir)
    s_cols, s_rows = norm_pdf(df.toPandas())
    o_cols, o_rows = norm_pdf(duck.execute(ORACLES[key]).df())
    assert s_cols == o_cols, f"{key}: column names differ"
    assert len(s_rows) == len(o_rows), f"{key}: row counts differ"
    assert s_rows == o_rows, f"{key}: values differ"


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_runs(key, spark, sf_dir):
    df = QUERIES[key](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_join_anti_nonvacuous_orphans(spark, sf_dir, tmp_path):
    """De-vacuation pin for join_anti (VERDICT r12 item 6): on the
    stock corpus every customer has >=1 order, so the driver's anti
    row matches on 0 rows vs 0 rows — a vacuous pass. Synthesize a
    corpus where the anti result is NON-empty (orphan custkeys above
    the existing max) and hash-compare engine vs oracle on it, through
    the same pandas canonicalizer the driver uses."""
    import shutil

    from pyspark.sql import functions as F

    from atd_dockless_processing_spark.tables import load

    corpus = tmp_path / "anti_corpus"
    corpus.mkdir()
    shutil.copy(f"{sf_dir}/orders.parquet", corpus / "orders.parquet")
    customer = load(spark, sf_dir, "customer")
    max_ck = customer.agg(F.max("c_custkey")).collect()[0][0]
    orphans = spark.createDataFrame(
        [(int(max_ck) + i, f"ORPHAN_SEG_{i % 3}") for i in range(1, 8)],
        "c_custkey bigint, c_mktsegment string",
    )
    base = customer.select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"), "c_mktsegment"
    )
    base.unionByName(orphans).coalesce(1).write.parquet(
        str(corpus / "customer.parquet")
    )

    got = QUERIES["join_anti"](spark, str(corpus))
    s_cols, s_rows = norm_pdf(got.toPandas())
    con = duck_con(str(corpus))
    try:
        o_cols, o_rows = norm_pdf(con.execute(ORACLES["join_anti"]).df())
    finally:
        con.close()
    assert len(s_rows) == 7, "orphans must make the anti result non-empty"
    assert s_cols == o_cols
    assert s_rows == o_rows
