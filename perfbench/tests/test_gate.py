"""The correctness gate's result signature."""

import datetime as dt

import duckdb
import pandas as pd

import gate


def test_row_order_and_column_order_do_not_matter():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", None]})
    b = pd.DataFrame({"v": [None, "y", "x"], "K": [3, 2, 1]})
    assert gate.signature(a) == gate.signature(b)


def test_int_widths_match_but_int_never_matches_float():
    ints = pd.DataFrame({"n": pd.Series([1, 2], dtype="int32")})
    longs = pd.DataFrame({"n": pd.Series([1, 2], dtype="int64")})
    floats = pd.DataFrame({"n": [1.0, 2.0]})
    assert gate.signature(ints) == gate.signature(longs)
    assert gate.signature(ints) != gate.signature(floats)


def test_floats_compare_at_ten_significant_digits():
    base = pd.DataFrame({"s": [12345678901.2345, 0.0499]})
    last_bits = pd.DataFrame({"s": [12345678901.2345 + 2e-5, 0.0499]})
    other = pd.DataFrame({"s": [12345678901.2345, 0.0498]})
    assert gate.signature(base) == gate.signature(last_bits)
    assert gate.signature(base) != gate.signature(other)


def test_date_objects_match_datetime64_dates():
    spark_side = pd.DataFrame({"d": [dt.date(2024, 1, 2), dt.date(2024, 1, 1)]})
    duck_side = pd.DataFrame({"d": pd.to_datetime(["2024-01-01", "2024-01-02"])})
    assert gate.signature(spark_side) == gate.signature(duck_side)


def test_partitioned_sink_reads_back_its_date_column(tmp_path):
    con = duckdb.connect()
    frame = pd.DataFrame({"d": pd.to_datetime(["2024-01-01", "2024-01-02"]).date,
                          "n": [1, 2]})
    con.register("frame", frame)
    con.execute(f"COPY frame TO '{tmp_path}' (FORMAT PARQUET, PARTITION_BY (d))")
    assert gate.check(con, "SELECT * FROM frame", gate.read_sink(con, str(tmp_path))) is None
    assert "row hashes" in gate.check(con, "SELECT d, n + 1 AS n FROM frame",
                                      gate.read_sink(con, str(tmp_path)))
