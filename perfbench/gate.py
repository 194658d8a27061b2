"""Correctness gate: hash-compare a result against its DuckDB oracle.

Both sides reduce to a signature of (column names, per-column value
family, row count, order-insensitive sum of row hashes). Cells are
normalised the way ``scripts/selfcheck.py`` does it, vectorised:
integers of any width compare equal, an integer column never equals a
float column, dates and timestamps compare as instants, and a date
partition column read back from a sink compares equal to the date it
was written from. Floats compare at ``FLOAT_DIGITS`` significant
digits: a sum taken in another partition order differs in its last
bits, which can move a ``ROUND(.., 4)`` at sums near 1e10.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

FLOAT_DIGITS = 10


def _family(s: pd.Series) -> tuple[str, pd.Series]:
    if pd.api.types.is_bool_dtype(s):
        return "b", s.astype("int64")
    if pd.api.types.is_integer_dtype(s):
        return "i", s.astype("int64")
    if pd.api.types.is_float_dtype(s):
        x = s.to_numpy(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            mag = np.floor(np.log10(np.abs(x)))
            scale = 10.0 ** np.where(np.isfinite(mag), FLOAT_DIGITS - 1 - mag, 0)
            return "f", pd.Series(np.round(x * scale) / scale + 0.0)
    if pd.api.types.is_datetime64_any_dtype(s):
        return "t", s.dt.tz_localize(None).astype("datetime64[ns]").astype("int64")
    nonnull = s.dropna()
    if len(nonnull) and all(hasattr(v, "isoformat") for v in nonnull.head(8)):
        ts = pd.to_datetime(s).astype("datetime64[ns]")
        return "t", ts.astype("int64")
    return "s", s.map(lambda v: "\x00null" if v is None or v is pd.NA or
                      (isinstance(v, float) and np.isnan(v)) else repr(v))


def signature(pdf: pd.DataFrame) -> tuple:
    cols = sorted(pdf.columns, key=str.lower)
    fams, norm = [], {}
    for c in cols:
        fam, values = _family(pdf[c])
        fams.append(fam)
        norm[c.lower()] = values.reset_index(drop=True)
    frame = pd.DataFrame(norm)
    h = pd.util.hash_pandas_object(frame, index=False).to_numpy(np.uint64)
    return tuple(c.lower() for c in cols), tuple(fams), len(frame), int(h.sum(dtype=np.uint64))


def duck_connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        path = f"{data_dir}/{t}.parquet"
        glob = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    return con


def read_sink(con: duckdb.DuckDBPyConnection, sink_dir: str) -> pd.DataFrame:
    partitioned = any("=" in d for d in os.listdir(sink_dir))
    glob = f"{sink_dir}/*/*.parquet" if partitioned else f"{sink_dir}/*.parquet"
    return con.execute(
        f"SELECT * FROM read_parquet('{glob}', hive_partitioning = {partitioned})"
    ).df()


def check(con: duckdb.DuckDBPyConnection, oracle_sql: str, result: pd.DataFrame) -> str | None:
    """None when ``result`` matches the oracle, else a one-line reason."""
    want = signature(con.execute(oracle_sql).df())
    got = signature(result)
    if got == want:
        return None
    what = ("columns", "value families", "row count", "row hashes")
    first = next(i for i in range(4) if got[i] != want[i])
    return f"{what[first]} differ: got {got[first]!r}, oracle {want[first]!r}"
