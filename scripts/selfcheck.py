"""Self-check loop (SURVEY.md §5.2 item 4): run every registered
query on Spark AND its DuckDB oracle at sf0.01; compare row count,
column names, and order-insensitive values — a strictly-stricter
local mirror of the driver's correctness gate.

Both sides are fetched THROUGH PANDAS (Spark ``toPandas()``, DuckDB
``.df()``) and every cell is normalized dtype-sensitively, because
that is what the driver's canonicalizer hashes. Three canonicalizer
divergences were found across rounds by being laxer than the driver
(r2 array cells, r4 DECIMAL sums, r4 DuckDB HUGEINT→float64 while
Spark SUM(long)→int64 on `fn_url_parse`): a numpy int64 0 and a
float64 0.0 must NOT normalize equal here, ever.

Under each key's PASS/FAIL line it prints the dispatch records the
key's build wrote (``tables.DISPATCH``: the physical form chosen, and
why), as ``driver_sim.py`` does.

Usage: python scripts/selfcheck.py [key ...] [--sf=DIR]
"""

from __future__ import annotations

import datetime as dt
import decimal
import logging
import logging.handlers
import math
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from atd_dockless_processing_spark import ORACLES, QUERIES, TABLES  # noqa: E402
from atd_dockless_processing_spark.session import get_spark  # noqa: E402
from atd_dockless_processing_spark.tables import DISPATCH  # noqa: E402


def _norm_val(v):
    """Dtype-sensitive canonical repr of one pandas cell.

    int-family and float-family values get DISTINCT prefixes even for
    equal magnitudes (i:0 vs f:0.0) — the driver's pandas value-hash
    distinguishes an int64 column from a float64 column, so an oracle
    whose SUM comes back HUGEINT→float64 must fail here when the
    Spark column is int64."""
    if v is None:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "f:NaN"
        return f"f:{repr(f + 0.0)}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        # DuckDB DATE surfaces in pandas as datetime64 (midnight) while
        # Spark toPandas gives datetime.date objects — the driver's
        # hash treats them as equal (date-typed keys are green), so
        # normalize a date to its midnight-datetime isoformat
        return dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, np.ndarray):
        return "[" + ",".join(_norm_val(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_val(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted(v.items(), key=lambda kv: str(kv[0]))
        return "{" + ",".join(f"{k}:{_norm_val(x)}" for k, x in items) + "}"
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    return repr(v)


def _is_null(v) -> bool:
    """Scalar null test matching what the driver's pandas frames see:
    a Spark NULL in a double column and a DuckDB NULL both surface as
    NaN after pandas conversion, so scalar None/NaN/NaT all normalize
    to "null". Containers are never null (pd.isna vectorizes)."""
    if isinstance(v, (np.ndarray, list, tuple, dict, bytes, bytearray)):
        return False
    try:
        return bool(pd.isna(v))
    except (TypeError, ValueError):
        return False


def norm_pdf(pdf: pd.DataFrame):
    """Driver-shaped canonical form: sort columns by name, normalize
    every cell dtype-sensitively, sort rows."""
    cols = sorted(pdf.columns, key=lambda c: c.lower())
    rows = []
    for rec in pdf[cols].itertuples(index=False, name=None):
        rows.append(tuple("null" if _is_null(v) else _norm_val(v) for v in rec))
    rows.sort()
    return [c.lower() for c in cols], rows


def duck_con(sf_dir: str):
    """DuckDB connection with one view per table present in ``sf_dir``;
    a directory-shaped ``<t>.parquet`` is read through its part-file
    glob (DuckDB does not expand a bare directory path)."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            glob = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    return con


def diff_preview(a, b, n=4):
    sa, sb = set(a), set(b)
    only_a = list(sa - sb)[:n]
    only_b = list(sb - sa)[:n]
    return f"spark-only={only_a} oracle-only={only_b}"


# Known non-bug causes to name in a FAIL line so triage starts at the
# right hypothesis (r13 ADVICE #2): the registered MinHash band shape
# for the shared-candidate dedup family is the production 8x2, whose
# per-true-pair miss bound is (1-J^2)^8 (~2.8e-4 at J=0.8) vs the 16x1
# twin's (1-J)^16 (~6.6e-12) — on a REGENERATED or new corpus a banded
# recall miss can legitimately fail the exact gate with correct code.
# First triage step: re-run with rows_per_band=1 (the 16x1 twin); if
# that passes, it is band-shape recall on the new corpus, not a bug.
TRIAGE_HINTS = {
    k: (
        "known cause: 8x2 band-shape recall miss-bound (1-J^2)^8 is "
        "corpus-dependent — retry ngram_candidate_pairs with "
        "rows_per_band=1 (16x1 twin) to split recall-vs-bug"
    )
    for k in ("llm_dedup_ngram", "llm_dedup_clusters", "llm_dedup_keep_list")
}


def check_key(spark, con, sf_dir: str, key: str) -> tuple[str, str]:
    """Run ``key`` on Spark and its oracle on DuckDB; return the outcome
    (``pass``, ``fail`` or ``rows-only``) and the key's report line."""
    t0 = time.time()
    try:
        s_pdf = QUERIES[key](spark, sf_dir).toPandas()
    except Exception as e:  # noqa: BLE001
        return "fail", f"FAIL {key}: spark error: {type(e).__name__}: {str(e)[:300]}"
    if key not in ORACLES:
        return "rows-only", f"ok   {key}: rows-only ({len(s_pdf)} rows, {time.time()-t0:.1f}s)"
    try:
        o_pdf = con.execute(ORACLES[key]).df()
    except Exception as e:  # noqa: BLE001
        return "fail", f"FAIL {key}: oracle error: {type(e).__name__}: {str(e)[:300]}"
    sc, sr = norm_pdf(s_pdf)
    oc, orr = norm_pdf(o_pdf)
    hint = f" [{TRIAGE_HINTS[key]}]" if key in TRIAGE_HINTS else ""
    if sc != oc:
        return "fail", f"FAIL {key}: columns {sc} != {oc}"
    if len(sr) != len(orr):
        return "fail", (
            f"FAIL {key}: rowcount {len(sr)} != {len(orr)};"
            f" {diff_preview(sr, orr)}{hint}"
        )
    if sr != orr:
        return "fail", f"FAIL {key}: values differ; {diff_preview(sr, orr)}{hint}"
    return "pass", f"PASS {key} ({len(sr)} rows, {time.time()-t0:.1f}s)"


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.01"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
    keys = args or sorted(QUERIES)
    spark = get_spark("selfcheck")
    records = logging.handlers.BufferingHandler(1 << 20)
    DISPATCH.addHandler(records)
    DISPATCH.setLevel(logging.INFO)
    con = duck_con(sf_dir)
    n = dict.fromkeys(("pass", "fail", "rows-only"), 0)
    t_all = time.time()
    for key in keys:
        if key not in QUERIES:
            print(f"?? {key}: unknown key")
            continue
        outcome, line = check_key(spark, con, sf_dir, key)
        n[outcome] += 1
        print(line)
        for r in records.buffer:
            print("   ", r.getMessage())
        records.flush()
    print(
        f"\n{n['pass']} pass, {n['fail']} fail, {n['rows-only']} rows-only"
        f" / {len(keys)} keys in {time.time()-t_all:.0f}s"
    )
    sys.exit(1 if n["fail"] else 0)


if __name__ == "__main__":
    main()
