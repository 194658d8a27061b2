"""Isolated-process A/B runner: time query forms hot, and optionally
check two forms for value identity.

A form is one of
  KEY              a registry key (``QUERIES[KEY]``)
  module:function  a callable ``(spark, sf_dir) -> DataFrame``
  duck:KEY         KEY's oracle SQL (``ORACLES[KEY]``) on DuckDB

Each form runs in its own child process, so no form inherits another's
JIT, caches or shuffle files. A Spark form runs on ``get_spark`` with
AQE off (the HOT method, BASELINE.md): one warm-up, then ``--runs``
runs, each on a fresh plan instance whose ``executedPlan()`` is built
before the clock starts; the figure is the median ``toPandas()`` wall.
A DuckDB form uses bench.py's oracle setup (4 threads, views over the
sf_dir parquet) and times ``fetchall()`` the same way.

A key whose work runs while its plan is built (a stream drain, a sink
write) leaves only the fetch of a finished result to that clock, so
each record also carries ``build_median_s`` (the plan build: the
registry call plus ``executedPlan()``; 0 for DuckDB, which has none)
and ``whole_median_s`` (build plus fetch, per run).

Prints one JSON line per form; ``run_forms`` yields the same records
to other scripts (scale_rehearsal.py times its ×N rows with it). With ``--check`` (exactly two forms),
both results are normalized as selfcheck.py does (columns by name,
dtype-sensitive cells, sorted rows), one more JSON line reports
whether they are value-identical, and the exit status is 1 if not.

Usage: python scripts/ab.py [--sf DIR] [--runs N] [--check] FORM [FORM ...]
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _duck(key: str, sf: str, runs: int):
    from selfcheck import duck_con

    from atd_dockless_processing_spark import ORACLES

    con = duck_con(sf)
    con.execute("SET threads TO 4")
    sql = ORACLES[key]
    pdf = con.execute(sql).df()  # warm-up
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        times.append((0.0, time.perf_counter() - t0))
    return pdf, times, 4


def _spark(form: str, sf: str, runs: int):
    import importlib

    from atd_dockless_processing_spark import QUERIES
    from atd_dockless_processing_spark.session import get_spark

    if ":" in form:
        module, name = form.split(":", 1)
        fn = getattr(importlib.import_module(module), name)
    else:
        fn = QUERIES[form]
    spark = get_spark("ab")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    def build():
        df = fn(spark, sf)
        df._jdf.queryExecution().executedPlan()
        return df

    pdf = build().toPandas()  # warm-up: analysis, codegen, JIT
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        df.toPandas()
        times.append((t1 - t0, time.perf_counter() - t1))
    return pdf, times, spark.sparkContext.defaultParallelism


def child(form: str, args) -> None:
    """Run one form and write its record (and, for --check, its
    normalized result) to ``args.out``. The runners return one
    ``(build_s, fetch_s)`` pair per run."""
    if form.startswith("duck:"):
        pdf, times, cpus = _duck(form[5:], args.sf, args.runs)
    else:
        pdf, times, cpus = _spark(form, args.sf, args.runs)
    rec = {
        "form": form,
        "sf": args.sf,
        "cpus": cpus,
        "rows": len(pdf),
        "runs_s": [round(f, 4) for _, f in times],
        "median_s": round(statistics.median(f for _, f in times), 4),
        "build_median_s": round(statistics.median(b for b, _ in times), 4),
        "whole_median_s": round(statistics.median(b + f for b, f in times), 4),
    }
    if args.check:
        from selfcheck import norm_pdf

        cols, rows = norm_pdf(pdf)
        rec["result"] = {"cols": cols, "rows": [list(r) for r in rows]}
    Path(args.out).write_text(json.dumps(rec))


def run_forms(forms, sf: str, runs: int, check: bool = False):
    """Run each form in its own child process, in order, and yield its
    record (``error`` set when the child failed; ``result`` holds the
    normalized rows when ``check``)."""
    with tempfile.TemporaryDirectory() as tmp:
        for i, form in enumerate(forms):
            out = Path(tmp, f"{i}.json")
            cmd = [sys.executable, __file__, "--child", "--out", str(out),
                   "--sf", sf, "--runs", str(runs), form]
            cmd += ["--check"] if check else []
            proc = subprocess.run(cmd)
            if proc.returncode or not out.exists():
                yield {"form": form, "sf": sf, "error": f"exit {proc.returncode}"}
            else:
                yield json.loads(out.read_text())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("forms", nargs="+", metavar="FORM")
    ap.add_argument("--sf", default=str(REPO / ".scratch" / "scale_x100"))
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--check", action="store_true",
                    help="compare the two forms' sorted results")
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--out", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        return child(args.forms[0], args)
    if args.check and len(args.forms) != 2:
        ap.error("--check takes exactly two forms")

    results, failed = [], False
    for rec in run_forms(args.forms, args.sf, args.runs, args.check):
        failed |= "error" in rec
        results.append(rec.pop("result", None))
        print(json.dumps(rec), flush=True)
    if args.check and not failed:
        a, b = results
        print(json.dumps({"check": args.forms, "identical": a == b}), flush=True)
        failed = a != b
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
