"""Dump ``.explain("formatted")`` for a key set to
plans/r<N>/<key>_<tag>.txt — the before/after plan evidence a
registered-plan change ships with — and print each key's PLANS.md
audit row: shuffle and broadcast exchanges and a top-k node from the
``executedPlan()`` string; parquet scans, scans with non-empty
``PushedFilters`` and the widest ``ReadSchema`` from the formatted plan;
and the Spark jobs and py4j round trips the key's plan build made
(``build_jobs``).

Plans are captured under driver-real conditions: session.py
``get_spark`` on the sf0.1 corpus (``--sf`` names another).

``--census PATH`` builds every registered key without executing it and
writes ``{key: {py4j, build_jobs, build_ms}}`` to PATH as JSON, the
build-cost census of the whole inventory.

Usage: python scripts/dump_plans.py --round N --tag T [--sf DIR] [key ...]
       python scripts/dump_plans.py --census PATH [--sf DIR]
  default key set: the 12 bench keys (bench.BENCH_SET)
"""

from __future__ import annotations

import argparse
import io
import json
import re
import sys
import threading
import time
import uuid
from contextlib import redirect_stdout
from pathlib import Path

from py4j.clientserver import ClientServerConnection

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from atd_dockless_processing_spark import QUERIES  # noqa: E402
from atd_dockless_processing_spark.session import get_spark  # noqa: E402
from bench import BENCH_SET  # noqa: E402
from scale_rehearsal import BASE_SF  # noqa: E402  (the sf0.1 corpus)


def build_jobs(spark, key: str, sf_dir: str):
    """Build ``key``'s plan; return it, the number of Spark jobs the
    build ran, counted under a job group of its own through public
    APIs (``setJobGroup``, ``statusTracker().getJobIdsForGroup``), and
    the number of py4j round trips the build made on this thread (the
    released proxies py4j's finalizer thread sends are not counted)."""
    sc = spark.sparkContext
    group = f"build-{key}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, f"build {key}")
    send = ClientServerConnection.send_command
    me, calls = threading.get_ident(), [0]

    def counted(self, command):
        calls[0] += threading.get_ident() == me
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        df = QUERIES[key](spark, sf_dir)
    finally:
        ClientServerConnection.send_command = send
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group)), calls[0]


def audit_row(key: str, df, formatted: str, jobs: int, py4j: int) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exch = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    n_bcast = plan.count("BroadcastExchange")
    topk = "TakeOrderedAndProject" in plan
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", formatted) if p.strip()]
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", formatted)
    widest = max((len(s.split(",")) for s in schemas), default=0)
    return (
        f"| `{key}` | {n_exch} | {n_bcast} | {len(schemas)} | {len(pushed)}"
        f" | {widest} | {jobs} | {py4j} |{' topk' if topk else ''} |"
    )


def census(spark, sf_dir: str) -> dict:
    """Every registered key's build cost, in registry order."""
    out = {}
    for key in QUERIES:
        t0 = time.perf_counter()
        _, jobs, py4j = build_jobs(spark, key, sf_dir)
        ms = round((time.perf_counter() - t0) * 1000, 1)
        out[key] = {"py4j": py4j, "build_jobs": jobs, "build_ms": ms}
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("keys", nargs="*", metavar="KEY")
    ap.add_argument("--round", type=int)
    ap.add_argument("--tag")
    ap.add_argument("--census", metavar="PATH")
    ap.add_argument("--sf", default=BASE_SF, metavar="DIR")
    args = ap.parse_args()
    if args.census:
        spark = get_spark("plans-census")
        Path(args.census).write_text(json.dumps(census(spark, args.sf), indent=1) + "\n")
        return
    if args.round is None or args.tag is None:
        ap.error("--round and --tag are required unless --census is given")
    out_dir = REPO / "plans" / f"r{args.round}"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"plans-r{args.round}")
    print(
        "| key | shuffles | bcast | scans | pushed | max cols read | build jobs"
        " | build py4j | note |"
    )
    print("|---|---|---|---|---|---|---|---|---|", flush=True)
    for key in args.keys or list(BENCH_SET.values()):
        df, jobs, py4j = build_jobs(spark, key, args.sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (out_dir / f"{key}_{args.tag}.txt").write_text(buf.getvalue())
        print(audit_row(key, df, buf.getvalue(), jobs, py4j), flush=True)


if __name__ == "__main__":
    main()
