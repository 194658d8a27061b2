"""Driver-real plan-shape pin (r13, VERDICT r12 item 2 done-condition).

The round's headline claim: a PLAIN SparkSession in a foreign cwd,
importing only ``__spark_entry__`` and never calling any layout's
``ensure``, plans the layout-dispatched keys on their FAST forms — the
on-disk layouts DDL-re-attach. A subprocess is the only honest way to
pin this (the pytest session's catalog/conf must not leak in); one
child JVM checks all five keys.

Skips when the sweep-dir layouts are not on disk (fresh clone — the
liveness tripwire in test_round_boundary.py covers the built-but-dead
case separately).
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.01"

_CHILD = r'''
import importlib.util, os, re
os.chdir("/tmp")
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", "%(repo)s/__spark_entry__.py")
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
qs = m.queries()
def plan(key):
    return qs[key](spark, "%(sf)s")._jdf.queryExecution().executedPlan().toString()
checks = []
p = plan("join_inner")
checks.append(("inner-smj", "SortMergeJoin" in p))
checks.append(("inner-noexch",
               not re.search(r"Exchange hashpartitioning\((o_custkey|c_custkey)", p)))
checks.append(("inner-bucketed", "ckb_orders" in p))
p = plan("join_anti")
checks.append(("anti-zeroexch", "SortMergeJoin" in p and "LeftAnti" in p
               and "Exchange hashpartitioning" not in p))
p = plan("join_cross_small")
checks.append(("cross-bucketed", "ckb_orders" in p
               and not re.search(r"Exchange hashpartitioning\((o_custkey|c_custkey)", p)))
p = plan("join_multiway_5")
checks.append(("q5-bucketed", "q5b_lineitem" in p and "SortMergeJoin" in p
               and not re.search(r"Exchange hashpartitioning\((l_orderkey|o_orderkey)", p)))
p = plan("evt_tumbling_hour")
checks.append(("tumbling-staged", "events_us" in p))
for label, ok in checks:
    print(("PASS " if ok else "FAIL ") + label)
print("ALL-PASS" if all(ok for _, ok in checks) else "SOME-FAIL")
'''


def test_driver_real_sessions_get_fast_plans():
    from atd_dockless_processing_spark import LAYOUTS

    # gate on FRESHNESS, not bare marker existence: a regenerated
    # corpus (stale markers) is the round-boundary tripwire's alarm,
    # with its actionable message — this test's job is only the plan
    # shape when layouts ARE live, so it skips in both not-built and
    # stale cases rather than duplicating the alarm opaquely
    dead = [lay.label for lay in LAYOUTS.values() if not lay._disk_valid(SF)]
    if dead:
        pytest.skip(
            f"layouts not live for {SF}: {', '.join(dead)} — "
            "run: python scripts/build_layouts.py"
        )
    r = subprocess.run(
        [sys.executable, "-c", _CHILD % {"repo": REPO, "sf": SF}],
        capture_output=True,
        text=True,
        cwd="/tmp",
        timeout=600,
        check=False,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "ALL-PASS" in r.stdout, r.stdout + r.stderr[-2000:]
