"""Simulate the external driver's conditions over registry keys.

The driver builds its OWN SparkSession (plain defaults: no UTC pin, no
nanosAsLong, no house tuning) from a FOREIGN cwd and runs both count()
and toPandas()-style actions. Those conditions have caught real bugs
that the house selfcheck session cannot see:

- round 2: events.ts encoding flip (plain session lacked nanosAsLong)
- round 6b: QUERY_ONLY_CORRUPT_RECORD_COLUMN — a count() prunes every
  column but the corrupt-record one and Spark refuses the query; only
  a cached parse survives (src_json_corrupt)

Usage (run via a clean subprocess so no house session leaks in):
    python scripts/driver_sim.py            # the evidence-needing tier
    python scripts/driver_sim.py --all      # every registered key
    python scripts/driver_sim.py key1 key2  # explicit keys
    python scripts/driver_sim.py --round-boundary
        # VERDICT r8 item 7: simulate the driver dropping
        # CORRECTNESS_r{N+1}.json after the tree is stamped, then run
        # the whole round-start checklist (retier sentinels, drift
        # tripwire, boundary tests) against it — one command proves a
        # clean round boundary. The synthetic file is removed after.

Checks per key: count() AND a limited toPandas() — the two pruning
extremes. Under each key's line it prints the dispatch records its two
builds wrote (``tables.DISPATCH``: the physical form chosen, and why).
Exits non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_WORKER = r"""
import importlib.util, sys
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", "{repo}/__spark_entry__.py"
)
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)
import logging.handlers
from pyspark.sql import SparkSession
from atd_dockless_processing_spark.tables import DISPATCH

records = logging.handlers.BufferingHandler(1 << 20)
DISPATCH.addHandler(records)
DISPATCH.setLevel(logging.INFO)

spark = SparkSession.builder.master("local[8]").getOrCreate()
qs = m.queries()
keys = {keys!r}
if keys == "__NEEDY__":
    # the evidence-needing tier = keys before the first green-tier key
    # is unknowable here; default to the first 30 in sweep order
    keys = list(qs)[:30]
elif keys == "__ALL__":
    keys = list(qs)
fails = 0
for k in keys:
    try:
        n = qs[k](spark, "/root/testdata/sf0.01").count()
        pdf = qs[k](spark, "/root/testdata/sf0.01").limit(5).toPandas()
        print("OK", k, n, flush=True)
    except Exception as e:  # noqa: BLE001 - report and continue
        fails += 1
        print("ERR", k, type(e).__name__, str(e)[:200], flush=True)
    for r in records.buffer:
        print("   ", r.getMessage(), flush=True)
    records.flush()
print("FAILS", fails, flush=True)
sys.exit(1 if fails else 0)
"""


def round_boundary() -> int:
    """Prove the round-start checklist survives a post-commit evidence
    drop: synthesize CORRECTNESS_r{N+1}.json as the drop the driver
    would ACTUALLY produce — green rows for the first ~50 keys of the
    CURRENT effective sweep order (needy first, then oldest evidence)
    — then run the ordering/tripwire tests with it present, clean up.
    (Through r10 the synthetic file replayed the latest file's key set
    verbatim; that world ignores the retier rotation, which the r11
    evidence-age alarm rightly flags — an unrealistic simulation, not
    a real failure mode.)"""
    # keep the ACTUAL globbed path — reconstructing it with a padded
    # {:02d} format would miss an unpadded driver drop like
    # CORRECTNESS_r9.json (r9 review finding #4)
    by_round = sorted(
        (int(p.stem.split("_r")[1]), p)
        for p in REPO.glob("CORRECTNESS_r*.json")
    )
    if not by_round:
        print("no CORRECTNESS_r*.json files — nothing to simulate")
        return 1
    latest_round, latest = by_round[-1]
    synth = REPO / f"CORRECTNESS_r{latest_round + 1:02d}.json"
    if synth.exists():
        print(f"stray {synth.name} already present — refusing to overwrite")
        return 1
    # Compute the sweep head in a SUBPROCESS (r12 advice): importing
    # __spark_entry__/ORACLES here would mutate this process's
    # sys.path and leave heavy cached imports that later sim stages
    # in the same process would silently inherit.
    head_probe = subprocess.run(
        [
            sys.executable,
            "-c",
            (
                "import sys, json; sys.path.insert(0, sys.argv[1]); "
                "from atd_dockless_processing_spark import ORACLES; "
                "import __spark_entry__ as entry; "
                "print(json.dumps("
                "[[k, k in ORACLES] for k in entry._KEY_ORDER[:50]]))"
            ),
            str(REPO),
        ],
        capture_output=True,
        text=True,
        cwd=str(REPO),
        check=False,
    )
    if head_probe.returncode != 0:
        # surface the child's traceback — an import-time regression in
        # __spark_entry__/retier is exactly what this sim exists to catch
        print(head_probe.stderr or head_probe.stdout)
        print("sweep-head probe failed — see traceback above")
        return 1
    if not head_probe.stdout.strip():
        # exit 0 with empty stdout (swallowed/redirected output) must
        # produce THIS diagnostic, not an IndexError on [-1] (r12
        # ADVICE #2)
        print(head_probe.stderr)
        print("sweep-head probe exited 0 but printed nothing — "
              "stdout swallowed?")
        return 1
    sweep_head = json.loads(head_probe.stdout.strip().splitlines()[-1])

    rows = {}
    for k, has_oracle in sweep_head:
        if has_oracle:
            rows[k] = {
                "rows_match": True, "schema_match": True,
                "hash_match": True, "spark_rows": 1, "oracle_rows": 1,
                "err": None,
            }
        else:
            rows[k] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": 1, "oracle_rows": None,
                "err": "no_oracle",
            }
    synth.write_text(json.dumps(rows))
    print(f"synthesized {synth.name}: sweep-head 50 of the effective order")
    try:
        r = subprocess.run(
            [
                sys.executable, "-m", "pytest", "-q",
                "tests/test_bench_contract.py", "tests/test_round_boundary.py",
                "-k", "not bench_emits and not table_cache",
            ],
            cwd=str(REPO),
            check=False,
        )
        return r.returncode
    finally:
        synth.unlink(missing_ok=True)
        print(f"removed {synth.name}")


def main() -> int:
    args = [a for a in sys.argv[1:]]
    if "--round-boundary" in args:
        return round_boundary()
    if "--all" in args:
        keys: object = "__ALL__"
    elif args:
        keys = args
    else:
        keys = "__NEEDY__"
    code = _WORKER.format(repo=REPO, keys=keys)
    # cwd=/tmp: the driver never runs from the repo root
    r = subprocess.run(
        [sys.executable, "-c", code], cwd="/tmp", env=os.environ, check=False
    )
    return r.returncode


if __name__ == "__main__":
    raise SystemExit(main())
