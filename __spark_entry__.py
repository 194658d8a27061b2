"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``atd_dockless_processing_spark``; every
operator from SURVEY.md §2 registers a (query, oracle) pair there.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from atd_dockless_processing_spark import ORACLES, QUERIES  # noqa: E402
from atd_dockless_processing_spark.retier import retier_from_repo  # noqa: E402
from atd_dockless_processing_spark.session import tune  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q3-shape top-k, SURVEY §7 M0) on sf0.001."""
    tune(spark)
    return QUERIES["srt_topk_global"](spark, "/root/testdata/sf0.001")


# The driver sweeps queries() in dict order under a per-round time
# budget (~50 keys/round). Keys are ordered by EVIDENCE PRIORITY:
# every key WITHOUT green latest driver evidence — new this round,
# never swept, stale-error, or check-type changed — sorts before
# every key WITH it, and the ever-green tail rotates
# OLDEST-EVIDENCE-FIRST so the leftover sweep budget re-validates the
# stalest green rows, not the same recently-swept ones.
#
# The order is recomputed at IMPORT TIME from the CORRECTNESS_r*.json
# files present on disk (atd_dockless_processing_spark/retier.py), so
# an evidence file that lands after the tree is stamped re-tiers
# itself on the driver's next import (VERDICT r8 "What's wrong" #1).
# Registry order breaks ties inside each evidence tier (a static
# literal and its refresh script did so through commit 37ae0cc,
# scripts/retier_key_order.py). tests/test_bench_contract.py guards
# BOTH ordering properties, and tests/test_round_boundary.py
# simulates a post-commit evidence drop.
_KEY_ORDER = retier_from_repo(list(QUERIES), QUERIES, ORACLES, Path(_REPO))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        return run

    return {key: wrap(QUERIES[key]) for key in _KEY_ORDER}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per key (omitted keys => rows-only check)."""
    return dict(ORACLES)
