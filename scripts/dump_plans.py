"""Dump ``.explain("formatted")`` for a key set to
plans/r<N>/<key>_<tag>.txt — the before/after plan evidence a
registered-plan change ships with.

Plans are captured under driver-real conditions: session.py
``get_spark`` on the sf0.1 corpus.

Usage: python scripts/dump_plans.py --round N --tag T [key ...]
  default key set: the 12 bench keys (bench.BENCH_SET)
"""

from __future__ import annotations

import argparse
import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from atd_dockless_processing_spark import QUERIES  # noqa: E402
from atd_dockless_processing_spark.session import get_spark  # noqa: E402
from bench import BENCH_SET  # noqa: E402
from scale_rehearsal import BASE_SF  # noqa: E402  (the sf0.1 corpus)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("keys", nargs="*", metavar="KEY")
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--tag", required=True)
    args = ap.parse_args()
    out_dir = REPO / "plans" / f"r{args.round}"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"plans-r{args.round}")
    for key in args.keys or list(BENCH_SET.values()):
        buf = io.StringIO()
        with redirect_stdout(buf):
            QUERIES[key](spark, BASE_SF).explain("formatted")
        (out_dir / f"{key}_{args.tag}.txt").write_text(buf.getvalue())
        print(f"wrote {key}_{args.tag}.txt ({len(buf.getvalue())} bytes)", flush=True)


if __name__ == "__main__":
    main()
