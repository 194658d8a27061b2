"""Exact integer-unit aggregation (the r13 plan-order-independence
discipline, one definition).

``ROUND(SUM(double), 4)`` is NOT plan-deterministic: SMJ vs SHJ,
staged vs ad-hoc scans, and partition-count drift all change FP
summation order, and at large magnitudes the last rounded digit can
flip between two value-identical physical plans — which fails an
exact-bits hash gate (r12 ADVICE #1). For fixed-decimal money columns
the fix is exact: lift each value to integer units with
``floor(x * unit + 0.5)`` — on the SAME IEEE double this recovers the
SAME bigint in Spark and DuckDB (the double is within ~1e-11 of the
exact decimal for TPC-H magnitudes, far inside the 0.5 guard) — sum
the bigints (associative, order-free), divide once, round once.

Engine and oracle must both lift; the DuckDB spelling is::

    ROUND(SUM(CAST(FLOOR(x * unit + 0.5) AS BIGINT)) / unit.0, 4)

Bound: a 64-bit sum wraps past 2^63 units per group (Spark's non-ANSI
long sum wraps silently; DuckDB promotes to HUGEINT) — ~9e16 dollars
per group in cents, 4 orders of magnitude above the 100 TB posture.
Past it, lift into decimal(38,0) before summing.

Used by the layout-dispatched keys (join_inner, join_multiway_5,
evt_tumbling_hour), where the bucketed/staged physical plan IS live
during hash-gated driver sweeps since the r13 DDL re-attach;
join_multiway_5 and evt_tumbling_hour build from one SQL text, which
spells the same lift as ``floor(x * unit + 0.5D)`` and ``/ unitD``.

Scope note: this helper is the single-aggregate form of the
discipline. The PAIRS-FIRST/groupingSets keys (aggregates.py —
agg_grouping_sets family, sql_group_by_all) carry their own staged
variant of the same lift (a named ``cents`` column summed across two
agg phases, re-summed map-side) — structurally different by design
and equality-pinned in their own tests; a change to the lift rule
(e.g. the decimal(38,0) promotion past 2^63) must be applied in both
places. Their registered expressions predate r13 and stay untouched
to keep driver evidence current.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def exact_unit_sum(
    expr: Column, unit: int, alias: str | None = None, scale: int = 4
) -> Column:
    """``ROUND(SUM(floor(expr*unit + 0.5)) / unit, scale)`` — the
    plan-order-independent exact sum of a fixed-decimal double column
    (``unit`` = 100 for 2-decimal money, 10000 for 4-decimal
    products). Bit-identical across physical plans and engines; see
    the module docstring for the guard-band argument and the 2^63
    wrap bound."""
    out = F.round(F.sum(F.floor(expr * unit + F.lit(0.5))) / float(unit), scale)
    return out.alias(alias) if alias else out
