"""Cross-engine deterministic hashing.

Several operators (SimHash, fingerprinting) need a 64-bit token hash
that the DuckDB oracle can reproduce bit-for-bit. Spark's ``xxhash64``
has no DuckDB twin, so we derive a 60-bit integer from md5 (both
engines implement RFC-1321 md5 identically): first 15 hex chars →
int. 15 hex digits = 60 bits < 2^63, so the value is always a valid
non-negative BIGINT in both engines (verified equal this session for
ASCII and multi-byte UTF-8 inputs).

At 100 TB you would use ``xxhash64`` directly (cheaper than md5, no
oracle constraint); the operator shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash60(col: Column | str) -> Column:
    """60-bit deterministic hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_hash60_sql(expr: str) -> str:
    """The same hash as a DuckDB SQL expression over ``expr``."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def portable_hash60_spark_sql(expr: str) -> str:
    """The same hash as a Spark SQL expression over ``expr``; it plans
    as :func:`portable_hash60` does."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
