"""Fast scalar extraction from flat JSON documents.

`get_json_object` runs a Jackson streaming parse per row — measured
at ~1.4 s per 10M rows on the ×100 rehearsal box, the single largest
constant in every events-table key that touches `props` (the "json
tax" named in BASELINE's bbox decomposition). For the common
production shape — a FLAT document whose target field holds a bare
number — a compiled Java regex anchored to the ENTIRE document is
~3.5× faster (r7 A/B at ×100: regexp 0.55 s vs Jackson 1.91 s vs
from_json-with-schema 2.53 s, identical results).

Correctness is by construction, not by hope: the fast pattern matches
only when the WHOLE document is ``{"<key>": <number>}`` (optional
whitespace). A document that matches has exactly one key with a bare
numeric token, so the captured group IS the JSON-path value; any
document that does not match — nested objects, string values, extra
keys, escapes, corrupt text — falls back to the exact Jackson path
for that row. The helper therefore returns `get_json_object`
semantics at ANY data, and the fast path simply short-circuits the
parser on the flat rows (all rows, on this corpus).

The guard and the extract share ONE regex evaluation: Catalyst does
not CSE non-cheap expressions (the round-6 staged-projection
finding), so the helper stages the captured token in its own
projection tier and the null-check/cast/fallback reference the staged
column, not the regex.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["with_json_field"]


def _flat_pattern(key: str, numeric: str) -> str:
    # Anchored to the full document: a match proves the document is
    # exactly {"<key>": <token>}, so regex capture == JSON-path value.
    # The key is escaped (Java regex accepts the same backslash-
    # escaped punctuation re.escape emits), so a key containing regex
    # metacharacters matches literally instead of mis-matching.
    import re

    return r'^\{\s*"' + re.escape(key) + r'"\s*:\s*(' + numeric + r')\s*\}$'


# EXACT JSON number grammar (RFC 8259): no leading zeros — a
# document like {"k": 007} is INVALID JSON, and Jackson (and DuckDB
# json_extract) return NULL for it, so the fast path must NOT accept
# it either (r8 ADVICE fix; the old -?\d+ token returned 7 there).
# Such documents now fail the anchored match and take the exact
# Jackson fallback, which preserves the NULL.
#
# Second r8 subtlety (caught by the parity test): get_json_object
# RE-SERIALIZES the value through Jackson — {"k": -0} returns "0",
# {"k": 1.25e2} returns "125.0", {"k": 1.50} returns "1.5". The fast
# path captures the VERBATIM token, so each token grammar below only
# admits forms whose downstream result is IDENTICAL to the
# re-serialized one:
#  - _INT (cast to int/bigint): canonical integers. Bare -0 is
#    excluded — Jackson prints "0"; both cast to 0, but the string
#    differs, and more importantly cast("-0") stays fine while a
#    future string use would not. Exponent integers (1e2) fall back.
#  - _NUM (cast to double): canonical decimals incl. -0.5 / -0.0
#    (cast of the verbatim token and of Jackson's round-trip print
#    yield the same IEEE double — decimal→double parse is
#    correctly-rounded on both), exponents allowed since the CAST
#    target is numeric.
#  - _STR (returned as string, no cast): ONLY short canonical
#    integers (≤18 digits, inside long, which Jackson echoes
#    verbatim). Decimals/exponents fall back — Jackson's shortest
#    double print ("1.50"→"1.5") would diverge from the raw token.
_INT = r"(?:0|-?[1-9]\d*)"
_NUM = r"(?:-?0\.\d+|(?:0|-?[1-9]\d*)(?:\.\d+)?)(?:[eE][+-]?\d+)?"
_STR = r"(?:0|-?[1-9]\d{0,17})"


def _sql_literal(text: str) -> str:
    # a Spark SQL string literal whose value is exactly ``text``
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def with_json_field(
    df: DataFrame,
    out: str,
    json_col: str,
    key: str,
    dtype: str = "int",
) -> DataFrame:
    """Add column `out` = get_json_object(json_col, '$.key') cast to
    `dtype` ('int' | 'bigint' | 'double' | 'string'), via the
    anchored-regex fast path with exact per-row Jackson fallback.

    Two projection tiers: the regex token is staged so the guard and
    the cast reference ONE evaluation (no-CSE hazard). Each tier's
    expression goes to the JVM as one SQL string."""
    token = (
        _INT if dtype in ("int", "bigint") else _STR if dtype == "string" else _NUM
    )
    pattern = _sql_literal(_flat_pattern(key, token))
    staged = df.withColumn("__jx_tok", F.expr(f"regexp_extract({json_col}, {pattern}, 1)"))
    path = _sql_literal(f"$.{key}")
    value = f"CASE WHEN __jx_tok != '' THEN __jx_tok ELSE get_json_object({json_col}, {path}) END"
    if dtype != "string":
        value = f"CAST({value} AS {dtype})"
    return staged.withColumn(out, F.expr(value)).drop("__jx_tok")
