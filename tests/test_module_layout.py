"""Operator modules are organised by key family: every registered key
lives in the module its prefix names, and ``operators/`` holds only
family modules, so modules named after the round they landed in cannot
grow back."""

from __future__ import annotations

from pathlib import Path

import atd_dockless_processing_spark as pkg
from atd_dockless_processing_spark.registry import QUERIES

FAMILY_MODULE = {
    "agg": "operators.aggregates",
    "dq": "operators.quality",
    "etl": "operators.etl",
    "evt": "operators.events",
    "flt": "operators.projection",
    "fn": "functions.scalars",
    "geo": "operators.geo",
    "gph": "operators.graph",
    "join": "operators.joins",
    "llm": "operators.llm",
    "mm": "operators.multimodal",
    "prj": "operators.projection",
    "set": "operators.sets",
    "snk": "sources.sinks",
    "sql": "operators.sql",
    "src": "sources.scans",
    "srt": "operators.sorts",
    "stm": "streaming.stream_queries",
    "txt": "operators.text",
    "udaf": "operators.udfs",
    "udf": "operators.udfs",
    "udtf": "operators.udfs",
    "win": "operators.windows",
}
# near-dup and ANN keys live with the shared candidate/verify machinery
DEDUP_ANN_PREFIXES = ("llm_dedup_", "llm_ann_")
EXCEPTIONS = {
    "llm_semdedup": "operators.dedup_ann",
    "llm_vector_quantize": "operators.dedup_ann",
    "llm_kmeans_step": "operators.dedup_ann",
    "llm_dedup_exact": "operators.llm",
    "llm_dedup_near_minhash": "operators.llm",
}


def expected_module(key: str) -> str:
    if key in EXCEPTIONS:
        return EXCEPTIONS[key]
    if key.startswith(DEDUP_ANN_PREFIXES):
        return "operators.dedup_ann"
    return FAMILY_MODULE[key.split("_", 1)[0]]


def test_keys_live_in_family_modules():
    assert len(QUERIES) == 278
    wrong = {
        key: fn.__module__
        for key, fn in QUERIES.items()
        if fn.__module__ != f"{pkg.__name__}.{expected_module(key)}"
    }
    assert not wrong, wrong
    ops = Path(pkg.__file__).resolve().parent / "operators"
    family = {
        m.split(".")[1]
        for m in [*FAMILY_MODULE.values(), "operators.dedup_ann"]
        if m.startswith("operators.")
    }
    assert {p.stem for p in ops.glob("*.py")} == family | {"__init__", "_pandas_udfs"}
