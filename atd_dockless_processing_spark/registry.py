"""Central query/oracle registry.

Every operator from SURVEY.md §2 registers itself here via the
``@query`` decorator. ``QUERIES`` maps key -> callable(spark, sf_dir)
-> DataFrame; ``ORACLES`` maps key -> ANSI SQL string for the DuckDB
oracle (omitted for rows-only keys, per the driver contract in
``__spark_entry__.py``). ``LAYOUTS`` maps tag -> the session-persistent
physical layouts the keys dispatch to (``register_layout``).

The reference checkout (/root/reference) was empty at survey time
(SURVEY.md §0), so reference parity is cited per-operator against the
SURVEY.md §2 row and the public capability it generalizes ([P] tags).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

QUERIES: dict[str, Callable[..., Any]] = {}
ORACLES: dict[str, str] = {}
LAYOUTS: dict[str, Any] = {}


def query(key: str, oracle: str | None = None):
    """Register a query under ``key`` with an optional DuckDB oracle."""

    def deco(fn):
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = " ".join(oracle.split())
        return fn

    return deco


def register_layout(layout):
    """Register a session-persistent :class:`~.tables.Layout` under its
    tag. ``scripts/build_layouts.py`` builds every entry of ``LAYOUTS``
    and the layout tripwire tests probe every entry."""
    if layout.tag in LAYOUTS:
        raise ValueError(f"duplicate layout tag: {layout.tag}")
    LAYOUTS[layout.tag] = layout
    return layout
