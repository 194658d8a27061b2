"""Operator modules are organised by key family: every registered key
lives in the module its prefix names, and ``operators/`` holds only
family modules, so modules named after the round they landed in cannot
grow back. Every top-level form in the package is reachable from a
registered key or an entry point, or is a reference form a named test
pins, so finished A/B forms cannot linger either."""

from __future__ import annotations

import ast
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


# Unregistered forms kept as the reference side of an equality pin:
# "module:name" -> the test that pins it.
REFERENCE_FORMS = {
    "operators.aggregates:_gini_rank_twin": "test_gini_hist_form_matches_rank_twin",
    "operators.events:_dau_wau_fanout_twin": "test_dau_wau_interval_cover_matches_fanout_twin",
    "operators.events:_funnel_stage_join_twin": "test_funnel_window_form_matches_stage_join_twin",
    "operators.events:_funnel_window_twin": "test_funnel_window_form_matches_stage_join_twin",
    "operators.events:_mad_plan": "test_mad_histogram_form_bit_equals_three_pass",
    "operators.geo:_od_matrix_stringkey_twin": "test_od_matrix_int_components_match_stringkey_twin",
    "operators.llm:_bigrams": "test_rouge_merge_form_matches_quadratic_twin",
    "operators.llm:_rouge_quadratic_twin": "test_rouge_merge_form_matches_quadratic_twin",
    "operators.quality:_pk_uniqueness_composite_twin": "test_pk_packed_lineitem_key_matches_composite_twin",
    "operators.sql:corr_decorrelated_sql_form": "test_corr_subquery_window_rewrite_equality",
    "operators.text:_repetition_g2": "test_repetition_sorted_form_matches_quadratic_twin",
    "operators.text:_repetition_quadratic_twin": "test_repetition_sorted_form_matches_quadratic_twin",
    "operators.text:_score": "test_lang_id_prefilter_equals_direct_scoring",
}


def _refs(node: ast.AST) -> set[str]:
    """Every name a node reads, by bare name (attributes and imported
    names included)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _package_forms(pkg_dir: Path):
    """(defs, roots): defs maps "module:name" of every top-level
    function, class and constant to the names it reads; roots are the
    names read by @query functions and by the other module-level
    statements."""
    defs: dict[str, set[str]] = {}
    roots: set[str] = set()

    def walk(body, mod):
        for st in body:
            if isinstance(st, (ast.FunctionDef, ast.ClassDef)):
                defs[f"{mod}:{st.name}"] = _refs(st)
                if any(
                    isinstance(d, ast.Call) and getattr(d.func, "id", "") == "query"
                    for d in st.decorator_list
                ):
                    roots.update(_refs(st) | {st.name})
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs[f"{mod}:{n.id}"] = _refs(st.value) if st.value else set()
            elif isinstance(st, ast.Try):
                for b in (st.body, *(h.body for h in st.handlers), st.orelse, st.finalbody):
                    walk(b, mod)
            elif isinstance(st, ast.If):
                roots.update(_refs(st.test))
                walk(st.body, mod)
                walk(st.orelse, mod)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                roots.update(_refs(st))

    for f in sorted(pkg_dir.rglob("*.py")):
        mod = ".".join(f.relative_to(pkg_dir).with_suffix("").parts)
        walk(ast.parse(f.read_text()).body, mod)
    return defs, roots


def _entry_point_names(repo: Path, pkg_dir: Path) -> set[str]:
    """Package names that the driver contract, bench.py, the benchmark
    runner and scripts/ import, directly or as ``module.name``."""
    pkg = pkg_dir.name
    files = [
        repo / "__spark_entry__.py",
        repo / "bench.py",
        repo / "perfbench" / "run.py",
        *sorted((repo / "scripts").glob("*.py")),
    ]
    names: set[str] = set()
    for f in files:
        tree = ast.parse(f.read_text())
        module_aliases = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and (n.module or "").startswith(pkg):
                for a in n.names:
                    sub = pkg_dir.joinpath(*f"{n.module}.{a.name}".split(".")[1:])
                    if sub.is_dir() or sub.with_suffix(".py").exists():
                        module_aliases.add(a.asname or a.name)
                    else:
                        names.add(a.name)
            elif isinstance(n, ast.Import):
                module_aliases.update(
                    a.asname for a in n.names if a.name.startswith(pkg) and a.asname
                )
        names.update(
            n.attr
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute)
            and isinstance(n.value, ast.Name)
            and n.value.id in module_aliases
        )
    return names


def test_package_has_no_orphan_forms():
    pkg_dir = Path(pkg.__file__).resolve().parent
    repo = pkg_dir.parent
    defs, roots = _package_forms(pkg_dir)
    by_name: dict[str, list[set[str]]] = {}
    for qual, reads in defs.items():
        by_name.setdefault(qual.split(":")[1], []).append(reads)
    reached: set[str] = set()
    todo = list(roots | _entry_point_names(repo, pkg_dir))
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for reads in by_name.get(name, []):
                todo.extend(reads - reached)
    orphans = sorted(
        qual
        for qual in defs
        if qual.split(":")[1] not in reached
        and not qual.split(":")[1].startswith("__")
    )
    assert orphans == sorted(REFERENCE_FORMS), (
        "unreachable forms not in REFERENCE_FORMS: "
        f"{sorted(set(orphans) - set(REFERENCE_FORMS))}; "
        "REFERENCE_FORMS entries that are defined-and-reachable or gone: "
        f"{sorted(set(REFERENCE_FORMS) - set(orphans))}"
    )
    tests = {
        n.name
        for f in Path(__file__).parent.glob("test_*.py")
        for n in ast.parse(f.read_text()).body
        if isinstance(n, ast.FunctionDef)
    }
    assert set(REFERENCE_FORMS.values()) <= tests
