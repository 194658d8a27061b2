"""Every metric the benchmark prints is declared in BENCHMARK.json, and
every declared metric is printed, with the declared unit."""

import json
from pathlib import Path

import run

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
LAYER_FIELDS = (
    "wall_ms", "build_ms", "plan_ms", "jobs_ms", "tail_ms", "stage_span_ms",
    "dispatch_ms", "jobs", "stages", "tasks", "run_ms", "cpu_ms", "deserialize_ms",
    "gc_ms", "scan_rows", "scan_mb", "shuffle_write_mb", "shuffle_read_mb",
    "spill_disk_mb", "output_mb", "files_written", "python_rows_out",
    "python_mb_sent", "outside_max_pct", "sink", "fetch_rows",
)


def _declared(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


def test_end_to_end_names_and_units():
    lat = {"a": [10.0, 12.0, 11.0], "b": [30.0, 31.0]}
    duck = {"a": [1.0, 1.0, 1.0], "b": [2.0, 4.0]}
    metrics = run._end_to_end(2.5, lat, duck)
    assert {k: u for k, (_v, u) in metrics.items()} == _declared("end_to_end")
    assert all(v > 0 for v, _u in metrics.values())
    # each key's median over its rounds, summed over the pass
    assert metrics["pass_vs_duckdb"][0] == (11.0 + 30.5) / (1.0 + 3.0)


def test_per_layer_names_and_units():
    layers = {
        "fetched": dict.fromkeys(LAYER_FIELDS, 1.0) | {"sink": 0.0},
        "written": dict.fromkeys(LAYER_FIELDS, 2.0) | {"sink": 1.0},
    }
    setup = {"session.start_s": 1.0, "inputs.gen_s": 0.5, "inputs.check_s": 0.1,
             "tables.cache_fill_s": 0.0}
    metrics = run._layer_metrics(layers, setup, 45.0) | run._absolute(
        {"a": [10.0], "b": [30.0]}, 1, {"a": 100, "b": 50}, {"a": 3}, 900.0)
    metrics["trace.pass_vs_duckdb"] = (4.0, "x")
    assert {k: u for k, (_v, u) in metrics.items()} == _declared("per_layer")
    assert metrics["wall.pass_s"][0] == 0.04
    # the fetch tail counts fetched keys only; the result tail counts all
    assert metrics["fetch.ms"][0] == 1.0
    assert metrics["result.tail_ms"][0] == 3.0


def test_workloads_match_the_runner():
    assert {w["name"] for w in SPEC["workloads"]} == set(run.REPLICAS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
