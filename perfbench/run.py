"""Engine benchmark: two workloads, one closed-loop client.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 18 --trace 0

Run from the repo root. One process drives ``local[N]`` (N = min(4,
usable cores)) through the engine's public entry points only: the
registry (``QUERIES``/``ORACLES``), ``tables.load`` and
``set_table_provider``, ``session.get_spark``, and ``bench.BENCH_SET``
and ``bench._bench_spark``. Workloads (README.md says why each):

- ``interactive``: the 12 frozen bench keys on hot cached sf0.1 tables,
  results fetched with ``toPandas()``;
- ``batch-etl``: MDS/analytics plans on key-shifted replicas of sf0.1,
  scanned from parquet with no cache; aggregates are fetched and the
  row-level publish stages land in parquet sinks.

Every input is generated from ``--seed`` under ``perfbench/.work``,
before the set-up clock starts. A run then sets up several times
(session start, the inputs' reuse check, cache fill) and reports the
median as ``setup_s``. Results are checked against their DuckDB
oracles after the timed loop.
With ``--trace 1`` Spark's event log is on and each execution's wall is
split into layers (``eventlog.py``). The last stdout line is the result
JSON; the line before it describes the run.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

# key -> where its result goes: fetched to pandas, or written to a sink
BATCH_MIX = {
    "agg_groupby_q1": "fetch",
    "etl_publish_funnel": "fetch",
    "fn_date_derive_tz": "sink",
    "udf_pandas_vectorized": "sink",
}
REPLICAS = {"interactive": 1, "batch-etl": 2}
MIN_ROUNDS = 2
# set-ups per run: the first starts the JVM, each later one (after the
# measured loop) stops the session and starts a new one in the same JVM;
# setup_s is the median. An interactive set-up refills the table cache
SETUPS = {"interactive": 3, "batch-etl": 5}
# nominal length of a measured round (every key once, with its DuckDB
# pairs) on a 4-core host, either workload: --seconds buys the nearest
# whole number of rounds. A fixed count keeps a fast host from running
# more rounds, each warmer than the last, than a slow one
ROUND_S = 8.5
# DuckDB runs of a key per pairing: its runs of a small query vary by
# tens of percent, and the ratio's denominator should not
DUCK_REPS = 3
ZERO_WORK_RUNS = 15
# a traced run fails when the log puts more than this share of an
# execution's wall in jobs outside its window or in jobs that lost
# their tag (eventlog.py, outside_ms)
OUTSIDE_MAX_PCT = 10.0
# bench.py's harness provider: fact tables cached hash-partitioned on
# the key their dominant bench consumer exchanges on, 8 partitions
CACHE_KEY = {"lineitem": "l_orderkey", "orders": "o_custkey",
             "events": "user_id", "documents": "text"}
BENCH_PARTS = 8


def _cpus() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _environment(trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside WORK. A
    traced run keeps only its own event log."""
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    if trace:
        shutil.rmtree(WORK / "eventlog", ignore_errors=True)
    for d in (tmp, local, WORK / "eventlog"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    # every JVM, the spark-submit launcher included: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        for k, v in (("spark.eventLog.enabled", "true"),
                     ("spark.eventLog.dir", (WORK / "eventlog").as_uri()),
                     ("spark.eventLog.compress", "false"),
                     ("spark.eventLog.rolling.enabled", "false")):
            args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                stat = Path(f"/proc/{p}/stat").read_text()
                kids[int(stat.rsplit(")", 1)[1].split()[1])].append(int(p))
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def _tree_hwm_mb(root: int) -> float:
    """Peak resident set (VmHWM) summed over ``root`` and its live
    descendants: the driver, the JVM and the Python workers."""
    total = 0.0
    for pid in [root] + _descendants(root):
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return total


def _ensure_inputs(seed: int, replicas: int) -> dict:
    """Generate or reuse the inputs in a child process, so generation
    shares neither the driver's memory peak nor its interpreter."""
    out = subprocess.run(
        [sys.executable, str(HERE / "datagen.py"), str(WORK / "data"), str(seed),
         str(replicas)],
        check=True, capture_output=True, text=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _stop_jvm() -> None:
    """Close the gateway JVM (it exits when its stdin closes) and wait
    for it and every other child process to end."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


class Harness:
    """One workload's session, inputs and executions."""

    def __init__(self, workload: str, seed: int):
        self.interactive = workload == "interactive"
        self.seed = seed
        self.replicas = REPLICAS[workload]
        if self.interactive:
            import bench

            self.mix = dict.fromkeys(bench.BENCH_SET.values(), "fetch")
        else:
            self.mix = dict(BATCH_MIX)
        self.spark = None
        self.data_dir = ""
        self.cached: dict[str, object] = {}
        self.loaded: set[str] = set()

    def _provider(self, spark, sf_dir, name):
        """bench.py's table provider: repartitioned, cached tables."""
        from atd_dockless_processing_spark import tables
        from datagen import BASE_ROWS

        self.loaded.add(name)
        if name not in self.cached:
            tables.set_table_provider(None)
            try:
                n_part = min(BENCH_PARTS, spark.sparkContext.defaultParallelism)
                parts = min(4, n_part) if BASE_ROWS[name] < 8192 else n_part
                df = tables.load(spark, sf_dir, name)
                df = (df.repartition(parts, CACHE_KEY[name]) if name in CACHE_KEY
                      else df.repartition(parts)).cache()
                df.count()
                self.cached[name] = df
            finally:
                tables.set_table_provider(self._provider)
        return self.cached[name]

    def prepare(self) -> float:
        """Generate the inputs, or reuse them when the seed and the base
        match. Returns the seconds spent, which are not set-up time: the
        generator is the benchmark's code, and whether it has to run
        depends on the runs made before in the same checkout."""
        t0 = time.perf_counter()
        self.data_dir = _ensure_inputs(self.seed, self.replicas)["data"]
        return time.perf_counter() - t0

    def setup(self) -> dict[str, float]:
        """Session start, the inputs' reuse check, cache fill."""
        from datagen import check

        t0 = time.perf_counter()
        if self.interactive:
            import bench

            self.spark = bench._bench_spark()
            # _bench_spark makes a per-process spark.local.dir under
            # /dev/shm; SPARK_LOCAL_DIRS overrides it, so it stays empty
            for d in (f"/dev/shm/spark-bench/run-{os.getpid()}", "/dev/shm/spark-bench"):
                try:
                    os.rmdir(d)
                except OSError:
                    pass
        else:
            from atd_dockless_processing_spark.session import get_spark

            self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        check(Path(self.data_dir).parent, self.seed, self.replicas)
        t2 = time.perf_counter()
        if self.interactive:
            from atd_dockless_processing_spark import tables

            # bench.py's harness settings: 8 shuffle partitions, AQE off
            self.spark.conf.set("spark.sql.shuffle.partitions", str(BENCH_PARTS))
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
            tables.set_table_provider(self._provider)
            for name in tables.TABLES:
                self._provider(self.spark, self.data_dir, name)
        t3 = time.perf_counter()
        return {"setup_s": t3 - t0, "session.start_s": t1 - t0,
                "inputs.check_s": t2 - t1, "tables.cache_fill_s": t3 - t2}

    def teardown(self) -> None:
        from atd_dockless_processing_spark import tables

        tables.set_table_provider(None)
        for df in self.cached.values():
            df.unpersist()
        self.cached.clear()
        self.spark.stop()

    def execute(self, key: str, tag: str):
        """Registry call to result in hand, tagged for the event log.
        Returns (stamps in epoch ms, fetched rows or None, result), the
        result being the fetched frame or the sink directory."""
        from atd_dockless_processing_spark import QUERIES

        sc = self.spark.sparkContext
        sc.addJobTag(tag)
        try:
            start = time.time()
            df = QUERIES[key](self.spark, self.data_dir)
            built = time.time()
            if self.mix[key] == "sink":
                result = str(WORK / "sinks" / key)
                dates = [f.name for f in df.schema.fields if f.dataType.typeName() == "date"]
                writer = df.write.mode("overwrite")
                if dates:
                    writer = writer.partitionBy(dates[0])
                writer.parquet(result)
                rows = None
            else:
                result = df.toPandas()
                rows = len(result)
            end = time.time()
        finally:
            sc.removeJobTag(tag)
        return {"start": start * 1e3, "built": built * 1e3, "end": end * 1e3}, rows, result

    def zero_work_ms(self) -> float:
        """Median wall of a one-task query, plan built outside the timer."""
        times = []
        for _ in range(ZERO_WORK_RUNS):
            df = self.spark.range(1)
            t0 = time.perf_counter()
            df.toPandas()
            times.append((time.perf_counter() - t0) * 1e3)
        return statistics.median(times)

    def input_rows(self, key: str) -> int:
        """Rows of the tables ``key`` reads, from parquet footers: the
        tables the provider served while the plan was built (interactive),
        or the files the plan scans (``DataFrame.inputFiles``)."""
        from atd_dockless_processing_spark import QUERIES
        from datagen import footer_rows

        self.loaded.clear()
        df = QUERIES[key](self.spark, self.data_dir)
        if self.interactive:
            names = {f"{t}.parquet" for t in self.loaded}
        else:
            names = {next(p for p in Path(f.split("://", 1)[-1]).parts[::-1]
                          if p.endswith(".parquet") and not p.startswith("part-"))
                     for f in df.inputFiles()}
        return sum(footer_rows(Path(self.data_dir) / n) for n in names)


def _versions() -> dict[str, str]:
    import duckdb
    import pyspark

    return {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0]}


def _layout_state(spark, data_dir: str) -> dict[str, bool]:
    """Whether the engine's one-time layouts (bucketed Q5 tables,
    µs-staged events) would be dispatched for the input directory,
    from the engine's own read-only availability probes. Both read
    False while a table provider is installed."""
    from atd_dockless_processing_spark.operators import events, joins

    return {"q5_bucketed": joins._q5_layout_available(spark, data_dir),
            "tumbling_us": events._tumbling_us_available(data_dir)}


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    h = Harness(workload, seed)
    keys = list(h.mix)
    rng = random.Random(seed)
    gen_s = h.prepare()
    setups = [h.setup()]
    phases = {"setup": time.perf_counter()}

    import gate
    from atd_dockless_processing_spark import ORACLES
    from atd_dockless_processing_spark.tables import TABLES

    con = gate.duck_connect(h.data_dir, TABLES)

    def duck_ms(key: str) -> float:
        t0 = time.perf_counter()
        con.execute(ORACLES[key]).arrow()
        return (time.perf_counter() - t0) * 1e3

    # one warm-up round outside the clock: codegen, JIT and Python workers
    warm_ms: dict[str, float] = {}
    for key in keys:
        st, _rows, _result = h.execute(key, f"pbwarmx{key}")
        warm_ms[key] = round(st["end"] - st["start"], 1)
        duck_ms(key)
    phases["warm"] = time.perf_counter()

    lat: dict[str, list[float]] = defaultdict(list)
    duck: dict[str, list[float]] = defaultdict(list)
    out_rows: dict[str, int] = {}
    last: dict[str, object] = {}
    stamps: dict[str, dict[str, float]] = {}
    tag_key: dict[str, str] = {}
    attempted = failed = 0
    n_rounds = max(MIN_ROUNDS, round(seconds / ROUND_S))
    for _round in range(n_rounds):
        order = keys[:]
        rng.shuffle(order)
        for key in order:
            tag = f"pb{attempted}x{key}"
            attempted += 1
            try:
                st, rows, result = h.execute(key, tag)
            except Exception as exc:  # counted and reported; the loop goes on
                failed += 1
                print(json.dumps({"execution_error": key, "error": repr(exc)[:500]}))
                continue
            stamps[tag], tag_key[tag] = st, key
            lat[key].append(st["end"] - st["start"])
            last[key] = result
            if rows is not None:
                out_rows[key] = rows
            # the same query on DuckDB, paired in the same host window
            duck[key] += [duck_ms(key) for _ in range(DUCK_REPS)]
    phases["loop"] = time.perf_counter()
    peak_rss = _tree_hwm_mb(os.getpid())
    zero_work = h.zero_work_ms() if trace else 0.0
    app_id = h.spark.sparkContext.applicationId

    # the later set-ups, after the loop so that they cannot disturb it
    for _ in range(SETUPS[workload] - 1):
        h.teardown()
        setups.append(h.setup())
    setup = {k: statistics.median(s[k] for s in setups) for k in setups[0]}
    setup["inputs.gen_s"] = gen_s
    phases["setups"] = time.perf_counter()

    # correctness gate and input sizes, outside the clock
    mismatches = {}
    for key in keys:
        if key not in last:
            continue
        try:
            result = last[key]
            if h.mix[key] == "sink":
                result = gate.read_sink(con, result)
                out_rows[key] = len(result)
            why = gate.check(con, ORACLES[key], result)
        except Exception as exc:
            why = f"gate raised {exc!r}"[:500]
        if why:
            mismatches[key] = why
            failed += len(lat[key])
    con.close()
    in_rows = {key: h.input_rows(key) for key in keys}
    layouts = _layout_state(h.spark, h.data_dir)
    phases["gate"] = time.perf_counter()
    h.teardown()

    absolute = _absolute(lat, n_rounds, in_rows, out_rows, peak_rss)
    info = {
        "workload": workload, "seed": seed, "cpus": _cpus(), "rounds": n_rounds,
        "versions": _versions(), "layouts": layouts,
        "executions": attempted, "error_rate": failed / max(attempted, 1),
        "oracle_mismatches": mismatches, "setup": setup,
        "setups": [{k: round(v, 3) for k, v in s.items()} for s in setups],
        "phase_s": {k: round(phases[k] - phases[p], 3) for p, k in zip(phases, list(phases)[1:])},
        "absolute": {k: v for k, (v, _u) in absolute.items()},
        "warm_ms": warm_ms,
        "latency_ms": {k: [round(x, 1) for x in v] for k, v in lat.items()},
        "duckdb_ms": {k: [round(x, 1) for x in v] for k, v in duck.items()},
    }
    metrics = _end_to_end(setup["setup_s"], lat, duck)
    if trace:
        layers = _layers(app_id, stamps, tag_key, h.mix, out_rows)
        info["layers"] = layers
        if "layers_error" not in layers:
            metrics = (_layer_metrics(layers, setup, zero_work) | absolute
                       | {"trace.pass_vs_duckdb": metrics["pass_vs_duckdb"]})
    return {"info": info, "metrics": metrics, "attempted": attempted, "failed": failed,
            "correct": not mismatches and failed == 0}


def _end_to_end(setup_s: float, lat: dict[str, list[float]],
                duck: dict[str, list[float]]) -> dict:
    """Set-up time, and the Spark time of a pass over the DuckDB time of
    the same pass, each key's time being its median over the rounds.
    Each Spark execution and its DuckDB pair ran in the same host
    window, so the ratio cancels the host's speed, which on a shared
    machine moves every absolute time by tens of percent from one run to
    the next; the medians drop a round that a stall slowed down."""
    spark_ms = sum(statistics.median(v) for v in lat.values())
    duck_ms = sum(statistics.median(duck[k]) for k in lat)
    return {"setup_s": (setup_s, "s"), "pass_vs_duckdb": (spark_ms / duck_ms, "x")}


def _absolute(lat: dict[str, list[float]], rounds: int, in_rows: dict[str, int],
              out_rows: dict[str, int], peak_rss_mb: float) -> dict:
    """Absolute walls, throughput and memory. A pass is one round:
    one execution of every key; the percentiles are over executions."""
    every = [x for v in lat.values() for x in v]
    pass_s = sum(every) / rounds / 1e3
    return {
        "wall.pass_s": (pass_s, "s"),
        "wall.latency_p50_ms": (statistics.median(every), "ms"),
        "wall.latency_p90_ms": (statistics.quantiles(every, n=10, method="inclusive")[8], "ms"),
        "wall.queries_per_s": (len(every) / (sum(every) / 1e3), "1/s"),
        "wall.input_rows_per_s": (sum(in_rows[k] for k in lat) / pass_s, "rows/s"),
        "wall.output_rows_per_s": (sum(out_rows.get(k, 0) for k in lat) / pass_s, "rows/s"),
        "memory.peak_rss_mb": (peak_rss_mb, "MB"),
    }


def _layers(app_id, stamps, tag_key, mix, out_rows) -> dict:
    """Per-query medians of the event-log ledger, or ``layers_error``
    when the log cannot be parsed or misattributes an execution."""
    import eventlog

    try:
        records = eventlog.parse(str(WORK / "eventlog" / app_id), stamps)
    except Exception as exc:
        return {"layers_error": f"{type(exc).__name__}: {exc}"}
    return _ledger(records, tag_key, mix, out_rows)


def _ledger(records, tag_key, mix, out_rows) -> dict:
    """Per-key medians of the per-execution records, or ``layers_error``
    when an execution has more than ``OUTSIDE_MAX_PCT`` outside it."""
    by_key: dict[str, list[dict]] = defaultdict(list)
    for tag, rec in records.items():
        by_key[tag_key[tag]].append(rec)
    per_key = {}
    for key, recs in by_key.items():
        row = {f: statistics.median(r[f] for r in recs) for f in recs[0]}
        row["outside_max_pct"] = max(100.0 * r["outside_ms"] / r["wall_ms"] for r in recs)
        row["sink"] = float(mix[key] == "sink")
        row["fetch_rows"] = float(out_rows.get(key, 0)) if mix[key] == "fetch" else 0.0
        per_key[key] = row
    worst = max(per_key, key=lambda k: per_key[k]["outside_max_pct"])
    if per_key[worst]["outside_max_pct"] > OUTSIDE_MAX_PCT:
        return {"layers_error": f"misattributed jobs: {per_key[worst]['outside_max_pct']:.1f}% "
                                f"of a {worst} execution's wall is outside it "
                                f"(limit {OUTSIDE_MAX_PCT:.0f}%)"}
    return per_key


def _layer_metrics(layers: dict, setup: dict, zero_work: float) -> dict:
    """Per-pass totals over the mix of the per-query medians."""

    def total(field: str, only: float | None = None) -> float:
        return sum(r[field] for r in layers.values() if only is None or r["sink"] == only)

    return {
        "session.start_s": (setup["session.start_s"], "s"),
        "inputs.gen_s": (setup["inputs.gen_s"], "s"),
        "inputs.check_s": (setup["inputs.check_s"], "s"),
        "tables.cache_fill_s": (setup["tables.cache_fill_s"], "s"),
        "operators.build_ms": (total("build_ms"), "ms"),
        "spark.plan_ms": (total("plan_ms"), "ms"),
        "spark.jobs": (total("jobs"), "count"),
        "spark.stages": (total("stages"), "count"),
        "spark.tasks": (total("tasks"), "count"),
        "spark.stage_span_ms": (total("stage_span_ms"), "ms"),
        "spark.dispatch_ms": (total("dispatch_ms"), "ms"),
        "spark.zero_work_ms": (zero_work, "ms"),
        "fetch.ms": (total("tail_ms", only=0.0), "ms"),
        "result.tail_ms": (total("tail_ms"), "ms"),
        "fetch.rows": (total("fetch_rows"), "count"),
        "tables.scan_rows": (total("scan_rows"), "count"),
        "tables.scan_mb": (total("scan_mb"), "MB"),
        "executor.run_ms": (total("run_ms"), "ms"),
        "executor.cpu_ms": (total("cpu_ms"), "ms"),
        "executor.deserialize_ms": (total("deserialize_ms"), "ms"),
        "executor.gc_ms": (total("gc_ms"), "ms"),
        "shuffle.write_mb": (total("shuffle_write_mb"), "MB"),
        "shuffle.read_mb": (total("shuffle_read_mb"), "MB"),
        "spill.disk_mb": (total("spill_disk_mb"), "MB"),
        "python.rows_out": (total("python_rows_out"), "count"),
        "python.mb_sent": (total("python_mb_sent"), "MB"),
        "sinks.mb_written": (total("output_mb"), "MB"),
        "sinks.files": (total("files_written"), "count"),
        "layers.outside_max_pct": (max(r["outside_max_pct"] for r in layers.values()), "%"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(REPLICAS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("bench.py", "atd_dockless_processing_spark/registry.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: engine sources not found next to perfbench/: {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    _environment(bool(args.trace))
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    gc.collect()  # release JVM object handles while the JVM still answers
    _stop_jvm()
    print(json.dumps(out["info"]))
    if "layers_error" in out["info"].get("layers", {}):
        print(f"perfbench: {out['info']['layers']['layers_error']}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": out["correct"], "attempted": out["attempted"], "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
