"""Layer ledger from a Spark event log.

Reads one uncompressed, non-rolling event log (``spark.eventLog.compress
=false``, ``spark.eventLog.rolling.enabled=false``: plain JSON lines)
and attributes every job to the execution that carried its tag
(``SparkContext.addJobTag``, which reaches the plain jobs a plan build
runs too, or ``SparkSession.addTag``) or job group. Nothing here
touches the JVM: the log is the only input, so the ledger can be
recomputed from a kept log after the run.

``parse(path, stamps)`` takes the driver-side wall stamps of each
tagged execution (epoch milliseconds, the clock the log uses too):

    {tag: {"start": ..., "built": ..., "end": ...}}

``start`` is taken before the registry call, ``built`` after it, and
``end`` when the result is in hand. It returns one record per tag with
the layer terms below. The timeline terms partition the wall:

    build_ms + plan_ms + stage_span_ms + dispatch_ms + tail_ms == wall_ms

``build_ms`` is the registry call, and any job it runs (a parquet
schema inference) lies inside it. ``plan_ms`` runs from the built plan
to the first later job's submission (analysis, optimisation, codegen).
``jobs_ms`` runs from that submission to the last job's end;
``stage_span_ms`` is the part of it some stage of those jobs was
running, and ``dispatch_ms`` the rest (job and stage scheduling
between stages). ``tail_ms`` runs from the last job's end to the
return (the result fetch, or the commit of a write). Because they
partition the wall, they add up to it by construction; what can go
wrong is the attribution. ``outside_ms`` checks it: the time tagged
jobs ran outside the driver's window for the execution, plus the time
jobs that carried none of the given tags ran inside it (a lost tag).
It is zero up to clock granularity when tags and clocks are right.
The counts and executor sums cover every job of the execution, the
build's included.
"""

from __future__ import annotations

import json
from collections import defaultdict

MB = 1024.0 * 1024.0

# SQL metric names of the Python evaluation nodes (ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas, ...): a node that reports the
# first one is a Python node
PY_SENT = "data sent to Python workers"
PY_ROWS = "number of output rows"
PY_RUN = "time to run Python workers"
FILES_WRITTEN = "number of written files"

TASK_SUMS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "deserialize_ms": ("Executor Deserialize Time",),
    "gc_ms": ("JVM GC Time",),
    "spill_disk_b": ("Disk Bytes Spilled",),
    "shuffle_write_b": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_read_local_b": ("Shuffle Read Metrics", "Local Bytes Read"),
    "shuffle_read_remote_b": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "input_rows": ("Input Metrics", "Records Read"),
    "input_b": ("Input Metrics", "Bytes Read"),
    "output_b": ("Output Metrics", "Bytes Written"),
}


def _get(d: dict, path: tuple[str, ...]) -> float:
    for p in path:
        d = d.get(p) if isinstance(d, dict) else None
        if d is None:
            return 0.0
    return float(d)


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    names = {m["name"] for m in node.get("metrics", [])}
    kind = "python" if PY_SENT in names else node.get("nodeName", "")
    for m in node.get("metrics", []):
        out[int(m["accumulatorId"])] = (kind, m["name"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _tag_of(props: dict, tags: set[str]) -> str | None:
    group = props.get("spark.jobGroup.id")
    if group in tags:
        return group
    for t in (props.get("spark.job.tags") or "").split(","):
        # session tags are logged as "<session and thread prefix>-<tag>";
        # the tags given to parse() contain no "-"
        tag = t.rsplit("-", 1)[-1]
        if tag in tags:
            return tag
    return None


def _outside_ms(lo: float, hi: float, start: float, end: float) -> float:
    return max(0.0, min(hi, start) - lo) + max(0.0, hi - max(lo, end))


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(spans):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def parse(path: str, stamps: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Per-tag layer record (see the module docstring). Raises on an
    unreadable log or a tag that no job carried, so a caller records
    the failure instead of an empty ledger."""
    tags = set(stamps)
    job_tag: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    untagged_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    stage_span: dict[tuple[int, int], tuple[float, float]] = {}
    exec_tag: dict[int, str] = {}
    acc_kind: dict[int, tuple[str, str]] = {}
    task_sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    acc_sums: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    n_tasks: dict[str, int] = defaultdict(int)

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tag = _tag_of(props, tags)
                jid = ev["Job ID"]
                if tag is None:
                    untagged_span[jid] = [ev["Submission Time"], ev["Submission Time"]]
                    continue
                job_tag[jid] = tag
                job_span[jid] = [ev["Submission Time"], ev["Submission Time"]]
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
                if "spark.sql.execution.id" in props:
                    exec_tag[int(props["spark.sql.execution.id"])] = tag
            elif kind == "SparkListenerJobEnd":
                span = job_span.get(ev["Job ID"]) or untagged_span.get(ev["Job ID"])
                if span is not None:
                    span[1] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info["Stage ID"] in stage_job and "Submission Time" in info:
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_span[key] = (info["Submission Time"], info["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                tag = job_tag[jid]
                n_tasks[tag] += 1
                tm = ev.get("Task Metrics") or {}
                sums = task_sums[tag]
                for name, p in TASK_SUMS.items():
                    sums[name] += _get(tm, p)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Metadata") == "sql" and "Update" in acc:
                        acc_sums[tag][int(acc["ID"])] += float(acc["Update"])
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_kind)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                tag = exec_tag.get(int(ev["executionId"]))
                if tag is not None:
                    for acc_id, value in ev.get("accumUpdates", []):
                        acc_sums[tag][int(acc_id)] += float(value)

    out: dict[str, dict[str, float]] = {}
    for tag, st in stamps.items():
        jobs = [j for j, t in job_tag.items() if t == tag]
        if not jobs:
            raise ValueError(f"no job in the event log carried tag {tag!r}")
        # the jobs after the build; the log stamps whole milliseconds
        run = [j for j in jobs if job_span[j][0] >= st["built"] - 1.0] or jobs
        first = min(job_span[j][0] for j in run)
        last = max(job_span[j][1] for j in run)
        spans = [s for (sid, _a), s in stage_span.items() if stage_job[sid] in run]
        n_stages = sum(stage_job[sid] in jobs for sid, _a in stage_span)
        sums = task_sums[tag]
        py_rows = py_sent = py_run = files = 0.0
        for acc_id, value in acc_sums[tag].items():
            node, metric = acc_kind.get(acc_id, ("", ""))
            if node == "python" and metric == PY_ROWS:
                py_rows += value
            elif node == "python" and metric == PY_SENT:
                py_sent += value
            elif node == "python" and metric == PY_RUN:
                py_run += value
            elif metric == FILES_WRITTEN:
                files += value
        wall = st["end"] - st["start"]
        build = st["built"] - st["start"]
        plan = first - st["built"]
        tail = st["end"] - last
        stage_ms = _union_ms(spans)
        outside = sum(_outside_ms(*job_span[j], st["start"], st["end"]) for j in jobs)
        lost = sum(max(0.0, min(hi, st["end"]) - max(lo, st["start"]))
                   for lo, hi in untagged_span.values())
        out[tag] = {
            "wall_ms": wall,
            "build_ms": build,
            "plan_ms": plan,
            "jobs_ms": last - first,
            "tail_ms": tail,
            "stage_span_ms": stage_ms,
            "dispatch_ms": last - first - stage_ms,
            "outside_ms": outside + lost,
            "jobs": float(len(jobs)),
            "stages": float(n_stages),
            "tasks": float(n_tasks[tag]),
            "run_ms": sums["run_ms"],
            "cpu_ms": sums["cpu_ns"] / 1e6,
            "deserialize_ms": sums["deserialize_ms"],
            "gc_ms": sums["gc_ms"],
            "scan_rows": sums["input_rows"],
            "scan_mb": sums["input_b"] / MB,
            "shuffle_write_mb": sums["shuffle_write_b"] / MB,
            "shuffle_read_mb": (sums["shuffle_read_local_b"] + sums["shuffle_read_remote_b"]) / MB,
            "spill_disk_mb": sums["spill_disk_b"] / MB,
            "output_mb": sums["output_b"] / MB,
            "files_written": files,
            "python_rows_out": py_rows,
            "python_mb_sent": py_sent / MB,
            "python_worker_ms": py_run,
        }
    return out
