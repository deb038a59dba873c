"""Attribute a Spark event log to the benchmark's key phases.

The traced pass runs every key as three phases, build, plan and collect, and
records each phase's wall-clock interval. Spark writes an event log for the
same pass. This module reads that log and sums each key's work per engine
layer.

A job belongs to the phase named by its ``spark.jobGroup.id`` when the
benchmark set that group (``pb:<key>:<phase>``). Streaming micro-batch jobs
carry the query's run id as their group instead. They, and any other job,
belong to the phase whose interval holds the job's submission time. A stage
belongs to the first job that lists it, and a task to its stage.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass
from datetime import datetime

GROUP_PREFIX = "pb:"
JOIN_NODES = ("Join", "CartesianProduct")
PYTHON_METRICS = {
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.start_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
MB = 1e6


@dataclass(frozen=True)
class Phase:
    """One timed phase of one key in the traced pass (epoch milliseconds)."""

    key: str
    name: str  # build | plan | collect
    start_ms: float
    end_ms: float
    result_rows: int = 0


def group_id(key: str, phase: str) -> str:
    """The job group the traced pass sets around one phase of one key."""
    return f"{GROUP_PREFIX}{key}:{phase}"


def read_events(log_dir: str) -> list[dict]:
    """Every event of every uncompressed event-log file under ``log_dir``."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
        and "appstatus" not in os.path.basename(p)
    )
    events = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _plan_nodes(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _plan_nodes(child)


class _Attribution:
    def __init__(self, phases: list[Phase]):
        self.phases = phases
        self.by_group = {group_id(p.key, p.name): p for p in phases}

    def phase_at(self, t_ms: float) -> Phase | None:
        for p in self.phases:
            if p.start_ms <= t_ms <= p.end_ms:
                return p
        return None

    def job_phase(self, job_start: dict) -> Phase | None:
        group = (job_start.get("Properties") or {}).get("spark.jobGroup.id", "")
        if group in self.by_group:
            return self.by_group[group]
        return self.phase_at(job_start["Submission Time"])


def key_layers(events: list[dict], phases: list[Phase]) -> tuple[dict, dict]:
    """Per-key layer counters and the child spans (jobs, micro-batches).

    Returns ``(per_key, spans)``: ``per_key[key]`` maps a layer metric name
    to its sum over that key's phases; ``spans[key]`` lists the key's Spark
    jobs and streaming micro-batches as ``(kind, phase, start_ms, end_ms)``.
    Work that falls in no phase is summed under the key ``""``.
    """
    attr = _Attribution(phases)
    per_key: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    spans: dict[str, list] = defaultdict(list)
    job_phase: dict[int, Phase | None] = {}
    job_start_ms: dict[int, float] = {}
    stage_phase: dict[int, Phase | None] = {}
    join_accs: set[int] = set()
    written_files_accs: set[int] = set()
    exec_phase: dict[int, Phase | None] = {}
    driver_accums: list[tuple[int, int, int]] = []
    join_rows: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    last_progress: dict[str, dict] = {}

    def key_of(phase: Phase | None) -> str:
        return phase.key if phase else ""

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            phase = attr.job_phase(e)
            job_phase[e["Job ID"]] = phase
            job_start_ms[e["Job ID"]] = e["Submission Time"]
            for sid in e.get("Stage IDs", []):
                stage_phase.setdefault(sid, phase)
            per_key[key_of(phase)]["jobs"] += 1
            if phase is not None and phase.name == "build":
                per_key[phase.key]["build.jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            phase = job_phase.get(e["Job ID"])
            if phase is not None:
                spans[phase.key].append(
                    ("job", phase.name, job_start_ms[e["Job ID"]], e["Completion Time"])
                )
        elif kind == "SparkListenerStageCompleted":
            per_key[key_of(stage_phase.get(e["Stage Info"]["Stage ID"]))]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            phase = stage_phase.get(e["Stage ID"])
            _add_task(per_key[key_of(phase)], e, phase)
            for acc in e["Task Info"].get("Accumulables", []):
                if acc["ID"] in join_accs and phase is not None:
                    join_rows[phase.key][acc["ID"]] += int(acc.get("Update", 0))
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            if kind.endswith("SQLExecutionStart"):
                exec_phase[e["executionId"]] = attr.by_group.get(
                    e.get("jobGroupId") or ""
                ) or attr.phase_at(e["time"])
            for node in _plan_nodes(e["sparkPlanInfo"]):
                for m in node.get("metrics", []):
                    if m["name"] == "number of output rows" and any(
                        j in node["nodeName"] for j in JOIN_NODES
                    ):
                        join_accs.add(m["accumulatorId"])
                    elif m["name"] == "number of written files":
                        written_files_accs.add(m["accumulatorId"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_accums.extend((e["executionId"], a, v) for a, v in e["accumUpdates"])
        elif kind.endswith("QueryProgressEvent"):
            prog = e["progress"]
            start = _epoch_ms(prog["timestamp"])
            phase = attr.phase_at(start)
            k = key_of(phase)
            dur = float(prog.get("durationMs", {}).get("triggerExecution", 0))
            per_key[k]["stream.batches"] += 1
            per_key[k]["stream.batch_ms"] += dur
            last_progress[prog["runId"]] = {"key": k, "progress": prog}
            if phase is not None:
                spans[k].append(("batch", phase.name, start, start + dur))

    # The write command's file count is a driver-side update; an update
    # event can precede the plan event that names its accumulator.
    for exec_id, acc, value in driver_accums:
        if acc in written_files_accs:
            per_key[key_of(exec_phase.get(exec_id))]["write.files"] += value
    for run in last_progress.values():
        rows = sum(op.get("numRowsTotal", 0) for op in run["progress"].get("stateOperators", []))
        per_key[run["key"]]["stream.state_rows"] += rows
    for p in phases:
        layer = per_key[p.key]
        layer[f"{p.name}.s"] += (p.end_ms - p.start_ms) / 1000.0
        if p.name == "collect":
            layer["result.rows"] += p.result_rows
    # Candidate work: a key's largest join output is what it attempted, its
    # result rows are what was useful.
    for k, accs in join_rows.items():
        per_key[k]["cand.attempted"] += max(accs.values(), default=0)
        per_key[k]["cand.useful"] += per_key[k]["result.rows"]
    for p in phases:
        if p.name == "build":
            covered = _union_ms([
                (max(a, p.start_ms), min(b, p.end_ms))
                for kind, ph, a, b in spans[p.key]
                if kind == "job" and ph == "build" and b > p.start_ms and a < p.end_ms
            ])
            per_key[p.key]["build.self_s"] += (p.end_ms - p.start_ms - covered) / 1000.0
    return {k: dict(v) for k, v in per_key.items()}, dict(spans)


def _add_task(layer: dict, e: dict, phase: Phase | None) -> None:
    layer["tasks"] += 1
    m = e.get("Task Metrics") or {}
    layer["exec.run_ms"] += m.get("Executor Run Time", 0)
    layer["exec.cpu_ns"] += m.get("Executor CPU Time", 0)
    layer["exec.gc_ms"] += m.get("JVM GC Time", 0)
    layer["spill.bytes"] += m.get("Disk Bytes Spilled", 0)
    layer["scan.bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    layer["scan.rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
    layer["write.bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    layer["shuffle.write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    layer["shuffle.fetch_wait_ms"] += m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
    if phase is not None and phase.name == "collect" and e.get("Task Type") == "ResultTask":
        layer["result.bytes"] += m.get("Result Size", 0)
    for acc in e["Task Info"].get("Accumulables", []):
        name = PYTHON_METRICS.get(acc["Name"])
        if name:
            layer[name] += int(acc.get("Update", 0))


def layer_metrics(raw: dict) -> dict[str, float]:
    """Convert one key's (or a sum of keys') raw counters to reported units."""
    g = lambda name: float(raw.get(name, 0.0))  # noqa: E731
    run_s = g("exec.run_ms") / 1000.0
    cpu_s = g("exec.cpu_ns") / 1e9
    attempted = g("cand.attempted")
    useful = g("cand.useful")
    return {
        "build.s": g("build.s"),
        "build.jobs": g("build.jobs"),
        "build.self_s": g("build.self_s"),
        "plan.s": g("plan.s"),
        "jobs": g("jobs"),
        "stages": g("stages"),
        "tasks": g("tasks"),
        "scan.mb": g("scan.bytes") / MB,
        "scan.rows": g("scan.rows"),
        "exec.run_s": run_s,
        "exec.cpu_s": cpu_s,
        "exec.gc_s": g("exec.gc_ms") / 1000.0,
        "exec.cpu_share": cpu_s / run_s if run_s else 0.0,
        "shuffle.write_mb": g("shuffle.write_bytes") / MB,
        "shuffle.fetch_wait_s": g("shuffle.fetch_wait_ms") / 1000.0,
        "spill.mb": g("spill.bytes") / MB,
        "cand.attempted": attempted,
        "cand.useful": useful,
        "cand.useful_ratio": useful / attempted if attempted else 0.0,
        "python.run_s": g("python.run_ms") / 1000.0,
        "python.start_s": g("python.start_ms") / 1000.0,
        "python.mb_sent": g("python.bytes_sent") / MB,
        "python.mb_returned": g("python.bytes_returned") / MB,
        "stream.batches": g("stream.batches"),
        "stream.batch_ms": g("stream.batch_ms"),
        "stream.state_rows": g("stream.state_rows"),
        "write.mb": g("write.bytes") / MB,
        "write.files": g("write.files"),
        "collect.s": g("collect.s"),
        "result.rows": g("result.rows"),
        "result.mb": g("result.bytes") / MB,
    }


def workload_layers(per_key: dict[str, dict]) -> dict[str, float]:
    """Sum raw counters over every key (and unattributed work), then convert."""
    total: dict[str, float] = defaultdict(float)
    for raw in per_key.values():
        for name, v in raw.items():
            total[name] += v
    return layer_metrics(total)
