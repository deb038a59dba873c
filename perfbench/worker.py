"""The Spark side of the benchmark: one fresh process per call.

    python3 perfbench/worker.py MODE WORKLOAD SEED SECONDS SPAWNED_AT OUT

MODE is ``setup`` (start a session and exit), ``run`` (a cold pass, then
warm passes until at least ``WARM_PASSES`` of them and SECONDS of warm-pass
time are measured, with the reference job run before, between and after
them) or ``trace`` (as ``run`` without the reference job, so that the peak
memory of the process tree is the engine's alone, then an untraced, a traced
and another untraced pass). SPAWNED_AT is the parent's ``time.monotonic()``
just before it started this process, so the set-up time covers interpreter
start. The result is written to OUT as JSON.

Only the engine's public entry points are called: ``session.get_session``,
``registry.queries()[key](spark, sf_dir)`` and the returned DataFrame's
``collect()``. The traced pass also forces the physical plan before the
collect, so planning is timed as its own phase.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.digest import rows_digest  # noqa: E402
from perfbench.eventlog import Phase, group_id, key_layers, read_events  # noqa: E402
from perfbench.procfs import tree_cpu_s  # noqa: E402
from perfbench.reference import reference_cpu_s  # noqa: E402
from perfbench.workloads import WORKLOADS, data_dir, pass_order  # noqa: E402

EXPECTED = HERE / "expected.json"
# The JIT keeps cutting a pass's CPU time for several passes, so a warm
# figure is only comparable between runs that average the same passes.
WARM_PASSES = 2


class EventLog:
    """A Spark event log attached to a running session, for the traced pass.

    Attaching the listener here rather than through ``spark.eventLog.enabled``
    keeps every untraced pass free of event-log work, so the traced pass's
    extra time is the whole tracing overhead.
    """

    def __init__(self, spark, log_dir: Path):
        sc = spark.sparkContext
        jsc, jvm = sc._jsc.sc(), sc._jvm
        conf = (
            jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        log_dir.mkdir(parents=True, exist_ok=True)
        self._bus = jsc.listenerBus()
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            "trace", jvm.scala.Option.apply(None), jvm.java.net.URI(log_dir.as_uri()),
            conf, jsc.hadoopConfiguration(),
        )
        self._listener.start()
        self._bus.addToEventLogQueue(self._listener)

    def close(self) -> None:
        """Drain the listener bus, detach the listener and close its file."""
        self._bus.waitUntilEmpty()
        self._bus.removeListener(self._listener)
        self._listener.stop()


class Runner:
    """Runs passes over one workload's keys and checks every output."""

    def __init__(self, spark, queries: dict, data: str, expected: dict[str, str]):
        self.spark = spark
        self.queries = queries
        self.data = data
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict[str, tuple[float, float]]] = []

    def run_pass(self, keys: list[str], phases: list[Phase] | None = None) -> tuple[float, float]:
        """Wall and process-tree CPU seconds spent building and collecting
        ``keys``; digests excluded.

        Each key's wall and CPU seconds are kept in ``passes``.
        """
        times = {key: self.run_key(key, phases) for key in keys}
        self.passes.append(times)
        return sum(wall for wall, _ in times.values()), sum(cpu for _, cpu in times.values())

    def run_key(self, key: str, phases: list[Phase] | None) -> tuple[float, float]:
        """Wall and process-tree CPU seconds of one key's build and collect."""
        self.attempted += 1
        cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        try:
            if phases is None:
                df = self.queries[key](self.spark, self.data)
                rows = df.collect()
            else:
                df, rows = self._traced(key, phases)
        except Exception:  # a failing key is counted, never skipped
            self.failed += 1
            print(f"perfbench: {key} raised", file=sys.stderr)
            traceback.print_exc()
            rows = None
        elapsed, cpu = time.perf_counter() - t0, tree_cpu_s(os.getpid()) - cpu0
        if rows is not None and rows_digest(df.columns, rows) != self.expected.get(key):
            self.failed += 1
            print(f"perfbench: {key} output digest differs from expected", file=sys.stderr)
        return elapsed, cpu

    def _traced(self, key: str, phases: list[Phase]):
        sc = self.spark.sparkContext
        marks = [time.time() * 1000.0]
        try:
            sc.setJobGroup(group_id(key, "build"), key)
            df = self.queries[key](self.spark, self.data)
            marks.append(time.time() * 1000.0)
            sc.setJobGroup(group_id(key, "plan"), key)
            df._jdf.queryExecution().executedPlan()
            marks.append(time.time() * 1000.0)
            sc.setJobGroup(group_id(key, "collect"), key)
            rows = df.collect()
            marks.append(time.time() * 1000.0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        for i, name in enumerate(("build", "plan", "collect")):
            rows_here = len(rows) if name == "collect" else 0
            phases.append(Phase(key, name, marks[i], marks[i + 1], rows_here))
        return df, rows


def _spans(pass_start_ms: float, pass_end_ms: float, phases: list[Phase], children: dict) -> list:
    """The traced pass as a span tree: pass -> key -> phase -> job/batch."""
    spans = [{"id": 0, "parent": None, "name": "pass", "key": None,
              "start_ms": pass_start_ms, "end_ms": pass_end_ms}]

    def add(parent, name, key, start, end):
        spans.append({"id": len(spans), "parent": parent, "name": name, "key": key,
                      "start_ms": start, "end_ms": end})
        return len(spans) - 1

    for key in dict.fromkeys(p.key for p in phases):
        mine = [p for p in phases if p.key == key]
        key_id = add(0, "key", key, mine[0].start_ms, mine[-1].end_ms)
        for p in mine:
            phase_id = add(key_id, p.name, key, p.start_ms, p.end_ms)
            for kind, phase_name, start, end in children.get(key, []):
                if phase_name == p.name:
                    add(phase_id, kind, key, start, end)
    return spans


def run_workload(spark, queries: dict, mode: str, workload: str, seed: int, seconds: float,
                 work: Path) -> dict:
    keys = WORKLOADS[workload]
    data = data_dir()
    if not os.path.isdir(data):
        raise FileNotFoundError(f"no sf0.1 tables at {data}")
    expected = json.loads(EXPECTED.read_text())
    runner = Runner(spark, queries, data, expected)
    references: list[list[float]] = []

    def reference() -> None:
        if mode == "run":
            references.append(reference_cpu_s())

    reference()
    cold = runner.run_pass(pass_order(keys, seed, 0))
    reference()
    warm: list[tuple[float, float]] = []
    while len(warm) < WARM_PASSES or sum(wall for wall, _ in warm) < seconds:
        warm.append(runner.run_pass(pass_order(keys, seed, len(warm) + 1)))
    reference()
    out = {
        "cold_pass_s": cold[0], "cold_pass_cpu_s": cold[1],
        "warm_passes_s": [wall for wall, _ in warm], "warm_passes_cpu_s": [cpu for _, cpu in warm],
        "references_cpu_s": references,
    }
    if mode == "trace":
        # Untraced, traced, untraced: the traced pass is compared with its
        # neighbours, which sit at the same point of the JIT warm-up.
        before, _ = runner.run_pass(pass_order(keys, seed, len(warm) + 1))
        phases: list[Phase] = []
        log_dir = work / "eventlog"
        log = EventLog(spark, log_dir)
        start_ms = time.time() * 1000.0
        try:
            traced, _ = runner.run_pass(pass_order(keys, seed, len(warm) + 2), phases)
        finally:
            end_ms = time.time() * 1000.0
            log.close()
        after, _ = runner.run_pass(pass_order(keys, seed, len(warm) + 3))
        per_key, children = key_layers(read_events(str(log_dir)), phases)
        out.update(
            traced_pass_s=traced,
            untraced_around_s=[before, after],
            per_key=per_key,
            spans=_spans(start_ms, end_ms, phases, children),
        )
    out.update(attempted=runner.attempted, failed=runner.failed, passes=runner.passes)
    return out


def main(argv: list[str]) -> int:
    mode, workload, seed, seconds, spawned_at, out_path = argv
    from data_integration_exercise_spark.registry import queries
    from data_integration_exercise_spark.session import get_session

    spark = get_session("perfbench")
    spark.range(1).count()
    result = {"setup_s": time.monotonic() - float(spawned_at)}
    if mode != "setup":
        result.update(run_workload(
            spark, queries(), mode, workload, int(seed), float(seconds), Path(out_path).parent
        ))
    Path(out_path).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    code = main(sys.argv[1:])
    sys.stdout.flush()
    sys.stderr.flush()
    # No spark.stop(): the parent kills the JVM and removes every file the
    # session wrote, and a graceful stop would add seconds to every run.
    os._exit(code)
