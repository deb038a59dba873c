#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
        [--spans-out FILE]

With ``--trace 0`` a fresh worker process sets up a session, runs one cold
pass over the workload's keys and then warm passes until at least two of
them and S seconds of warm passes are measured. One more worker only sets
up, so ``setup_s`` is the median of two set-ups. A pass is reported as the
CPU seconds of the worker's whole process tree (Python driver, JVM, Python
workers) divided by the CPU seconds of a fixed JVM job (``Reference.java``),
which the worker runs in one JVM per CPU before the cold pass, between the
cold and the warm passes, and after the warm passes: the host's neighbours
move wall time and, by slowing the cores they share, CPU time too, but they
move both jobs alike. Wall and CPU seconds go to standard error.

With ``--trace 1`` the worker runs no reference job, adds a traced pass and
reports the per-layer metrics instead, among them the passes' wall and CPU
seconds and the peak resident memory of the worker's process tree, which
this process samples. The seed fixes each pass's key order. Every key execution is checked against its
expected output digest (``expected.json``); an exception or a differing
digest counts in ``failed``.

All files the workers write go under ``.perfbench_work/`` in the checkout and
are removed at exit, together with the engine's per-process staging
directory, which it keeps under ``/tmp/die_spark_stage/p<pid>``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import procfs  # noqa: E402
from perfbench.eventlog import layer_metrics, workload_layers  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

WORKER = HERE / "worker.py"
REQUIRED = (
    ROOT / "__spark_entry__.py",
    ROOT / "data_integration_exercise_spark" / "registry.py",
    ROOT / "tools" / "emulate_driver.py",
)
RUN_BUDGET_S = 170.0  # the whole run, every worker included, must end in time
SAMPLE_INTERVAL_S = 0.2


class WorkerFailed(RuntimeError):
    pass


class ProcessTree:
    """Samples the resident memory of a process and all its descendants.

    It remembers every descendant it saw, so that after the root exits the
    caller can wait for, or stop, processes that were re-parented away from it.
    """

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.seen: dict[int, str] = {}
        self.peak_kb = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._done.is_set():
            self.sample()
            self._done.wait(SAMPLE_INTERVAL_S)

    def sample(self) -> None:
        table = procfs.proc_table()
        total = 0
        for pid in procfs.tree(self.root, table):
            self.seen.setdefault(pid, table[pid][1])
            total += procfs.rss_kb(pid)
        self.peak_kb = max(self.peak_kb, total)

    def stop(self) -> None:
        self._done.set()
        self._thread.join()

    def alive(self) -> list[int]:
        table = procfs.proc_table()
        return [pid for pid, start in self.seen.items() if table.get(pid, (0, None))[1] == start]


def _reap(proc: subprocess.Popen, tree: ProcessTree) -> None:
    """Stop the worker and every process it started, and wait for them.

    A worker exits without stopping its Spark session, so its JVM and Python
    workers are killed here once the worker has exited.
    """
    try:
        os.killpg(proc.pid, signal.SIGKILL)  # the worker, its JVM and launchers
    except ProcessLookupError:
        pass
    proc.wait()
    for pid in tree.alive():  # Python workers, which run in their own group
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while tree.alive():
        time.sleep(0.05)


def _worker_env(work: Path) -> dict[str, str]:
    tmp, local = work / "tmp", work / "local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(local),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options {shlex.quote(f'-XX:-UsePerfData -Djava.io.tmpdir={tmp}')} pyspark-shell"
        ),
    )
    return env


def spawn(mode: str, args, work: Path, deadline: float) -> dict:
    """Run one worker process to completion and return its result."""
    out = work / f"{mode}-{time.monotonic_ns()}.json"
    log_path = work / f"{mode}.log"
    with open(log_path, "a") as log:
        spawned_at = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, str(WORKER), mode, args.workload, str(args.seed),
             str(args.seconds), repr(spawned_at), str(out)],
            cwd=work, env=_worker_env(work), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        tree = ProcessTree(proc.pid)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            tree.stop()
            _reap(proc, tree)
            shutil.rmtree(f"/tmp/die_spark_stage/p{proc.pid}", ignore_errors=True)
    if rc != 0 or not out.exists():
        tail = log_path.read_text(errors="replace")[-4000:]
        raise WorkerFailed(f"{mode} worker {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    result = json.loads(out.read_text())
    result["peak_rss_mb"] = tree.peak_kb / 1024.0
    return result


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _report_passes(run: dict) -> None:
    """Each key's wall and CPU seconds per pass, on standard error."""
    for i, times in enumerate(run["passes"]):
        keys = " ".join(f"{k}={w:.3f}s/{c:.2f}cpu" for k, (w, c) in sorted(times.items()))
        wall, cpu = (sum(t[j] for t in times.values()) for j in (0, 1))
        print(f"perfbench: pass {i}: total={wall:.3f}s/{cpu:.2f}cpu {keys}", file=sys.stderr)


def end_to_end(run: dict, setups: list[float]) -> dict:
    """Each pass is divided by the mean of the reference job's runs just
    before and just after it, so that a host that speeds up or slows down
    during the run moves both alike."""
    before_cold, between, after_warm = (statistics.median(r) for r in run["references_cpu_s"])
    return {
        "setup_s": _metric(statistics.median(setups), "s"),
        "cold_pass_ref": _metric(run["cold_pass_cpu_s"] / ((before_cold + between) / 2), "ref"),
        "warm_pass_ref": _metric(
            statistics.median(run["warm_passes_cpu_s"]) / ((between + after_warm) / 2), "ref"
        ),
    }


LAYER_UNITS = {
    "cold_pass_s": "s", "warm_pass_s": "s", "cold_pass_cpu_s": "s", "warm_pass_cpu_s": "s",
    "peak_rss_mb": "MB", "session.start_s": "s",
    "build.s": "s", "build.jobs": "count", "build.self_s": "s",
    "plan.s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "scan.mb": "MB", "scan.rows": "rows", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.cpu_share": "ratio", "shuffle.write_mb": "MB",
    "shuffle.fetch_wait_s": "s", "spill.mb": "MB", "cand.attempted": "rows",
    "cand.useful": "rows", "cand.useful_ratio": "ratio", "python.run_s": "s",
    "python.start_s": "s", "python.mb_sent": "MB", "python.mb_returned": "MB",
    "stream.batches": "count", "stream.batch_ms": "ms", "stream.state_rows": "rows",
    "write.mb": "MB", "write.files": "count", "collect.s": "s", "result.rows": "rows",
    "result.mb": "MB", "trace.overhead": "ratio",
}


def per_layer(run: dict) -> dict:
    values = workload_layers(run["per_key"])
    values["cold_pass_s"] = run["cold_pass_s"]
    values["warm_pass_s"] = statistics.median(run["warm_passes_s"])
    values["cold_pass_cpu_s"] = run["cold_pass_cpu_s"]
    values["warm_pass_cpu_s"] = statistics.median(run["warm_passes_cpu_s"])
    values["peak_rss_mb"] = run["peak_rss_mb"]
    values["session.start_s"] = run["setup_s"]
    values["trace.overhead"] = run["traced_pass_s"] / statistics.mean(run["untraced_around_s"])
    return {name: _metric(values[name], unit) for name, unit in LAYER_UNITS.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--spans-out", help="write the traced pass's spans and per-key layers here")
    args = ap.parse_args()

    missing = [str(p) for p in REQUIRED if not p.exists()]
    if missing:
        print(f"perfbench: missing {', '.join(missing)}", file=sys.stderr)
        return 2
    # Turn a termination request into an exception, so that the cleanup in
    # spawn() still stops the worker's processes.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    deadline = time.monotonic() + RUN_BUDGET_S
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        if args.trace:
            run = spawn("trace", args, work, deadline)
            metrics = per_layer(run)
            if args.spans_out:
                per_key = {k: layer_metrics(raw) for k, raw in run["per_key"].items()}
                Path(args.spans_out).write_text(json.dumps(
                    {"workload": args.workload, "seed": args.seed, "metrics": metrics,
                     "per_key": per_key, "spans": run["spans"]}, indent=1))
        else:
            run = spawn("run", args, work, deadline)
            setups = [run["setup_s"], spawn("setup", args, work, deadline)["setup_s"]]
            metrics = end_to_end(run, setups)
    except WorkerFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    _report_passes(run)
    for i, refs in enumerate(run["references_cpu_s"]):
        print(f"perfbench: reference job {i}: {' '.join(f'{r:.3f}' for r in refs)} cpu s", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} failed {run['failed']}/{run['attempted']} "
        f"(failed_frac {run['failed'] / run['attempted']:.4f})",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": run["failed"] == 0,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
