"""Runs the reference job (``Reference.java``) and reads its CPU time.

The job measures how fast the host runs at the moment: it touches nothing of
the engine, so only the host moves it. The benchmark divides each pass's CPU
seconds by the reference job's CPU seconds taken just before and just after
the pass.
"""

from __future__ import annotations

import os
import subprocess
import time
from pathlib import Path

SOURCE = Path(__file__).resolve().parent / "Reference.java"
TIMEOUT_S = 60.0


class ReferenceFailed(RuntimeError):
    pass


def _java() -> str:
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def reference_cpu_s() -> list[float]:
    """CPU seconds (user plus system, all threads) of the reference job, run
    once on every CPU at once."""
    cmd = [_java(), "-XX:-UsePerfData", "-Xmx256m", str(SOURCE)]
    deadline = time.monotonic() + TIMEOUT_S
    procs = [
        subprocess.Popen(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        for _ in os.sched_getaffinity(0)
    ]
    cpu = []
    try:
        for p in procs:
            while (status := os.wait4(p.pid, os.WNOHANG))[0] == 0:
                if time.monotonic() > deadline:
                    raise ReferenceFailed("reference job timed out")
                time.sleep(0.02)
            p.returncode = os.waitstatus_to_exitcode(status[1])
            if p.returncode != 0:
                raise ReferenceFailed(f"reference job exited {p.returncode}")
            cpu.append(status[2].ru_utime + status[2].ru_stime)
    finally:
        for p in procs:
            if p.returncode is None:
                p.kill()
                p.wait()
    return cpu
