"""State and helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import signal
import time
from dataclasses import dataclass, field

from .trace import Tracer


@dataclass
class Run:
    """One benchmark run: its arguments, scratch space and findings."""

    root: str  # the tree under test
    work: str  # scratch directory inside the checkout, removed at exit
    workload: str
    seed: int
    seconds: float
    traced: bool
    nproc: int
    t0: float  # perf_counter at process start; set-up is timed from here
    tracer: Tracer = field(default_factory=Tracer)
    errors: list = field(default_factory=list)
    notes: list = field(default_factory=list)  # human-readable lines

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def require(self, ok: bool, message: str) -> None:
        """Record a failed structural check; the run reports correct=false."""
        if not ok:
            self.errors.append(message)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def percentile(sorted_values: list, q: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    k = max(1, math.ceil(q / 100.0 * len(sorted_values)))
    return sorted_values[k - 1]


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z":  # a zombie has ended; only its reaping is left
            out.setdefault(int(ppid), []).append(int(name))
    return out


def descendants() -> list[int]:
    kids = _children()
    out, stack = [], list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_peak_rss_mb() -> tuple[float, str]:
    """Sum of the per-process resident high-water marks (VmHWM) over this
    process and its live descendants -- an upper bound on the tree's
    simultaneous peak, read without sampling -- and a per-process line."""
    parts = []
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        parts.append((status["Name"].strip(), int(status["VmHWM"].split()[0]) / 1024.0))
    detail = ", ".join(f"{name} {mb:.0f}" for name, mb in parts)
    return sum(mb for _, mb in parts), f"peak RSS by process (MB): {detail}"


def reap_descendants(timeout: float = 30.0) -> None:
    """Wait for every descendant to end; kill what outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10.0
    while descendants():
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {descendants()} survive SIGKILL")
        time.sleep(0.1)
