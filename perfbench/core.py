"""Workload interface shared by the three workloads."""

from __future__ import annotations

import contextlib
import os
from collections import Counter
from dataclasses import dataclass, field

_TICKS = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """CPU seconds used so far by this process and every process under it:
    the Spark JVM with its JIT compiler and GC threads, and the Python
    workers. A child that has exited counts through its parent's totals
    (cutime, cstime), a live one through its own."""
    ppid, used = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:              # the process ended while listed
            continue
        pid = int(entry)
        ppid[pid] = int(fields[1])
        used[pid] = sum(int(f) for f in fields[11:15])
    tree = {os.getpid()}
    grown = True
    while grown:
        kids = {p for p, parent in ppid.items() if parent in tree} - tree
        tree |= kids
        grown = bool(kids)
    return sum(used.get(p, 0) for p in tree) / _TICKS


@dataclass
class OpResult:
    """One operation: a backfill, a CDC cycle or an analytics pass."""
    seconds: float
    items: int                      # records committed or queries run
    latencies: list[float]          # one per item
    problems: list[str]             # failed correctness checks
    cpu_s: float = 0.0              # CPU seconds of the timed sections
    counters: Counter = field(default_factory=Counter)
    traced: bool = False
    label: str = ""


class Workload:
    """A workload builds its state in ``setup`` and runs closed-loop
    operations with ``run_op``; each operation checks its own output.
    ``setup_per_op`` workloads start every operation from a fresh setup."""

    name = ""
    setup_per_op = False

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = None

    def setup(self) -> None:
        raise NotImplementedError

    def run_op(self) -> OpResult:
        raise NotImplementedError

    def instrument(self, tracer) -> None:
        """Wrap the public calls this workload makes so they record spans."""
        self.tracer = tracer

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    @contextlib.contextmanager
    def checking(self):
        """Pause tracing while the benchmark checks outputs, so the
        per-layer metrics count only the program's own calls."""
        if self.tracer is None:
            yield
            return
        enabled, self.tracer.enabled = self.tracer.enabled, False
        try:
            yield
        finally:
            self.tracer.enabled = enabled

    def named_metrics(self, cold: OpResult, warm: list[OpResult]) -> list:
        """(name, value, unit, note) of the workload's own end-to-end
        metrics, printed beside the gated ones."""
        return []

    def layer_metrics(self, cold: OpResult, traced: list[OpResult]) -> dict:
        """Per-layer metrics of this workload's layers from the traced
        operations; layers it does not exercise are left out."""
        return {}
