"""Pure helpers of the benchmark: percentiles, failure accounting, the
metric-name grammar and process-tree memory sampling.

Nothing here imports Spark, so the benchmark's own tests run without a
session.
"""

from __future__ import annotations

import os
import re
import statistics
from dataclasses import dataclass, field

# A metric name starts with a letter or digit and holds at most 64
# letters, digits, ``_``, ``.`` and ``-``; a unit at most 16 letters,
# digits, ``_``, ``/``, ``%``, ``.`` and ``-``.
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
METRIC_UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

TAIL_MIN_BEYOND = 10

# CPU steal (time the hypervisor gave this VM's vCPUs to others) above
# which a run is flagged: the bounds of BENCHMARK.json were set on runs
# below it
STEAL_FLAG = 0.05


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def valid_metric_unit(unit: str) -> bool:
    return METRIC_UNIT.fullmatch(unit) is not None


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    above it, never below the median: returns ``(value, percentile)``.

    With n samples sorted ascending, the value at 1-based rank n - 10
    has exactly ten samples beyond it; its percentile is
    100 * (n - 10) / n. When fewer than twenty samples make that rank
    fall below the median, the median is the tail and the percentile
    reported is 50, so the caller can see the tail is not a real one.
    """
    if not samples:
        raise ValueError("tail of no samples")
    n = len(samples)
    pct = 100.0 * (n - TAIL_MIN_BEYOND) / n
    if pct < 50.0:
        return statistics.median(samples), 50.0
    return sorted(samples)[n - TAIL_MIN_BEYOND - 1], pct


def median_of_medians(samples: dict[str, list[float]]) -> float:
    """The median, over the executions of a workload, of each one's median
    time across passes. A pass slowed as a whole (a burst of CPU steal)
    moves each execution's median only when it hits most of its passes,
    where the median of the pooled samples of executions with different
    costs moves with a single pass."""
    return statistics.median(statistics.median(v) for v in samples.values())


@dataclass
class Tally:
    """Execution accounting: every execution is attempted once and is
    either correct or failed (raised, or its output check failed)."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, name: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.failures.append(f"{name}: {error}")

    @property
    def correct(self) -> int:
        return self.attempted - self.failed

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # the command name sits in parentheses and may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class RssPeaks:
    """Peak resident memory of this process and everything it started
    (the Spark JVM and its Python workers), read from ``/proc``.

    Each ``sample`` reads every process's own high-water mark (VmHWM),
    keeping the largest seen per pid, so a worker that exits between
    samples still counts. ``total_mb`` sums the per-process peaks: an
    upper bound on the peak of the sum that needs no sampling thread.
    """

    def __init__(self, root: int | None = None):
        self.root = root if root is not None else os.getpid()
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in descendants(self.root):
            kb = _hwm_kb(pid)
            if kb is not None and kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb

    def total_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


def other_spark_jvms(own_root: int | None = None) -> list[int]:
    """Pids of Spark JVMs that this process did not start."""
    own = set(descendants(own_root if own_root is not None else os.getpid()))
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) in own:
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            found.append(int(entry))
    return found


def cpu_ticks(path: str = "/proc/stat") -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat``: user, nice,
    system, idle, iowait, irq, softirq, steal (guest time is already
    inside user and nice)."""
    with open(path) as f:
        for line in f:
            if line.startswith("cpu "):
                return [int(v) for v in line.split()[1:9]]
    raise ValueError(f"no cpu line in {path}")


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two ``cpu_ticks`` readings that the
    hypervisor stole."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total else 0.0
