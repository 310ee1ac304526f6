"""Summary statistics, failure accounting and host-noise readings.

Pure Python with no Spark import, so the unit tests in ``tests/`` run
without a JVM.
"""

from __future__ import annotations

import math
import os
import resource
import statistics

#: Percentiles the tail rule may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
#: A percentile is reported only with at least this many samples above it.
MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    ordered = sorted(values)
    return ordered[_rank(len(ordered), pct) - 1]


def _rank(n: int, pct: float) -> int:
    # rounding first keeps 99.9% of 10000 at rank 9990, not 9991
    return max(1, math.ceil(round(pct / 100.0 * n, 9)))


def samples_beyond(n: int, pct: float) -> int:
    """Samples ranked above the nearest-rank ``pct`` percentile."""
    return n - _rank(n, pct)


def latency_summary(values: list[float]) -> dict:
    """The median and the highest percentile of ``TAIL_LADDER`` with at
    least ``MIN_BEYOND`` samples beyond it (``tail_pct`` is None when no
    ladder percentile qualifies), with the sample count."""
    out = {"n": len(values), "p50": None, "tail_pct": None, "tail": None}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    for pct in TAIL_LADDER:
        if samples_beyond(len(values), pct) >= MIN_BEYOND:
            out["tail_pct"] = pct
            out["tail"] = percentile(values, pct)
            break
    return out


class Tally:
    """Attempted and failed operations. An operation is attempted once;
    it fails when it raises or when a later check finds its result
    wrong, and it counts as failed at most once."""

    def __init__(self) -> None:
        self.attempted = 0
        self._failed: dict[int, str] = {}

    def attempt(self) -> int:
        """Count one operation; returns its id for later ``fail`` calls."""
        self.attempted += 1
        return self.attempted

    def fail(self, op_id: int, reason: str) -> None:
        if not 1 <= op_id <= self.attempted:
            raise ValueError(f"unknown operation id {op_id}")
        self._failed.setdefault(op_id, reason)

    @property
    def failed(self) -> int:
        return len(self._failed)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def reasons(self) -> list[str]:
        return [self._failed[k] for k in sorted(self._failed)]


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def load_average() -> float:
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return 0.0


class HostNoise:
    """CPU steal over an interval plus the 1-minute load average at its
    end, so a run on a busy host is flagged instead of being read as a
    regression."""

    def __init__(self) -> None:
        self._steal0, self._total0 = cpu_jiffies()

    def reading(self, own_workers: int) -> dict:
        steal1, total1 = cpu_jiffies()
        steal = steal1 - self._steal0
        steal_pct = 100.0 * steal / max(total1 - self._total0, 1)
        load1 = load_average()
        return {
            "steal_jiffies": steal,
            "steal_pct": round(steal_pct, 2),
            "loadavg_1m": load1,
            "host_loaded": steal_pct > 5.0 or load1 - own_workers > 4.0,
        }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python process plus the JVM's."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid:
        kb += _vm_hwm_kb(jvm_pid)
    return kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
