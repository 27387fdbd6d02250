"""Measurement primitives: process-tree CPU, host steal and peak RSS
from ``/proc``, the host-speed calibration, percentiles, and the per-op
ledger that counts every attempted op (a raised error and a wrong
answer both count as failed).
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# /proc readers
# --------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) of the
    process tree rooted at ``root``: the Python driver, its JVM and the
    Python workers the JVM forks."""
    root = os.getpid() if root is None else root
    total = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields:
            # utime stime cutime cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def host_steal_s() -> float:
    """Cumulative steal time of the host, all CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / CLK_TCK


def process_start_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of one process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def java_pids() -> list[int]:
    out = []
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    out.append(pid)
        except OSError:
            pass
    return out


# --------------------------------------------------------------------------
# host speed
# --------------------------------------------------------------------------

CALIB_LOOPS = 200_000


def calibrate() -> float:
    """Thread CPU seconds of a fixed pure-Python loop. It does not depend
    on the package, so its cost shows how fast the host's cores ran at
    that moment; time the thread is descheduled does not count. Runs
    record it next to host steal to explain noise; it is not used to
    scale any metric (README.md, "Steadiness")."""
    c0 = time.thread_time()
    s = 0
    for i in range(CALIB_LOOPS):
        s += i * i % 7
    return time.thread_time() - c0


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def n_beyond(values: list[float], threshold: float) -> int:
    return sum(1 for v in values if v > threshold)


def digest(rows) -> str:
    """Order-insensitive digest of normalised result rows."""
    h = hashlib.sha1()
    for r in sorted(repr(x) for x in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


# --------------------------------------------------------------------------
# the op ledger
# --------------------------------------------------------------------------


@dataclass
class OpRecord:
    op: str
    phase: str            # "warmup", "untraced" or "measure"
    wall_s: float
    cpu_s: float
    ok: bool
    rows: int = 0
    detail: str = ""
    layers: dict = field(default_factory=dict)
    calib_s: float = 0.0    # host-speed sample taken right after the op


@dataclass
class Ledger:
    """Every op attempted, in order. Only ``measure`` ops feed the
    end-to-end metrics; a failed op stays in the denominator."""

    records: list[OpRecord] = field(default_factory=list)

    def add(self, rec: OpRecord) -> None:
        self.records.append(rec)

    def phase(self, name: str) -> list[OpRecord]:
        return [r for r in self.records if r.phase == name]

    def counts(self, name: str = "measure") -> tuple[int, int]:
        ops = self.phase(name)
        return len(ops), sum(1 for r in ops if not r.ok)

    def failed_frac(self, name: str = "measure") -> float:
        attempted, failed = self.counts(name)
        return failed / attempted if attempted else 1.0

    def figures(self) -> dict[str, float]:
        """Wall percentiles, throughput of correct ops and CPU per op of
        the measured ops."""
        ops = self.phase("measure")
        walls = [r.wall_s for r in ops]
        timed = sum(walls)
        ok = [r for r in ops if r.ok]
        return {
            "op_p50_s": percentile(walls, 50),
            "op_p90_s": percentile(walls, 90),
            "ops_per_s": len(ok) / timed,
            "rows_per_s": sum(r.rows for r in ok) / timed,
            "cpu_s_per_op": sum(r.cpu_s for r in ops) / len(ops),
        }


class Stopwatch:
    """Wall and process-tree CPU of one timed region."""

    def __enter__(self) -> "Stopwatch":
        self.cpu0 = tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_s() - self.cpu0
