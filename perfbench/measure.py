"""Small measurement helpers: percentiles, directory sizes, process RSS and
the reference job that gauges the host's speed."""

from __future__ import annotations

import os
import statistics
import time


class RefJob:
    """A fixed one-stage Spark job that runs no engine code, timed to gauge
    how fast the shared host is at a given moment.

    The host's speed shifts by up to 2x within minutes. So the run times
    this job AROUND times right before and right after the window and
    PER_CALL times after every engine call the window times, and the result
    line scales the window's times by REF_JOB_MS / the median of these
    probes. One probe is mostly Spark's per-job cost and varies by about
    25%, so the median needs about fifty of them to be good to 5%."""

    AROUND = 12
    PER_CALL = 2

    def __init__(self, spark, cores: int) -> None:
        self.job = spark.range(0, 20_000_000, numPartitions=cores).selectExpr(
            "sum(id * id % 7)"
        )
        self.job.collect()   # untimed warm-up: planning and codegen
        self.ms: list[float] = []

    def repeat(self, reps: int) -> None:
        for _ in range(reps):
            t0 = time.perf_counter()
            self.job.collect()
            self.ms.append((time.perf_counter() - t0) * 1000.0)


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of `xs` with at least
    ten samples beyond it. With ten samples or fewer no percentile has ten
    beyond it, and the maximum is reported as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return float(s[-1]), 100.0, n
    i = n - 11
    return float(s[i]), round(100.0 * (i + 1) / n, 1), n


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0
