"""Pure helpers the benchmark's numbers rest on (self-tested in
``test_bench_logic.py``): the median, the geometric mean and peak RSS
from ``/proc``."""

from __future__ import annotations

import math
import os
import statistics


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def geomean(xs) -> float:
    xs = list(xs)
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def child_pids() -> dict[int, list[int]]:
    """pid → its children's pids, for every process in /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command field is parenthesised and may contain spaces
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    return children


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as fh:
        return fh.read().strip()


def peak_rss_mb(root_pid: int | None = None, child_comms=("java",)) -> float:
    """Peak resident set (VmHWM) of ``root_pid`` plus every descendant
    whose command name is in ``child_comms`` — for the benchmark, the
    Python driver plus the driver JVM it launched.  Python workers that
    the JVM forks are not counted."""
    root = os.getpid() if root_pid is None else root_pid
    children = child_pids()
    total = _status_kb(root, "VmHWM")
    stack = list(children.get(root, []))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            if _comm(pid) in child_comms:
                total += _status_kb(pid, "VmHWM")
        except OSError:
            continue
    return total / 1024.0
