"""Spans and counts recorded by the benchmark around calls into the
library, plus process readings from ``/proc``.

Spans are kept in memory and reduced after the Spark session stops (its
event log is complete then). A disabled tracer records nothing, so the
untraced runs pay no tracing cost.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[str, int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; it is wrapped in the first "(" and last ")"
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    return comm, int(rest[1]), rest


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) of every
    Python process below the JVM: the PySpark daemon and its workers.
    Spark's executor CPU metric leaves this time out."""
    parent: dict[int, int] = {}
    info: dict[int, tuple[str, list[str]]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        st = _stat(pid)
        if st is None:
            continue
        comm, ppid, rest = st
        parent[int(pid)] = ppid
        info[int(pid)] = (comm, rest)
    total = 0
    for pid, (comm, rest) in info.items():
        if "python" not in comm:
            continue
        p = parent.get(pid)
        while p is not None and p != jvm_pid and p > 1:
            p = parent.get(p)
        if p == jvm_pid:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(x) for x in rest[11:15])
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    def __init__(self, enabled: bool, jvm_pid: int | None = None):
        self.enabled = enabled
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "counts": {},
            "py0": python_worker_cpu_s(self.jvm_pid),
            "t0": time.time(),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["t1"] = time.time()
            sp["py_cpu_s"] = python_worker_cpu_s(self.jvm_pid) - sp["py0"]
            self._stack.pop()

    def count(self, sp: dict | None, key: str, value: float) -> None:
        if sp is not None:
            sp["counts"][key] = sp["counts"].get(key, 0) + value
