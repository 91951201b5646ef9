"""In-memory spans around the benchmark's calls into each layer.

A span has a name, a start, an end, the span that caused it and the run
id shared by every span of one benchmark run.  Spans stay in memory; the
run record holds them once the run ends.  A span may carry a Spark job
tag: every Spark job started while the span is open carries the tag, so
the event log can be grouped by span afterwards (see ``eventlog.py``).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

TAG_PREFIX = "perfbench:"


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: str | None
    run_id: str
    tag: str | None = None
    py_cpu_s: float | None = None

    @property
    def wall_s(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration of ``span`` minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    cover = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.name and c.end is not None
    )
    covered, reach = 0.0, span.start
    for lo, hi in cover:
        lo = max(lo, reach)
        if hi > lo:
            covered += hi - lo
            reach = hi
    return span.wall_s - covered


class Tracer:
    """Records spans; optionally tags Spark jobs and samples the Python
    worker CPU of one JVM at each span boundary."""

    def __init__(self, run_id: str, spark_context=None, jvm_pid: int | None = None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._sc = spark_context
        self._jvm_pid = jvm_pid
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str, tagged: bool = True):
        parent = self._open[-1] if self._open else None
        tag = TAG_PREFIX + name if tagged and self._sc is not None else None
        sp = Span(name, 0.0, None, parent, self.run_id, tag)
        self.spans.append(sp)
        self._open.append(name)
        cpu0 = python_worker_cpu_s(self._jvm_pid) if self._jvm_pid else None
        if tag:
            self._sc.addJobTag(tag)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if tag:
                self._sc.removeJobTag(tag)
            if cpu0 is not None:
                sp.py_cpu_s = python_worker_cpu_s(self._jvm_pid) - cpu0
            self._open.pop()

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)


# ------------------------------------------------------------ /proc CPU
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(comm, ppid, utime+stime+cutime+cstime ticks) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listdir and open
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 of proc(5): state; ppid is field 4,
    # utime..cstime are fields 14..17
    return comm, int(fields[1]), sum(int(x) for x in fields[11:15])


def python_worker_cpu_s(root_pid: int) -> float:
    """CPU seconds of every Python process descended from ``root_pid``
    (the JVM: its PySpark daemon and the daemon's forked workers).

    Each process counts its own time plus that of its reaped children,
    so a worker that exited between two samples still counts, through
    the daemon's ``cutime``; a live child is not in ``cutime`` yet, so
    nothing is counted twice.  Resolution is one clock tick."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                procs[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, list(children.get(root_pid, []))
    while stack:
        pid = stack.pop()
        comm, _, t = procs[pid]
        if comm.startswith("python"):
            ticks += t
        stack.extend(children.get(pid, []))
    return ticks / _CLK_TCK
