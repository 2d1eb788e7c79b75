"""Measurement helpers: percentiles, peak RSS, a py4j call counter and an
in-memory span recorder with per-layer self time.

Nothing here imports Spark; the Spark-side readers live in sparkstats.py.
"""

from __future__ import annotations

import contextlib
import math
import statistics
import threading
import time
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail_percentile(values: list[float]) -> tuple[float, int, float]:
    """The highest whole percentile with at least 10 samples beyond it:
    ``(percentile, n, value)``.  Beyond means strictly slower in rank:
    with n sorted samples, percentile p leaves ``n - ceil(n*p/100)``
    samples after its rank, so p = floor(100*(n-10)/n), clamped at 0.
    With 10 or fewer samples no percentile qualifies and p0 (the
    minimum) is reported, so the rule never reports a sample with fewer
    than 10 beyond it."""
    n = len(values)
    if n == 0:
        return (0.0, 0, 0.0)
    p = max(0, math.floor(100 * (n - 10) / n))
    rank = max(1, math.ceil(n * p / 100))  # nearest-rank, 1-based
    return (float(p), n, sorted(values)[rank - 1])


def read_vmhwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM, kB) of ``pid`` from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM line for pid {pid}")


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far, from /proc/stat.  A
    virtual machine whose host is oversubscribed loses ``steal`` time; runs
    with a high steal share measure the host more than the program."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


class Py4JCounter:
    """Counts py4j commands the calling thread sends to the JVM.

    Memory commands (``py4j.protocol.MEMORY_COMMAND_NAME``) are the
    garbage collector's detach messages for Python-side proxies; when
    they are sent depends on Python GC timing, not on the work, so they
    are not counted.  Only the thread that installed the counter is
    counted, so JVM-to-Python callbacks (e.g. a streaming listener) that
    issue their own commands do not leak into the count."""

    def __init__(self) -> None:
        self.calls = 0
        self._thread = threading.get_ident()
        self._patched: list[tuple[type, object]] = []

    def observe(self, command: str) -> None:
        from py4j.protocol import MEMORY_COMMAND_NAME

        if threading.get_ident() == self._thread and not command.startswith(
            MEMORY_COMMAND_NAME
        ):
            self.calls += 1

    def install(self) -> "Py4JCounter":
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        for cls in (ClientServerConnection, GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, _orig=orig, _counter=self):
                _counter.observe(command)
                return _orig(conn, command)

            self._patched.append((cls, orig))
            cls.send_command = send_command
        return self

    def uninstall(self) -> None:
        for cls, orig in reversed(self._patched):
            cls.send_command = orig
        self._patched.clear()


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans (name, start, end, parent, op id).  ``span`` is a
    context manager; the innermost open span is the parent of the next.
    The py4j counter, if given, is sampled at span edges so each span
    carries the commands sent while it was open."""

    def __init__(self, py4j: Py4JCounter | None = None) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1
        self.py4j = py4j

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        idx = len(self.spans) - 1
        if self.py4j is not None:
            self.spans[idx].counts["py4j0"] = self.py4j.calls
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        assert self._stack and self._stack[-1] == idx, "spans must nest"
        self._stack.pop()
        s = self.spans[idx]
        s.end = time.perf_counter()
        if self.py4j is not None:
            s.counts["py4j_calls"] = self.py4j.calls - s.counts.pop("py4j0")

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield self.spans[idx]
        finally:
            self.end(idx)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed self time: each span's duration minus the
    part of its interval covered by its direct children (children nest,
    so their intervals are disjoint and inside the parent's)."""
    covered = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            covered[s.parent] += s.end - s.start
    out: dict[str, float] = {}
    for s, c in zip(spans, covered):
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - c
    return out


def layer_of(span_name: str) -> str:
    """Layer of a span named ``<layer>.<call>``."""
    return span_name.split(".", 1)[0]
