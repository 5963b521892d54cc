"""Shared pieces of the benchmark: statistics, spans, memory readings.

Spans are kept in memory and written out when a run ends. Every span has
a name, start and end on the CLOCK_MONOTONIC timeline (comparable across
processes on one host), a parent span id and the trace id of the run.
"""

from __future__ import annotations

import json
import math
import os
import signal
import statistics
import time
from dataclasses import asdict, dataclass, field

# Percentiles tried for a tail, highest first. The tail is the highest one
# with at least TAIL_BEYOND samples above it, so it is never estimated
# from fewer points than that; below 20 samples no percentile above the
# median is supported, and the tail is the median.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 70.0, 60.0, 50.0)
TAIL_BEYOND = 10


def now() -> float:
    return time.clock_gettime(time.CLOCK_MONOTONIC)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least TAIL_BEYOND of ``n``
    samples beyond it; the median when even it has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_BEYOND - 1e-9:  # 0.1% of 10k is 10
            return p
    return 50.0


def tail(values, n_min: int | None = None) -> tuple[float, float]:
    """(tail value, percentile used) of ``values``. A workload whose runs
    always hold at least ``n_min`` samples passes it, so every run reports
    the same percentile whatever its actual sample count."""
    p = tail_percentile(len(values) if n_min is None else n_min)
    return percentile(values, p), p


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values) -> float:
    return statistics.median(values)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: str
    attrs: dict = field(default_factory=dict)


def self_times(spans) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover
    (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = union_length(
            (max(a, s.start), min(b, s.end))
            for a, b in kids.get(s.id, ())
            if min(b, s.end) > max(a, s.start)
        )
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """In-memory span recorder. With ``enabled`` False every call is a
    no-op, so untraced runs pay nothing but the call. ``cost`` accumulates
    the tracer's own bookkeeping time, for ``trace.overhead_frac``."""

    def __init__(self, enabled: bool, trace_id: str, id_base: int = 0) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = id_base
        self.cost = 0.0

    def _new_id(self) -> int:
        self._next += 1
        return self._next

    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        t0 = now()
        sid = self._new_id()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, t0, t0, parent, self.trace_id))
        self._stack.append(sid)
        self.cost += now() - t0
        return sid

    def end(self, sid: int | None, **attrs) -> None:
        if sid is None:
            return
        t_end = now()
        span = self._find(sid)
        span.end = t_end
        span.attrs.update(attrs)
        self._stack.pop()
        self.cost += now() - t_end

    def _find(self, sid: int) -> Span:
        for s in reversed(self.spans):
            if s.id == sid:
                return s
        raise KeyError(sid)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs):
        """Record a finished span whose times were measured elsewhere."""
        if not self.enabled:
            return None
        sid = self._new_id()
        self.spans.append(Span(sid, name, start, end, parent, self.trace_id, attrs))
        return sid

    def extend(self, spans) -> None:
        self.spans.extend(spans)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["self"] = selfs[s.id]
                f.write(json.dumps(rec) + "\n")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB; 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (read from /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _running(pid: int) -> bool:
    """``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_descendants(grace_s: float = 10.0) -> list[int]:
    """Stop every process this one started, directly or not, and wait
    until each has ended: SIGTERM first, SIGKILL after ``grace_s``.
    Returns the pids that were still running. A run that ended cleanly
    has already stopped and waited for all of them."""
    me = os.getpid()
    found = [p for p in descendants(me) if _running(p)]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        live = [p for p in descendants(me) if _running(p)]
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while live and time.monotonic() < deadline:
            time.sleep(0.05)
            _reap_children()
            live = [p for p in live if _running(p)]
        if not live:
            break
    _reap_children()
    return found


def _reap_children() -> None:
    """Collect the exit status of every direct child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def tree_hwm_parts() -> dict[str, float]:
    """VmHWM in MB of this process and of its live descendants, summed
    per command name (``self``, ``java``, ``python``...)."""
    me = os.getpid()
    parts = {"self": vm_hwm_mb(me)}
    for p in descendants(me):
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        parts[comm] = parts.get(comm, 0.0) + vm_hwm_mb(p)
    return parts


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
