"""Process, host and span probes read from ``/proc`` and the clock."""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2 ** 20
_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids[ppid].append(int(name))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE_MB
    except OSError:
        return 0.0


def _cpu_s(pid: int) -> float:
    """User + system time of ``pid`` and of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return 0.0
    # utime, stime, cutime, cstime are fields 14-17
    fields = stat[stat.rindex(b")") + 2:].split()
    return sum(int(x) for x in fields[11:15]) * _TICK_S


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants."""
    kids = _children()
    total, stack = 0.0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += _cpu_s(pid)
        stack.extend(kids.get(pid, ()))
    return total


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", "rb") as f:
            return f.read().strip() == b"java"
    except OSError:
        return False


class RssSampler:
    """Samples the RSS of this process and all its descendants every
    ``interval`` seconds on a daemon thread. ``peak`` is the largest total
    seen, split into driver (this process), JVM and Python workers (every
    other descendant) at that sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        kids = _children()
        parts = {"driver": _rss_mb(me), "jvm": 0.0, "workers": 0.0}
        stack = list(kids.get(me, ()))
        while stack:
            pid = stack.pop()
            parts["jvm" if _is_jvm(pid) else "workers"] += _rss_mb(pid)
            stack.extend(kids.get(pid, ()))
        total = sum(parts.values())
        if total > self.peak["total"]:
            self.peak = {"total": total, **parts}

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def host_probe() -> dict[str, float]:
    """1-minute loadavg and the cumulative CPU jiffies (total, steal)."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load1, "jiffies": float(sum(cpu[:8])),
            "steal": float(cpu[7]) if len(cpu) > 7 else 0.0}


def host_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    total = after["jiffies"] - before["jiffies"]
    return {"host.loadavg_before": before["loadavg"],
            "host.loadavg_after": after["loadavg"],
            "host.steal_share": (after["steal"] - before["steal"]) / total if total else 0.0}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    sid: int


@dataclass
class Tracer:
    """In-memory span recorder. Spans of one load or query share ``op``;
    ``parent`` is the id of the enclosing span when spans nest."""
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, time.perf_counter(), 0.0, parent, op, sid)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def wrap(self, fn, name: str, op: str):
        """``fn`` with every call recorded as span ``name`` of ``op``, the
        load or query the call belongs to."""
        def wrapped(*a, **kw):
            with self.span(name, op):
                return fn(*a, **kw)
        return wrapped

    def total(self, name: str) -> dict[str, float]:
        """Per-op summed duration of spans called ``name``."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.name == name:
                out[s.op] += s.end - s.start
        return out

    def median_total(self, name: str, ops: list[str]) -> float:
        per = self.total(name)
        return statistics.median(per.get(op, 0.0) for op in ops) if ops else 0.0

    def dump(self, path: str) -> None:
        import json
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)
