"""Spans recorded from the benchmark's side of each layer boundary, plus
the /proc readings the metrics need (resident memory, CPU seconds).

A span is (id, parent, name, start, end, run id).  Spans stay in memory
and are written out once, when the run ends.  A span's self time is its
duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every probe a
    plain call, so untraced runs pay nothing but the attribute lookup."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "run_id": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, measure=None):
        """``fn`` wrapped in a span; ``measure(result)`` -> attrs added to
        the span (e.g. bytes returned)."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if measure is not None and rec is not None:
                    rec.update(measure(out))
                return out
        return traced

    def self_times(self, within: tuple[float, float] | None = None
                   ) -> dict[str, float]:
        """Sum of self time per span name (optionally only spans that
        start inside ``within``)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if within and not within[0] <= s["start"] <= within[1]:
                continue
            own = (s["end"] - s["start"]) - child_time[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def totals(self, name: str, key: str | None = None,
               within: tuple[float, float] | None = None) -> float:
        """Sum of durations (or of attribute ``key``) of spans ``name``."""
        tot = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            if within and not within[0] <= s["start"] <= within[1]:
                continue
            tot += s.get(key, 0) if key else s["end"] - s["start"]
        return tot

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, separators=(",", ":")) + "\n")


@contextlib.contextmanager
def patched(target, attr: str, value):
    """Temporarily replace ``target.attr``."""
    old = getattr(target, attr)
    setattr(target, attr, value)
    try:
        yield
    finally:
        setattr(target, attr, old)


# ---------------------------------------------------------------------------
# /proc readings of the run's own processes
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks from threads
    other than its main one)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(p) for p in fh.read().split()]
        except OSError:
            continue
    return out


def descendants(pid: int | None = None) -> list[int]:
    todo = [pid or os.getpid()]
    out = []
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def vm_hwm_mb(pid: int | None = None) -> float:
    """Peak resident set (VmHWM) of one process, MB."""
    try:
        with open(f"/proc/{pid or 'self'}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime (+ reaped children) of ``pids``, seconds."""
    tot = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        tot += sum(int(f) for f in fields[11:15])
    return tot / _CLK
