"""Host-speed reference: a fixed piece of work, timed beside the
workload, so that the benchmark's seconds can be given at one reference
speed of the host.

The benchmark runs on a few vCPUs of a shared host whose speed moves by
up to 2x between minutes (the same 1,520 PDFs took 2.4 s in one run
and 3.6 s in another a few minutes later, with CPU time equal to wall
time).  A second measured on a fast minute and one measured on a slow
minute are not the same amount of work, and two sets of runs made an
hour apart disagreed by 28% on unchanged code.

So every run also times ``unit()``: one decompress-and-tokenise pass over
a PDF-like content stream made from a constant seed.  It imports nothing
from ``livre_spark``, so no change to the program can move it.  Its
samples are taken on the same cores and at the same moments as the work
they correct: after every chunk of a kernel pass, and between the
pipeline calls of a crawl pass while Spark is idle.  A time ``t``
measured while ``unit()`` took ``u`` seconds on average is reported as
``t * REF_UNIT_S / u``: the seconds the same work would take on a host
on which ``unit()`` takes ``REF_UNIT_S``.
"""

from __future__ import annotations

import gc
import os
import random
import re
import time
import zlib

# The seconds one unit() takes at the reference speed: about this box's
# typical speed (9-12 ms per unit on a quiet minute).
REF_UNIT_S = 0.010

_rng = random.Random(20261018)
_WORDS = ["".join(_rng.choice("abcdefghijklmnopqrstuvwxyz")
                  for _ in range(_rng.randint(2, 9))) for _ in range(400)]
_STREAM = zlib.compress("".join(
    f"BT /F{i % 5} {_rng.randint(6, 14)} Tf {_rng.randint(0, 600)} "
    f"{_rng.randint(0, 800)} Td ({_rng.choice(_WORDS)}) Tj ET\n"
    for i in range(1500)).encode(), 6)
_TOKEN = re.compile(
    rb"\(([^)]*)\)|/([A-Za-z0-9]+)|(-?\d+(?:\.\d+)?)|([A-Za-z*']+)")


def unit() -> int:
    """The reference work: inflate the stream, tokenise it, run a small
    operator state machine over the tokens and join the shown strings."""
    stack: list = []
    shown: list[str] = []
    fonts: dict[str, int] = {}
    for m in _TOKEN.finditer(zlib.decompress(_STREAM)):
        string, name, number, op = m.groups()
        if string is not None:
            stack.append(string.decode("latin-1"))
        elif name is not None:
            stack.append(name.decode())
        elif number is not None:
            stack.append(float(number))
        else:
            if op == b"Tj" and stack:
                shown.append(stack[-1])
            elif op == b"Tf" and len(stack) >= 2:
                fonts[stack[-2]] = fonts.get(stack[-2], 0) + 1
            stack.clear()
    return len(" ".join(shown)) + len(fonts)


class HostSpeed:
    """Timed samples of ``unit()``; ``scale(samples)`` turns measured
    seconds into reference seconds."""

    def __init__(self):
        self.cpus = sorted(os.sched_getaffinity(0))
        self.spent_s = 0.0  # time spent sampling, kept out of set-up time
        for _ in range(3):  # first calls pay the regex compile and caches
            unit()

    def sample(self, n: int) -> list[float]:
        """``n`` timed units on the calling thread, where it runs now.
        The cyclic GC is off meanwhile: its passes walk the whole heap of
        this process, so with it on, ``unit()`` read up to 15% slower
        once the benchmark held the previous pass's rows."""
        out = []
        t_start = time.perf_counter()
        was_enabled = gc.isenabled()
        gc.disable()
        try:
            for _ in range(n):
                t0 = time.perf_counter()
                unit()
                out.append(time.perf_counter() - t0)
        finally:
            if was_enabled:
                gc.enable()
        self.spent_s += time.perf_counter() - t_start
        return out

    def burst(self, per_cpu: int = 4) -> list[float]:
        """``per_cpu`` units on each core in turn, then the thread is free
        to run anywhere again."""
        out = []
        try:
            for cpu in self.cpus:
                os.sched_setaffinity(0, {cpu})
                out += self.sample(per_cpu)
        finally:
            os.sched_setaffinity(0, self.cpus)
        return out

    @staticmethod
    def scale(samples: list[float]) -> float:
        """Reference seconds per measured second while ``samples`` were
        taken."""
        return REF_UNIT_S * len(samples) / sum(samples)


def at_reference(metrics: dict[str, float], scale: float) -> dict[str, float]:
    """``metrics`` with every time (a name ending in ``_s`` or holding
    ``_ms``) given in reference seconds; counts and ratios unchanged."""
    return {k: v * scale if k.endswith("_s") or "_ms" in k else v
            for k, v in metrics.items()}
