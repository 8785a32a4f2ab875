"""In-memory spans for the benchmark's traced mode.

A span is (id, name, start, end, parent, op): ``parent`` is the span
open on the same thread when it started, ``op`` groups the spans of one
benchmark operation (a span without one takes its parent's). Spans stay
in memory and are written out once, when the run ends, with each span
name's self time. A disabled tracer records nothing and costs one
attribute test per span.

``Tracer.wrap`` times the program's own calls to a module function: the
package imports its internal helpers inside the calling function, so a
shim set on the module attribute sees every real call with its real
arguments, and the traced path does no work the untraced one skips.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, name, start, end, parent, op)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: "int | None" = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)  # reserve the id
        parent, parent_op = stack[-1] if stack else (None, None)
        if op is None:
            op = parent_op
        stack.append((sid, op))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans[sid] = (sid, name, start, end, parent, op)

    def add(self, name: str, start: float, end: float, op=None):
        """Record a span measured elsewhere (e.g. Spark's progress events)."""
        if not self.enabled:
            return
        with self._lock:
            sid = len(self.spans)
            self.spans.append((sid, name, start, end, None, op))

    @contextmanager
    def wrap(self, module, attr: str, name: str):
        """While open, every call to ``module.attr`` is a span ``name``."""
        orig = getattr(module, attr)

        def shim(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, shim)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def durations_ms(self, name: str, under: "str | None" = None) -> list[float]:
        """Durations of the spans ``name``; with ``under``, only those
        whose parent span is named ``under``."""
        def parent_name(s):
            return None if s[4] is None else self.spans[s[4]][1]

        return [
            (s[3] - s[2]) * 1e3 for s in self.spans
            if s and s[1] == name and (under is None or parent_name(s) == under)
        ]

    def p50_ms(self, name: str, under: "str | None" = None) -> float:
        d = self.durations_ms(name, under)
        return statistics.median(d) if d else 0.0

    def self_time_s(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover (children of one span never overlap here: they
        run on the parent's thread, one after another)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s and s[4] is not None:
                child[s[4]] += s[3] - s[2]
        out: dict[str, float] = {}
        for s in self.spans:
            if s:
                out[s[1]] = out.get(s[1], 0.0) + (s[3] - s[2]) - child[s[0]]
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                if s:
                    f.write(json.dumps(dict(zip(
                        ("id", "name", "start", "end", "parent", "op"), s
                    ))) + "\n")
            f.write(json.dumps({"self_time_s": self.self_time_s(), **extra}) + "\n")


def span_cost_us() -> float:
    """Measured cost of recording one span where the benchmark runs, in µs."""
    n = 20000
    probe = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with probe.span("probe"):
            pass
    return (time.perf_counter() - t0) / n * 1e6
