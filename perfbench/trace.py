"""Wrapper spans for the traced benchmark run.

Spans (name, start, end, parent) are kept in memory and written when
the run ends. Driver-side spans come from wrapping the package's
public entry points for the duration of one job; spans of the fetch
callback, which runs inside Spark's Python workers, travel back to the
driver through a list accumulator.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time

from pyspark.accumulators import AccumulatorParam


class ListParam(AccumulatorParam):
    """Accumulates lists by concatenation."""

    def zero(self, value):
        return []

    def addInPlace(self, value1, value2):  # noqa: N802 - pyspark name
        value1.extend(value2)
        return value1


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"name": name, "start": t0, "end": t1, "parent": parent}
                )

    def wrap(self, owner, attr: str, name: str):
        """Context manager that wraps ``owner.attr`` in a span while
        active and restores it on exit."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        @contextlib.contextmanager
        def installed():
            setattr(owner, attr, wrapped)
            try:
                yield
            finally:
                setattr(owner, attr, original)

        return installed()

    def total(self, name: str) -> tuple[int, float]:
        """(calls, summed seconds) of the spans named ``name``."""
        durations = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return len(durations), sum(durations)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def timed_fetcher(fetch, acc):
    """Fetch callback that adds one (start, end, urls) span per call to
    the accumulator ``acc``."""

    def fetch_traced(req):
        t0 = time.time()
        out = fetch(req)
        acc.add([(t0, time.time(), len(req))])
        return out

    return fetch_traced


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total
