"""In-memory span recorder used by the traced run.

Spans are recorded from the benchmark's own files only: either around
a block (:meth:`Tracer.span`) or by replacing a public function or
method of the program with a wrapper (:meth:`Tracer.wrap`) for the
lifetime of the process. Nothing inside the package is edited.

Each span has an id, a name, start and end (``perf_counter_ns``), the
id of the span that was open on the same thread when it started (its
parent), and free-form attributes. Spans stay in memory and are
written as JSON lines by :meth:`Tracer.dump` when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span around the block; yields the attribute dict
        so the block can add counts it learns while running."""
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": stack[-1] if stack else None,
               "thread": threading.get_ident(), "attrs": attrs}
        stack.append(sid)
        rec["start"] = time.perf_counter_ns()
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter_ns()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, on_exit=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper. ``on_exit``
        is called as ``on_exit(attrs, args, kwargs, result)`` inside
        the span after the call returns, to attach counts."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as attrs:
                result = original(*args, **kwargs)
                if on_exit is not None:
                    on_exit(attrs, args, kwargs, result)
                return result

        setattr(owner, attr, traced)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def summary(self) -> dict[str, dict]:
        """Per span name: call count, total and self time in ms. Self
        time is a span's duration minus that of its direct children
        (children on one thread nest strictly, so they never overlap)."""
        child_ns: dict[int, int] = defaultdict(int)
        for s in self.spans:
            if s["parent"] is not None:
                child_ns[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            agg["count"] += 1
            agg["total_ms"] += dur / 1e6
            agg["self_ms"] += (dur - child_ns.get(s["id"], 0)) / 1e6
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, default=str) + "\n")


def span_cost_ns() -> float:
    """Measured cost of one traced call over an untraced one, in ns:
    the basis of the reported tracing overhead."""
    class Probe:
        @staticmethod
        def f(x):
            return x

    calls = 20_000
    plain = Probe.f
    t0 = time.perf_counter_ns()
    for i in range(calls):
        plain(i)
    base = time.perf_counter_ns() - t0
    tracer = Tracer()
    tracer.wrap(Probe, "f", "probe")
    t0 = time.perf_counter_ns()
    for i in range(calls):
        Probe.f(i)
    traced = time.perf_counter_ns() - t0
    return max(0.0, (traced - base) / calls)
