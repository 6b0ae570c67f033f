"""In-memory spans around calls into the program's layers.

A span has a name, a start, an end, the span that caused it and the run's
trace id.  Spans stay in memory until ``write`` at the end of the run.
While a span carries a Spark job group, every Spark job started inside it
is tagged with ``setJobGroup(<group>)`` so the event log can file task
counters under the layer.

``NullTracer`` is the untraced run's stand-in for the calls every run
makes (``span``, ``unwrap_all``); it records nothing.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, group: str | None = None):
        yield None

    def unwrap_all(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, sc, trace_id: str):
        self.sc = sc
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, group: str | None = None):
        stack = self._stack()
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = stack[-1] if stack else None
        sp = {
            "id": sid,
            "trace": self.trace_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": group or (parent["group"] if parent else None),
        }
        if group is not None:
            self.sc.setJobGroup(group, name)
        stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if group is not None:
                outer = stack[-1]["group"] if stack else None
                if outer is not None:
                    self.sc.setJobGroup(outer, stack[-1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(sp)

    def count(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[name] += value

    def wrap(self, owner, attr: str, name, group: str | None = None, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name`` (a string, or a function of the call's arguments) and
        then calls ``after(span, args, kwargs, result)``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            with self.span(label, group) as sp:
                res = orig(*args, **kwargs)
            if after is not None:
                after(sp, args, kwargs, res)
            return res

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- summaries ----------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"].startswith(prefix))

    def group_wall(self) -> dict[str, float]:
        """Wall seconds per job group, counting only the outermost span
        of each group so nested spans are not counted twice."""
        by_id = {s["id"]: s for s in self.spans}
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["group"] is None:
                continue
            p = by_id.get(s["parent"])
            if p is not None and p["group"] == s["group"]:
                continue
            out[s["group"]] += s["end"] - s["start"]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
