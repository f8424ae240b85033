"""In-memory spans and counts recorded from the benchmark's own files.

A span wraps one call into an engine module's public function. It carries a
name (``<layer>.<function>``), start and end (``time.perf_counter``), its
parent span and a request id; spans of one request share the id. Spans stay
in memory and are written once, when the run ends. A layer's self time is
the duration of its spans minus the part of each interval that child spans
cover.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        req = request or (parent["request"] if parent else f"r{sid}")
        rec = {"id": sid, "name": name, "parent": parent and parent["id"],
               "request": req, "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched(self, module, attr: str, name: str):
        """Trace a module-level function for the duration of the block, so
        calls the engine makes to it internally are recorded too."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, attr)
        setattr(module, attr, self.wrap(name, orig))
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer (the span name's first part)."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], ())):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"].split(".")[0]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts),
                       "self_s": self.self_times()}, f)
