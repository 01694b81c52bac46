"""In-memory span recorder for the benchmark's traced runs.

A span covers one call the benchmark makes into an engine layer. Each span
carries a name (``<layer>.<what>``), start and end (``time.perf_counter``
seconds), the id of the span that was open around it, and a run id that
groups the spans of one operation (one governed run, one request, one
stream drain). Spans stay in memory; :meth:`Tracer.dump` writes them out
when the benchmark ends. A disabled tracer records nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()  # per-thread stack of (span id, run id)

    @contextlib.contextmanager
    def span(self, name: str, run: str | None = None):
        """Time the block as span ``name``; ``run`` defaults to the run id of
        the span open around it on this thread."""
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent, outer_run = stack[-1] if stack else (None, "-")
        run = run or outer_run
        sid = next(self._ids)
        stack.append((sid, run))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start,
                                   "end": end, "parent": parent, "run": run})

    def add(self, name: str, start: float, end: float, parent_name: str | None = None,
            run: str = "-") -> None:
        """Record a span measured elsewhere (e.g. a streaming trigger reported
        by the engine's progress events), under the latest span ``parent_name``."""
        if not self.enabled:
            return
        with self._lock:
            parent = next((s["id"] for s in reversed(self.spans)
                           if s["name"] == parent_name), None)
            self.spans.append({"id": next(self._ids), "name": name, "start": start,
                               "end": end, "parent": parent, "run": run})

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time covered by its child spans
        (children of one parent are merged as intervals, so overlapping
        children are not double-subtracted)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def layer_self_seconds(self) -> dict[str, float]:
        """Total self time per layer (the span name's first component)."""
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + st[s["id"]]
        return out

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([{**s, "self": st[s["id"]]} for s in self.spans], fh)
