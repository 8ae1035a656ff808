"""In-memory spans recorded by the benchmark around its calls into each
layer. Spans are kept in a list and written out once, when the run ends."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Nested spans on one thread: each has a name, a layer, a start, an end
    and the id of the span that was open when it began. A disabled tracer
    records nothing and costs one attribute check per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        """Record the enclosed block; yields the span's id (None when off)."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec["id"]
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def _subtree(self, root: int) -> list[dict]:
        """The span ``root`` and every span below it."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out, stack = [], [self.spans[root]]
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(kids.get(s["id"], []))
        return out

    def self_times(self, root: int) -> dict[str, float]:
        """Seconds of self time per layer inside the span ``root`` (itself
        included): each span's duration minus the time its children cover.
        Spans nest strictly on one thread, so children never overlap."""
        sub = self._subtree(root)
        child_time: dict[int, float] = {}
        for s in sub:
            if s["id"] != root:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in sub:
            own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def overhead(self, root: int, span_cost: float) -> float:
        """The tracer's own cost inside ``root``: the self time of its
        ``trace`` spans (reading the metrics) plus ``span_cost`` for each
        span recorded."""
        return self.self_times(root).get("trace", 0.0) + span_cost * len(self._subtree(root))

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


def span_cost(n: int = 20_000) -> float:
    """Seconds of bookkeeping one span costs, timed on a scratch tracer."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x", "trace"):
            pass
    return (time.perf_counter() - t0) / n
