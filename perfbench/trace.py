"""In-memory span tracer for the traced run.

A span is one call the benchmark makes into a layer of ``pyrle_spark``:
name, layer, start, end, parent span and run id.  Spans are kept in a list
and written to one JSON file when the run ends.  With tracing off,
``span`` is a no-op context manager, so the timed runs pay nothing.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, layer: str):
        return self._span(name, layer) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, within: int) -> dict:
        """Seconds of self time per layer over the descendants of span
        ``within``: each span's duration minus the union of its children's
        intervals."""
        children = defaultdict(list)
        inside = {within}
        for s in self.spans:  # parents precede children
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
                if s["parent"] in inside:
                    inside.add(s["id"])
        out: dict = defaultdict(float)
        for s in self.spans:
            if s["id"] == within or s["id"] not in inside:
                continue
            covered, last = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)
