"""Spans recorded by the benchmark around its calls into the engine's layers.

A span has an id, a layer name, an operation name and wall-clock
start/end. Spans stay in memory and are written as JSON lines when the
run ends. With tracing off, ``span`` is a
no-op context manager, so the untimed bookkeeping costs nothing.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        #: seconds spent on trace-only calls inside the measured region
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, layer: str, op: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "layer": layer,
            "op": op,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    @contextlib.contextmanager
    def overhead(self):
        """Time a trace-only call, so the run can report what tracing cost."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
