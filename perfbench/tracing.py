"""In-memory span recorder for the benchmark's traced run.

A span has an id, a parent span id, the operation id it belongs to, a
name, a start and an end (``time.perf_counter`` seconds) and free-form
attributes. Spans stay in memory and are written once, when the run
ends. A disabled tracer records nothing and costs one branch per call.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans = []          # (id, parent, op_id, name, t0, t1, attrs)
        self._stack = []
        self._next_id = 1
        self.op_id = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield attrs
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((sid, parent, self.op_id, name, t0, t1, attrs))

    def wrap(self, name: str, fn, on_result=None):
        """fn wrapped in a span; on_result(attrs, result) may annotate it."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as attrs:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(attrs, out)
                return out
        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, op, name, t0, t1, attrs in self.spans:
                f.write(json.dumps({
                    "id": sid, "parent": parent, "op": op, "name": name,
                    "start": t0, "end": t1,
                    **({"attrs": attrs} if attrs else {})}, default=str))
                f.write("\n")
