"""In-memory spans recorded around calls into the engine's modules.

A span is ``(trace, name, start, end, parent)``; spans of one timed pass
share ``trace``. They stay in memory while the benchmark runs and are
written out once at the end. A span's self time is its duration minus the
time its direct children cover (children here are synchronous nested
calls, so they never overlap).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace = ""

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"trace": self.trace, "name": name, "start": time.perf_counter(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Wrap ``getattr(module, attr)`` in a span called ``name`` for each
        ``(module, attr, name)`` while the block runs, then restore it.

        The wrapper replaces the name in the namespace the CALLER resolves
        it from: a module that did ``from x import f`` calls its own
        binding of ``f``, so that binding is the one to patch."""
        saved = []
        try:
            for module, attr, name in targets:
                fn = getattr(module, attr)
                saved.append((module, attr, fn))
                setattr(module, attr, self._wrap(fn, name))
            yield
        finally:
            for module, attr, fn in reversed(saved):
                setattr(module, attr, fn)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self, trace: str) -> dict[str, float]:
        """Summed self time per span name within one trace."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["trace"] == trace:
                out[s["name"]] += s["end"] - s["start"] - child_s[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")
