"""In-memory span recorder for the benchmark's traced runs."""

from __future__ import annotations

import contextlib
import importlib
import json
import time
from collections.abc import Callable


class Tracer:
    """In-memory span recorder: (name, start, end, parent, run id). A tracer
    built without a run id records nothing, so untraced code paths can hold
    one unconditionally."""

    def __init__(self, run_id: str = ""):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.enabled = bool(run_id)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack
               else None, "run_id": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn: Callable, name: str) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, patches):
        """Wrap every (module, attribute, span name) of ``patches`` for the
        duration of the block."""
        saved = []
        try:
            for mod_name, attr, name in patches:
                mod = importlib.import_module(mod_name)
                saved.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, self.wrap(getattr(mod, attr), name))
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def covered(self, start: float, end: float) -> float:
        """Seconds of [start, end] covered by top-level spans."""
        return sum(min(s["end"], end) - max(s["start"], start) for s in self.spans
                   if s["parent"] is None and s["end"] > start and s["start"] < end)

    def dump(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as f:
            json.dump([s | {"self_s": own[s["id"]]} for s in self.spans], f, indent=0)
