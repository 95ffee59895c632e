"""In-memory spans recorded from the benchmark's own files.

A span has a name, a start, an end and a parent. ``Tracer.wrap``
replaces a module (or class) attribute with a recording wrapper for the
duration of a ``with`` block and restores the original afterwards, so
the program is never edited and an untraced run executes it unchanged.
Self time is a span's duration minus the durations of its children
(spans are strictly nested: one thread, no overlap between siblings).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._child_s: dict[int, float] = {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            dur = rec["end"] - rec["start"]
            rec["self"] = dur - self._child_s.pop(sid, 0.0)
            if parent is not None:
                self._child_s[parent] = self._child_s.get(parent, 0.0) + dur

    @contextlib.contextmanager
    def wrap(self, owner, attr: str, name: str, attrs=None):
        """Record a span around every call of ``owner.attr`` inside the
        block; ``attrs(args, kwargs)`` adds fields to each span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, **(attrs(args, kwargs) if attrs else {})):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    @contextlib.contextmanager
    def wrap_all(self, targets):
        """``wrap`` every (owner, attr, name[, attrs]) in ``targets``."""
        with contextlib.ExitStack() as stack:
            for target in targets:
                stack.enter_context(self.wrap(*target))
            yield

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.of(name))

    def self_total(self, name: str) -> float:
        return sum(s["self"] for s in self.of(name))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                       for s in self.spans], f)
