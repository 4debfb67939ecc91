"""In-memory span tracer and driver-side method wrappers.

A span is (id, name, start, end, parent, thread); ``start``/``end`` are
``time.time()`` seconds so they line up with Spark event-log timestamps.
The parent is the innermost open span on the calling thread, or, for
calls made from the engine's own worker threads, the innermost open span
of the benchmark's thread (the first thread that opened a span). Spans stay in memory; the
benchmark writes them out when the run ends.
"""
from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main: list[int] | None = None  # span stack of the first thread
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
            if self._main is None:  # the benchmark's own thread
                self._main = stack
        if stack:
            parent = stack[-1]
        elif stack is not self._main and self._main:
            parent = self._main[-1]
        else:
            parent = None
        sid = next(self._ids)
        stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "start": t0, "end": t1,
                    "parent": parent, "thread": threading.current_thread().name,
                    **attrs,
                })

    @contextmanager
    def paused(self):
        """Record no spans inside the block."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that only opens a span."""
        if not self.enabled:
            return
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, classmethod(wrapped) if is_cm else wrapped)

    # -- analysis -----------------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans if c["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered
