"""In-memory span recorder for the benchmark's traced runs.

A span is (id, layer, start, end, parent id, root id).  The parent is
the innermost open span on the same thread; a span opened on a thread
with no open span (an HTTP handler thread, a per-timeframe worker)
hangs off the current root, the request or ingest tick the client has
open.  The benchmark is a single closed-loop client, so at most one
root is open at a time.

``Tracer.wrap`` replaces a module or class attribute with a recording
wrapper; callers that look the name up at call time (module globals,
methods) are traced without any change to the program.  ``restore``
puts every original back.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._root: int | None = None
        self._patched: list[tuple] = []

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    def span(self, layer: str, root: bool = False) -> "_Span":
        return _Span(self, layer, root)

    def wrap(self, owner, attr: str, layer: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(layer):
                return orig(*args, **kwargs)

        # a class attribute may be a descriptor; read it raw to restore it
        raw = owner.__dict__[attr] if isinstance(owner, type) else orig
        self._patched.append((owner, attr, raw))
        setattr(owner, attr, traced)

    def wrap_executor(self, owner, attr: str) -> None:
        """Replace a ``ThreadPoolExecutor`` class looked up as
        ``owner.attr`` by one whose tasks open their spans under the
        span that submitted them."""
        base = getattr(owner, attr)
        tracer = self

        class TracedExecutor(base):
            def submit(self, fn, /, *args, **kwargs):
                parent = tracer._current()
                return super().submit(tracer._under(parent, fn), *args, **kwargs)

        self._patched.append((owner, attr, base))
        setattr(owner, attr, TracedExecutor)

    def _current(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else self._root

    def _under(self, parent: int | None, fn):
        def run(*args, **kwargs):
            saved = getattr(self._local, "stack", None)
            self._local.stack = [parent] if parent is not None else []
            try:
                return fn(*args, **kwargs)
            finally:
                self._local.stack = saved

        return run

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def reset(self) -> None:
        """Drop the spans recorded so far (set-up's, before timing starts)."""
        with self._lock:
            self.spans.clear()

    def self_times(self) -> dict[str, float]:
        """Per layer: summed span time not covered by the span's children
        (children on other threads included, their overlap counted once)."""
        children: dict[int, list] = {}
        for sid, _, a, b, parent, _ in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((a, b))
        out: dict[str, float] = {}
        for sid, layer, a, b, _, _ in self.spans:
            covered = union_seconds(children.get(sid, ()), a, b)
            out[layer] = out.get(layer, 0.0) + (b - a) - covered
        return out

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for _, layer, *_ in self.spans:
            out[layer] = out.get(layer, 0) + 1
        return out

    def records(self) -> list[dict]:
        return [
            {"id": s, "layer": l, "start": a, "end": b, "parent": p, "root": r}
            for s, l, a, b, p, r in self.spans
        ]


class _Span:
    __slots__ = ("_t", "_layer", "_root", "_id", "_parent", "_start")

    def __init__(self, tracer: Tracer, layer: str, root: bool) -> None:
        self._t, self._layer, self._root = tracer, layer, root

    def __enter__(self) -> "_Span":
        t = self._t
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        self._id = t._new_id()
        self._parent = stack[-1] if stack else t._root
        if self._root:
            t._root = self._id
        stack.append(self._id)
        self._start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        t = self._t
        t._local.stack.pop()
        root = self._id if self._root else t._root
        if self._root:
            t._root = None
        with t._lock:
            t.spans.append(
                (self._id, self._layer, self._start, end, self._parent, root)
            )


def maybe_span(tracer: Tracer | None, layer: str):
    """A root span on ``tracer``, or nothing when the run is untraced."""
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.span(layer, root=True)


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_cost_s(samples: int = 20_000) -> float:
    """Measured cost of opening and closing one span on this host."""
    t = Tracer()
    t0 = time.perf_counter()
    for _ in range(samples):
        with t.span("calibrate"):
            pass
    return (time.perf_counter() - t0) / samples
