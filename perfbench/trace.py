"""Span tracer for the traced benchmark run.

Spans are recorded around calls into the program's public functions, from
the benchmark's own files: :meth:`Tracer.wrap` replaces a module or class
attribute with a timing wrapper, so calls made from inside the program
(``incremental_update`` -> ``build_index``) are traced as well. Spans live
in memory and are written out when the run ends.

A span's self time is its duration minus the part of its interval that
its child spans cover; summed over one thread's span tree, self times add
up to the root span's duration.
"""
from __future__ import annotations

import functools
import itertools
import threading
import time


class Span:
    __slots__ = ("sid", "parent", "name", "layer", "thread", "start", "end",
                 "attrs")

    def __init__(self, sid, parent, name, layer, thread, start):
        self.sid, self.parent, self.name, self.layer = sid, parent, name, layer
        self.thread, self.start, self.end = thread, start, None
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_dict(self) -> dict:
        return {"sid": self.sid, "parent": self.parent, "name": self.name,
                "layer": self.layer, "thread": self.thread,
                "start": self.start, "end": self.end, "attrs": self.attrs}

    @classmethod
    def from_dict(cls, d: dict) -> "Span":
        s = cls(d["sid"], d["parent"], d["name"], d["layer"], d["thread"],
                d["start"])
        s.end, s.attrs = d["end"], d["attrs"]
        return s


class Tracer:
    """Records nested spans per thread. ``enabled=False`` makes every
    method a no-op, so untraced runs pay nothing but a flag test."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def begin(self, name: str, layer: str, parent: Span | None = None):
        st = self._stack()
        if parent is None and st:
            parent = st[-1]
        sp = Span(next(self._ids), parent.sid if parent else None, name,
                  layer, threading.get_ident(), time.time())
        st.append(sp)
        return sp

    def finish(self, sp: Span):
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        self.spans.append(sp)

    def span(self, name: str, layer: str = "bench",
             parent: Span | None = None):
        """Context manager yielding the span (or None when disabled)."""
        return _SpanCtx(self, name, layer, parent)

    def wrap(self, owner, attr: str, layer: str, name: str | None = None,
             on_result=None):
        """Replace ``owner.attr`` by a traced wrapper. ``on_result(span,
        args, kwargs, result)`` may record attributes on the span."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        name = name or f"{layer}.{attr}"
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer.begin(name, layer)
            try:
                res = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, kwargs, res)
                return res
            finally:
                tracer.finish(sp)

        setattr(owner, attr, traced)


class _SpanCtx:
    def __init__(self, tracer, name, layer, parent):
        self.t, self.name, self.layer, self.parent = tracer, name, layer, \
            parent
        self.sp = None

    def __enter__(self):
        if self.t.enabled:
            self.sp = self.t.begin(self.name, self.layer, self.parent)
        return self.sp

    def __exit__(self, *exc):
        if self.sp is not None:
            self.t.finish(self.sp)
        return False


# ---------------------------------------------------------------------------
# Arithmetic over finished spans
# ---------------------------------------------------------------------------

def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """sid -> self time: duration minus the union of the child spans'
    intervals, each child clipped to the parent's interval."""
    by_id = {s.sid: s for s in spans}
    kids: dict = {}
    for s in spans:
        if s.parent in by_id:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        cov = union_length((max(c.start, s.start), min(c.end, s.end))
                           for c in kids.get(s.sid, ())
                           if c.end > s.start and c.start < s.end)
        out[s.sid] = s.dur - cov
    return out


def layer_self(spans) -> dict:
    """layer -> summed self time over ``spans``."""
    st = self_times(spans)
    out: dict = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.sid]
    return out


def thread_tree(spans, root) -> list:
    """``root`` and every span below it that runs on root's thread."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(c for c in kids.get(s.sid, ()) if c.thread == root.thread)
    return out


def top_level(spans, name_prefix: str) -> list:
    """Spans whose name starts with ``name_prefix`` and that have no
    ancestor with that prefix (nested calls counted once)."""
    by_id = {s.sid: s for s in spans}
    out = []
    for s in spans:
        if not s.name.startswith(name_prefix):
            continue
        p = by_id.get(s.parent)
        while p is not None and not p.name.startswith(name_prefix):
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out


def within(spans, lo: float, hi: float) -> list:
    return [s for s in spans if s.start >= lo and s.end <= hi]
