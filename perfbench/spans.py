"""Spans recorded from outside the engine.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, and a
trigger or query id) and writes them out when the benchmark ends.
:func:`Tracer.wrap` replaces a module attribute with a timing wrapper:
callers that look the name up on the module at call time (``job.py``
calling its imported ``append_replicated``, ``plans.queries`` calling
``dedup.<fn>``) then record a span per call.  Wrapping must patch the
name the caller looks up; patching the defining module misses callers
that imported the name directly.

The wrapper reaches the active tracer through ``sys.modules`` rather
than its closure, so a wrapped function that gets pickled into a Python
worker carries no tracer with it and runs untraced there.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

# the operator modules the refresh query set calls (``refresh.QUERY_SET``
# says why layout is not among them)
OPERATOR_MODULES = (
    "dedup",
    "similarity",
    "text",
    "clustering",
    "windows",
    "multimodal",
    "replication",
)

_MODULE = __name__


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._attrs: dict = {}
        # span name -> callback(record), run when a wrapped call returns
        self.after: dict[str, object] = {}

    # -- recording -------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent}
        rec.update(self._attrs)
        rec.update(attrs)
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def context(self, **attrs):
        """Stamp ``attrs`` (e.g. ``query="..."``) on every span opened inside."""
        saved = self._attrs
        self._attrs = {**saved, **attrs}
        try:
            yield
        finally:
            self._attrs = saved

    def add(self, name: str, start: float, end: float, **attrs) -> dict:
        """Record a span measured elsewhere (e.g. a trigger from its progress)."""
        rec = {"name": name, "start": start, "end": end, "parent": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        return rec

    # -- patching --------------------------------------------------------
    def wrap(self, owner, attr: str, span_name: str) -> None:
        original = getattr(owner, attr)
        setattr(owner, attr, _wrapper(original, span_name))
        self._patched.append((owner, attr, original))

    def wrap_module_functions(self, module, span_name: str) -> list[str]:
        """Wrap every public function defined in ``module``."""
        names = [
            n
            for n, v in vars(module).items()
            if not n.startswith("_")
            and inspect.isfunction(v)
            and v.__module__ == module.__name__
        ]
        for n in names:
            self.wrap(module, n, span_name)
        return names

    def __enter__(self) -> "Tracer":
        setattr(sys.modules[_MODULE], "ACTIVE", self)
        return self

    def __exit__(self, *exc) -> None:
        setattr(sys.modules[_MODULE], "ACTIVE", None)
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- output ------------------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **(extra or {})}, fh)


ACTIVE: Tracer | None = None


def _wrapper(fn, span_name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        tracer = getattr(sys.modules.get(_MODULE), "ACTIVE", None)
        if tracer is None:
            return fn(*args, **kwargs)
        with tracer.span(span_name, fn=fn.__name__) as rec:
            out = fn(*args, **kwargs)
        hook = tracer.after.get(span_name)
        if hook is not None:
            hook(rec)
        return out

    return traced


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, minus the time its direct children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` that have no ancestor of the same name."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name or s["end"] is None:
            continue
        p = s.get("parent")
        while p in by_id and by_id[p]["name"] != name:
            p = by_id[p].get("parent")
        if p in by_id:
            continue
        out.append(s)
    return out
