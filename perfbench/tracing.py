"""In-memory spans recorded around calls into the package's layers.

Spans live only in this benchmark: a traced run swaps selected functions
and methods of the package (and Spark's action entry points) for thin
wrappers that open a span, call the original and close the span. Nothing
is written until the run ends, when :meth:`Tracer.dump` writes the spans
as JSON. Untraced runs install no wrappers at all.
"""

from __future__ import annotations

import functools
import inspect
import json
import time
from contextlib import contextmanager


class Tracer:
    """Records spans (name, start, end, parent, op) from one thread."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._t0 = time.perf_counter()
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    # -- wrapping ----------------------------------------------------------
    def patch(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``.
        Static methods stay static and properties stay properties;
        :meth:`unpatch_all` restores the originals."""
        raw = inspect.getattr_static(owner, attr)
        tracer = self
        if isinstance(raw, (property, functools.cached_property)):
            def getter(obj):
                with tracer.span(name):
                    return raw.__get__(obj, type(obj))

            wrapped = property(getter, doc=raw.__doc__)
        else:
            func = raw.__func__ if isinstance(raw, staticmethod) else getattr(owner, attr)

            @functools.wraps(func)
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return func(*args, **kwargs)

            wrapped = staticmethod(wrapper) if isinstance(raw, staticmethod) else wrapper
        self._patches.append((owner, attr, raw))
        setattr(owner, attr, wrapped)

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    # -- analysis ----------------------------------------------------------
    def _children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def self_times(self, op_ids: set[str] | None = None) -> dict[str, float]:
        """Seconds per span name, each span's duration minus its direct
        children's (spans of one thread nest, so children never overlap)."""
        kids = self._children()
        out: dict[str, float] = {}
        for s in self.spans:
            if op_ids is not None and s["op"] not in op_ids:
                continue
            dur = s["end"] - s["start"]
            covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + dur - covered
        return out

    def totals(self, op_ids: set[str] | None = None) -> dict[str, float]:
        """Seconds per span name, whole durations (children included)."""
        out: dict[str, float] = {}
        for s in self.spans:
            if op_ids is None or s["op"] in op_ids:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def coverage(self, root_name: str, op_ids: set[str]) -> float:
        """Share of the ``root_name`` spans' time covered by their direct
        children, i.e. attributed to a named layer call."""
        kids = self._children()
        total = covered = 0.0
        for s in self.spans:
            if s["name"] == root_name and s["op"] in op_ids:
                total += s["end"] - s["start"]
                covered += sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
        return covered / total if total else 0.0

    def dump(self, path: str, **summary) -> None:
        with open(path, "w") as fh:
            json.dump({**summary, "spans": self.spans}, fh, indent=1)
