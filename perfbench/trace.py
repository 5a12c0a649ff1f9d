"""In-memory spans for the traced run.

A span records name, start, end, parent and run id.  Spans are opened
by the benchmark around its own calls into the program's public
functions, either directly (``with tracer.span(...)``) or by swapping a
module or class attribute for a wrapper for the length of a ``with``
block (``tracer.patched(...)``).  Counters recorded at the same
boundaries ride along in the span's ``counts``.  Nothing is written
until :meth:`Tracer.dump`, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import ExitStack, contextmanager
from typing import Callable, Iterator


class Tracer:
    def __init__(
        self,
        run_id: str,
        probe: Callable[[], object] | None = None,
        settle: Callable[[object, dict], dict] | None = None,
        clock: Callable[[], float] = time.perf_counter,
    ):
        """``probe()`` is called when a span opens and ``settle(mark,
        span)`` when it closes; the dict ``settle`` returns becomes the
        span's ``counts`` (e.g. Spark jobs submitted since the mark)."""
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._probe = probe
        self._settle = settle
        self._clock = clock

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "run": self.run_id,
            "start": self._clock(),
            "end": None,
            "attrs": attrs,
            "counts": {},
        }
        mark = self._probe() if self._probe else None
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            if self._settle:
                rec["counts"] = self._settle(mark, rec)
            rec["end"] = self._clock()

    def wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self, targets: list[tuple[object, str, str]]) -> Iterator[None]:
        """Replace each ``owner.attr`` by a span-opening wrapper named
        ``span_name`` while the block runs; restore on exit."""
        with ExitStack() as stack:
            for owner, attr, span_name in targets:
                original = owner.__dict__[attr]
                kind = type(original) if isinstance(original, (staticmethod, classmethod)) else None
                wrapped = self.wrap(original.__func__ if kind else original, span_name)
                setattr(owner, attr, kind(wrapped) if kind else wrapped)
                stack.callback(setattr, owner, attr, original)
            yield

    # -- analysis ----------------------------------------------------------

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = 0.0
        lo = span["start"]
        for c in sorted(self.children(span["id"]), key=lambda s: s["start"]):
            start = max(c["start"], lo)
            if c["end"] > start:
                covered += c["end"] - start
                lo = c["end"]
        return (span["end"] - span["start"]) - covered

    def descendants(self, span_id: int) -> list[dict]:
        out, todo = [], [span_id]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def total_by_name(self, root_ids: list[int]) -> dict[str, float]:
        """Wall time per span name (outermost occurrence only, so a name
        nested under itself is not counted twice)."""
        out: dict[str, float] = {}
        for rid in root_ids:
            for s in [self.spans[rid], *self.descendants(rid)]:
                if not self._under_same_name(s):
                    out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def counts_by_name(self, root_ids: list[int], key: str) -> dict[str, int]:
        out: dict[str, int] = {}
        for rid in root_ids:
            for s in [self.spans[rid], *self.descendants(rid)]:
                if key in s["counts"] and not self._under_same_name(s):
                    out[s["name"]] = out.get(s["name"], 0) + s["counts"][key]
        return out

    def _under_same_name(self, span: dict) -> bool:
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"] == span["name"]:
                return True
            p = self.spans[p]["parent"]
        return False

    def dump(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": out}, fh, default=str)
