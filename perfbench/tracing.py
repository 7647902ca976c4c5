"""Spans around calls into the program's layers, recorded from outside.

The tracer replaces module and class attributes of the program (for
example ``stock_pipeline.load_bars`` or ``ParquetWarehouse.merge``) with
wrappers that time each call, and puts the originals back on
:meth:`Tracer.uninstall`. Nothing inside the program changes. Spans are
kept in memory and written out once, when the run ends.

A span records its name, layer, start and end (seconds since the tracer
was made), the span that was open when it started, and the operation it
belongs to. Spark's lazy evaluation means a span covers the work its
call triggered, not the work it described: an extract returns at once
and its cost lands inside the load that consumes it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._t0 = time.perf_counter()
        self._stack: list[int] = []
        self._next_id = 0
        self._targets: list[tuple[object, str, str, str]] = []
        self._originals: dict[tuple[int, str], object] = {}
        self.last_args: dict[str, tuple[tuple, dict]] = {}

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        start = time.perf_counter() - self._t0
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            end = time.perf_counter() - self._t0
            self.spans.append(Span(sid, name, layer, start, end, parent, self.op))

    def target(self, owner: object, attr: str, layer: str, name: str | None = None) -> None:
        """Register ``owner.attr`` to be wrapped by :meth:`install`."""
        self._targets.append((owner, attr, layer, name or attr))

    def install(self) -> None:
        for owner, attr, layer, name in self._targets:
            key = (id(owner), attr)
            if key in self._originals:
                continue
            original = getattr(owner, attr)
            self._originals[key] = original
            setattr(owner, attr, self._wrapper(original, name, layer))

    def uninstall(self) -> None:
        for owner, attr, _layer, _name in self._targets:
            original = self._originals.pop((id(owner), attr), None)
            if original is not None:
                setattr(owner, attr, original)

    def _wrapper(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.last_args[name] = (args, kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    # -- summaries ------------------------------------------------------------

    def durations(self, op: int, *names: str) -> float:
        """Total time of the named spans in one operation."""
        return sum(s.duration for s in self.spans if s.op == op and s.name in names)

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the part covered by child spans."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.duration
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += s.duration - child_time[s.id]
        return dict(out)

    def dump(self, path: str, counts: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "self_s_by_layer": self.self_times(),
                    "counts": counts,
                },
                f,
                indent=1,
            )
