"""In-memory span recorder and runtime wrappers for the traced run.

``Tracer.wrap`` replaces a function or method on its owner (a class or
a module) with a wrapper that records one span per call; ``restore``
puts every original back.  The repo's sources are never edited: the
wrappers exist only inside a traced benchmark process.

Spans are kept in a list while the workload runs and written out as
JSON lines by ``dump`` when it ends.  Times are wall-clock seconds
(``time.time``) so they line up with Spark's job timestamps.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float
    op: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name`` of ``layer``."""
        span_id = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(span_id, parent, name, layer, time.time(), 0.0, self.op)
        self.spans.append(span)
        self._stack.append(span_id)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            span.end = time.time()

    def wrap(self, owner, attr: str, layer: str, on_return=None) -> None:
        """Record a span around every call of ``owner.attr``.
        ``on_return(result)`` runs after the span has closed."""
        func = owner.__dict__[attr]
        name = f"{layer}.{attr}"

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            out = self.call(layer, name, func, *args, **kwargs)
            if on_return is not None:
                on_return(out)
            return out

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` with ``new`` until ``restore``."""
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def of_op(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
