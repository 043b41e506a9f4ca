"""In-memory spans around calls into the engine's public entry points.

The benchmark installs wrappers at run time (``Tracer.wrap``) and
removes them afterwards; the engine's files are never edited. Spans
nest by call order on the driver thread. A layer's self time is its
span's duration minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager

BOOKKEEPING = "trace.bookkeeping"
# the benchmark's own noop-sink probes, run with the wrappers off
PROBE = "trace.probe"


class Tracer:
    def __init__(self) -> None:
        # [name, start, end, parent index or None]
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._installed: list[tuple[object, str, object]] = []

    @property
    def current(self) -> str | None:
        return self.spans[self._stack[-1]][0] if self._stack else None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanned call.

        ``name`` is a span name or a callable of the enclosing span's
        name (so a nested write can be attributed to its caller).
        ``before(args)`` runs ahead of the span and its return value is
        handed to ``after(result, args, token)``, which runs once the
        span has closed, inside a ``trace.bookkeeping`` span so that its
        cost is charged to the tracer rather than to any layer."""
        fn = owner.__dict__[attr]

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            label = name(self.current) if callable(name) else name
            token = before(args) if before is not None else None
            with self.span(label):
                result = fn(*args, **kwargs)
            if after is not None:
                with self.span(BOOKKEEPING):
                    after(result, args, token)
            return result

        setattr(owner, attr, spanned)
        self._installed.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._installed):
            setattr(owner, attr, original)
        self._installed.clear()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus direct children's."""
        child_total = [0.0] * len(self.spans)
        for name, start, end, parent in self.spans:
            if parent is not None:
                child_total[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _parent) in enumerate(self.spans):
            out[name] += (end - start) - child_total[i]
        return dict(out)

    def calls(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for name, *_ in self.spans:
            out[name] += 1
        return dict(out)

    def covered_s(self, start: float, end: float, only: str | None = None) -> float:
        """Time in [start, end] covered by at least one top-level span
        (named ``only``, if given)."""
        total = 0.0
        for name, s, e, parent in self.spans:
            if parent is None and only in (None, name):
                total += max(0.0, min(e, end) - max(s, start))
        return total
