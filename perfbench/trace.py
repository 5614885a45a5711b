"""In-memory span recording around the program's layer boundaries.

The benchmark installs wrappers from the outside: each wrapper records a
span (name, start, end, parent, operation id) around a call into one of the
program's public functions and returns the call's result unchanged.  Spans
for Spark work (jobs, Catalyst phases) are added after an operation from
Spark's own status store and query-execution objects, with the JVM's
wall-clock timestamps.

Spans stay in memory; ``Tracer.dump`` writes them once at the end of a run.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    op: int
    sid: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span store plus the stack of open spans of the one client thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op = -1
        self._stack: list[int] = []

    def begin(self, name: str, **attrs) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(self.op, len(self.spans), parent, name, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.sid)
        return s

    def finish(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: Span, **attrs) -> Span:
        """Record a finished span measured elsewhere (JVM timestamps)."""
        s = Span(self.op, len(self.spans), parent.sid, name, start, end, attrs)
        self.spans.append(s)
        return s

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` with a span around each call while the tracer is active.
        ``on_result(span, args, result)`` may add attributes to the span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            s = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                s.attrs["error"] = True
                self.finish(s)
                raise
            if on_result is not None:
                on_result(s, args, out)
            self.finish(s)
            return out

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def patch_everywhere(prefix: str, original, replacement) -> None:
    """Rebind every module-level name under ``prefix`` that refers to
    ``original`` (modules import helpers by name, so patching the defining
    module alone would miss them)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefix):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total, reach = 0.0, None
    for lo, hi in sorted(intervals):
        if reach is None or lo > reach:
            total += max(0.0, hi - lo)
            reach = hi
        elif hi > reach:
            total += hi - reach
            reach = hi
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    covered by its children (children clipped to the parent)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.sid, ())
        )
        out[s.sid] = max(0.0, (s.end - s.start) - covered)
    return out
