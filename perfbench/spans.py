"""In-memory span recorder.

A span is (name, start, end, parent, run id) plus free-form counters.
Spans are opened with ``with rec.span("etl.sink"):`` around calls into
the engine; nesting follows the call stack, so a span's parent is the
span open when it started. Nothing is written until ``dump`` at the end
of the run.

The layer of a span is the part of its name before the first ``.`` or
``:`` (``etl.sink`` -> ``etl``, ``plans.exec:agg_group`` -> ``plans``). A
layer's self time is the time its spans cover minus the part their child
spans cover.

A disabled recorder yields ``None`` from ``span`` and records nothing, so
untraced passes run the same harness code at near-zero cost.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return re.split(r"[.:]", self.name, maxsplit=1)[0]


class Recorder:
    def __init__(self, run_id: str, enabled: bool = True, hooks=None):
        """``hooks.open(span)`` runs after a span starts and
        ``hooks.close(span)`` before its end time is taken, so counters
        they read (e.g. Spark job deltas) are attributed to that span."""
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._hooks = hooks

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(
            id=len(self.spans),
            name=name,
            start=time.perf_counter(),
            parent=self._stack[-1].id if self._stack else None,
            run_id=self.run_id,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        if self._hooks is not None:
            self._hooks.open(s)
        try:
            yield s
        finally:
            self._stack.pop()
            if self._hooks is not None:
                self._hooks.close(s)
            s.end = time.perf_counter()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        covered, last_end = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, last_end), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                last_end = hi
        return span.duration - covered

    def layer_self_times(self, within: Span | None = None) -> dict[str, float]:
        """Self time per layer over all spans, or over ``within`` and its
        descendants."""
        spans = self.spans if within is None else self.descendants(within, include_self=True)
        out: dict[str, float] = {}
        for s in spans:
            out[s.layer] = out.get(s.layer, 0.0) + self.self_time(s)
        return out

    def descendants(self, span: Span, include_self: bool = False) -> list[Span]:
        out, frontier = ([span] if include_self else []), [span.id]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out += kids
            frontier = [k.id for k in kids]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
