"""In-memory spans around calls into the engine's layers.

The benchmark wraps public functions of the engine's modules at run
time (``install``); nothing under ``starlake_spark/`` is edited. Spans
stay in memory and are reduced to per-layer totals when the run ends.
A span's *self time* is its duration minus the part of that interval
its child spans cover.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1  # index into Tracer.spans, -1 for a root span
    op: int = -1  # benchmark operation that caused the span
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records nested spans; one instance per run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    def begin(self, name: str) -> int:
        i = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               op=self.op))
        self._stack.append(i)
        return i

    def end(self, i: int) -> None:
        self.spans[i].end = time.perf_counter()
        popped = self._stack.pop()
        if popped != i:
            raise RuntimeError(f"span {self.spans[i].name} closed out of order")

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` with a span named ``name`` around every call;
        ``on_result(span, result)`` may record counts on the span."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            i = self.begin(name)
            try:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(self.spans[i], out)
                return out
            finally:
                self.end(i)
        return traced


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: duration minus the union of its
    children's intervals clipped to the span."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent >= 0:
            children[s.parent].append(i)
    out = []
    for i, s in enumerate(spans):
        ivs = sorted((max(spans[c].start, s.start), min(spans[c].end, s.end))
                     for c in children.get(i, ()))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def totals(spans: list[Span]) -> dict[str, dict]:
    """Per span name: calls, total seconds and total self seconds."""
    selfs = self_times(spans)
    agg: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0,
                                                "self_s": 0.0})
    for s, st in zip(spans, selfs):
        a = agg[s.name]
        a["calls"] += 1
        a["total_s"] += s.end - s.start
        a["self_s"] += st
    return dict(agg)


def install(tracer: Tracer) -> list:
    """Wrap the engine's layer entry points; returns undo records for
    ``uninstall``. Modules call these through their module attribute
    (``writer.write_files``, ``reader.scan``, ...), so replacing the
    attribute reaches every caller."""
    from starlake_spark import meta, sql
    from starlake_spark.operators import dml, reader, writer
    from starlake_spark.plans import mv

    def files_written(span, files):
        span.counts["files"] = len(files)
        span.counts["bytes"] = sum(max(f.size, 0) for f in files)

    def rewrite_hit(span, df):
        span.counts["hit"] = int(df is not None)

    targets = [
        (meta.ManifestStore, "snapshot", "meta.snapshot", None),
        (meta.ManifestStore, "commit", "meta.commit", None),
        (writer, "write_files", "writer.write_files", files_written),
        (dml, "upsert", "dml.upsert", None),
        (dml, "compact", "dml.compact", None),
        (reader, "scan", "reader.scan", None),
        (mv, "update_material_view", "mv.refresh", None),
        (mv, "try_rewrite", "mv.rewrite", rewrite_hit),
        (sql.StarSession, "sql", "sql.route", None),
    ]
    undo = []
    for owner, attr, name, hook in targets:
        fn = getattr(owner, attr)
        undo.append((owner, attr, fn))
        setattr(owner, attr, tracer.wrap(name, fn, hook))
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, fn in reversed(undo):
        setattr(owner, attr, fn)
