"""Span tracing from outside the program.

The benchmark never edits the program: it measures each layer by wrapping
the public functions that layer exposes. A wrapper records a span (name,
start, end, parent span, op id) in memory; spans are written out when the
run ends. Because callers often bind a function at import time
(``from ..plans.executor import run_stream_sql``), ``Tracer.wrap`` replaces
the function under every name the program's loaded modules hold for it —
the name the caller actually resolves — and restores them all on
``unwrap``.

Spark work is counted through job groups: each op runs under its own group
and the public ``StatusTracker`` reports the group's jobs, their stages and
the stages' task counts.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable

PACKAGE = "youcruit_tap_rawpostgresql_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``op_id`` is set by the workload loop for
    the duration of one op; spans outside any op carry ``None``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[Any, str, Any]] = []
        self.op_id: int | None = None

    # -- recording ---------------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int, **counts: float) -> None:
        self.spans[idx].end = time.perf_counter()
        self.spans[idx].counts.update(counts)
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def add_counts(self, idx: int, **counts: float) -> None:
        span = self.spans[idx]
        for k, v in counts.items():
            span.counts[k] = span.counts.get(k, 0) + v

    # -- patching ----------------------------------------------------------
    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        before: Callable[[tuple, dict], tuple[tuple, dict, Any]] | None = None,
        after: Callable[[int, tuple, dict, Any, Any], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` — and every other binding of the same
        function object in the program's loaded modules — with a wrapper
        that records a span called ``name``. ``before`` runs ahead of the
        span and may rewrite the arguments (to count what flows through a
        callback), returning a context object; ``after`` runs once the span
        has ended and attaches counts derived from the arguments, the
        result and that context. Neither is charged to the span."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            ctx = None
            if before is not None:
                args, kwargs, ctx = before(args, kwargs)
            idx = tracer.begin(name)
            try:
                result = original(*args, **kwargs)
            except BaseException:
                tracer.end(idx, error=1)
                raise
            tracer.end(idx)
            if after is not None:
                after(idx, args, kwargs, result, ctx)
            return result

        targets = [(owner, attr)]
        if not isinstance(owner, type):
            for mod_name, mod in list(sys.modules.items()):
                if not mod_name.startswith(PACKAGE) or mod is owner:
                    continue
                for a, v in list(vars(mod).items()):
                    if v is original:
                        targets.append((mod, a))
        for obj, a in targets:
            self._patched.append((obj, a, getattr(obj, a)))
            setattr(obj, a, traced)

    def unwrap(self) -> None:
        for obj, a, orig in reversed(self._patched):
            setattr(obj, a, orig)
        self._patched.clear()

    # -- analysis ----------------------------------------------------------
    def self_times(self) -> list[float]:
        """Per span: duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]

    def per_op(self, n_ops: int) -> dict[str, dict[str, float]]:
        """name → {"self_ms": mean self ms per op, "ms": mean span ms per
        op (children included), "calls": mean calls per op, <count>: mean
        per op} over spans recorded inside ops."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s, st in zip(self.spans, self.self_times()):
            if s.op is None:
                continue
            agg = out[s.name]
            agg["self_ms"] += st * 1000.0
            agg["ms"] += (s.end - s.start) * 1000.0
            agg["calls"] += 1
            for k, v in s.counts.items():
                agg[k] += v
        return {
            name: {k: v / max(n_ops, 1) for k, v in agg.items()}
            for name, agg in out.items()
        }

    def mean_call_ms(self, name: str) -> float:
        """Mean duration of every ``name`` span, inside ops or not."""
        d = [s.end - s.start for s in self.spans if s.name == name]
        return 1000.0 * sum(d) / len(d) if d else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, **s.counts,
                }) + "\n")


class JobCounter:
    """Counts Spark jobs, stages and tasks per op via job groups."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.totals = {"jobs": 0, "stages": 0, "tasks": 0}
        self.ops = 0

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def stop(self, group: str) -> None:
        jobs = self.tracker.getJobIdsForGroup(group)
        self.totals["jobs"] += len(jobs)
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                ran = 0 if st is None else st.numCompletedTasks + st.numFailedTasks
                if ran:  # a skipped stage (reused shuffle output) runs no task
                    self.totals["stages"] += 1
                    self.totals["tasks"] += ran
        self.ops += 1
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def per_op(self) -> dict[str, float]:
        return {k: v / max(self.ops, 1) for k, v in self.totals.items()}
