"""Benchmark-side tracing: spans around calls into the package's layers.

The traced run patches layer entry points (module functions and class
methods) from inside the benchmark process — the package itself is not
edited — so each call records a span ``(name, start, end, parent, op)``.
The layer is the span name's prefix before the first dot (``feature_store``,
``streaming``, …), matching the package's module names.

Each span also runs under its own Spark job group, so the jobs it starts
are counted (``SparkContext.statusTracker``). Spans stay in memory and are
written out once, when the run ends.

``Tracer(enabled=False)`` is the untraced run: ``span`` yields without
recording and ``patch`` installs nothing, so end-to-end timings carry no
tracing cost.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from stats import self_times


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    jobs: int = 0  # Spark jobs started under this span's own job group

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, spark=None, *, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext if spark is not None else None
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op = "setup"
        # While ``paused`` (set around untraced ops in a traced run) spans
        # are not recorded: the same process measures the tracing overhead.
        self.paused = False

    # -- spans ---------------------------------------------------------------

    def _group(self, span: Span) -> str:
        return f"perfbench-{span.sid}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self.paused:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, 0.0, 0.0, parent.sid if parent else None, self.op)
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setJobGroup(self._group(s), name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                s.jobs = len(self._sc.statusTracker().getJobIdsForGroup(self._group(s)))
                if parent is not None:
                    self._sc.setJobGroup(self._group(parent), parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class's method) by
        a wrapper recording span ``name`` around every call."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- summaries -----------------------------------------------------------

    def named(self, name: str, *, op_prefix: str = "") -> list[Span]:
        return [s for s in self.spans if s.name == name and s.op.startswith(op_prefix)]

    def self_by_layer(self, *, op_prefix: str = "") -> dict[str, float]:
        """Total self time per layer over spans whose op id starts with
        ``op_prefix``."""
        own = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op.startswith(op_prefix):
                out[s.layer] = out.get(s.layer, 0.0) + own[s.sid]
        return out

    def jobs_under(self, root: Span) -> int:
        """Jobs started by ``root`` and every span nested inside it."""
        below = {root.sid}
        total = 0
        for s in self.spans[root.sid :]:  # children are created after parents
            if s.sid in below or s.parent in below:
                below.add(s.sid)
                total += s.jobs
        return total

    def dump(self, path: str) -> None:
        """One JSON object per span: name, start, end, parent, op (+ sid,
        jobs). Times are seconds on the ``perf_counter`` clock."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
