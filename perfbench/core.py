"""What the runner hands a workload, and what a workload hands back."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from tracing import Tracer


@dataclass
class Ctx:
    spark: object  # SparkSession
    work: str  # per-run working directory inside the checkout
    seed: int
    seconds: float
    tracer: Tracer

    @property
    def traced(self) -> bool:
        return self.tracer.enabled


@dataclass
class Outcome:
    setup_s: float  # the data set-up (JVM start excluded)
    op_s: list[float]  # latency of every untraced op
    lookup_s: list[float]  # every untraced online_read(...).collect()
    measured_s: float  # wall time of the measurement loop
    attempted: int
    failed: int
    traced_op_s: list[float] = field(default_factory=list)  # traced ops (trace run only)
    layer: dict[str, float] = field(default_factory=dict)  # per-layer metrics (trace run only)
    detail: dict = field(default_factory=dict)  # workload-specific figures, printed before the result


class Loop:
    """Closed loop with one client: run ops until ``seconds`` have passed,
    and at least one. In a traced run every second op from the second on
    is traced, so the same run measures the tracing overhead against the
    untraced ops after the first (a cold op would skew it); it runs at
    least three ops."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.min_ops = 3 if ctx.traced else 1
        self.i = 0
        self.t0 = time.perf_counter()

    def __iter__(self):
        deadline = self.t0 + self.ctx.seconds
        while self.i < self.min_ops or time.perf_counter() < deadline:
            traced = self.ctx.traced and self.i % 2 == 1
            self.ctx.tracer.paused = not traced
            self.ctx.tracer.op = f"op-{self.i}"
            yield self.i, traced
            self.i += 1
        self.ctx.tracer.paused = False
        self.ctx.tracer.op = "teardown"
        self.elapsed = time.perf_counter() - self.t0
