"""The workloads, and how their outcomes become the metrics of
``BENCHMARK.json``.

Every run reports every metric of its kind, so a metric of a layer the
workload bypasses reads 0 there (no time spent, no jobs run).
"""

from __future__ import annotations

import statistics

import feedback_loop
import online_lookup
from core import Outcome
from tracing import Tracer

WORKLOADS = {"online_lookup": online_lookup, "feedback_loop": feedback_loop}

# per-layer metric -> span name: mean seconds per call in the traced ops
SPAN_MEANS = {
    "feature_store.online_read_s": "feature_store.online_read",
    "feature_store.online_collect_s": "feature_store.online_collect",
    "feature_store.import_s": "feature_store.import",
    "feature_store.materialize_s": "feature_store.materialize",
    "streaming.publish_s": "streaming.publish",
    "streaming.drain_s": "streaming.drain",
    "ml.predict_s": "ml.predict",
    "pipeline.retrain_s": "pipeline.retrain",
    "sources.write_tfrecords_s": "sources.write_tfrecords",
    "ml.linucb_fit_s": "ml.linucb_fit",
}
# per-layer metric -> root span: mean Spark jobs started under it
JOB_MEANS = {"session.jobs_per_lookup": "bench.lookup", "session.jobs_per_cycle": "bench.cycle"}
# metrics the workload measures itself (``Outcome.layer``)
MEASURED = (
    "feature_store.files_per_lookup",
    "feature_store.rows_per_key",
    "streaming.trigger_ms",
    "streaming.addbatch_ms",
    "streaming.dedup_kept_frac",
)
SELF_LAYERS = ("feature_store", "streaming", "ml", "pipeline", "sources")


def end_to_end(out: Outcome, *, jvm_s: float, heap_mb: float) -> dict[str, float]:
    return {
        "setup_s": jvm_s + out.setup_s,
        "op_p50_ms": 1000 * statistics.median(out.op_s),
        "jvm_live_heap_mb": heap_mb,
    }


def workload_detail(out: Outcome) -> dict:
    return {
        "ops": out.attempted,
        "measured_s": out.measured_s,
        "lookups": len(out.lookup_s),
        "lookup_p50_ms": 1000 * statistics.median(out.lookup_s),
        **out.detail,
    }


def per_layer(tracer: Tracer, out: Outcome) -> dict[str, float]:
    """Per-layer figures from the traced ops' spans. A span that only runs
    during set-up (an import or refresh on ``online_lookup``) is taken from
    the set-up spans instead."""

    def mean(values):
        return statistics.fmean(values) if values else 0.0

    m = {}
    for metric, name in SPAN_MEANS.items():
        spans = tracer.named(name, op_prefix="op-") or tracer.named(name, op_prefix="setup")
        m[metric] = mean([s.end - s.start for s in spans])
    for metric, name in JOB_MEANS.items():
        m[metric] = mean([tracer.jobs_under(s) for s in tracer.named(name, op_prefix="op-")])
    for metric in MEASURED:
        m[metric] = out.layer.get(metric, 0.0)
    own = tracer.self_by_layer(op_prefix="op-")
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = own.get(layer, 0.0) / len(out.traced_op_s)
    return m
