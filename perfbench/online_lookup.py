"""online_lookup: point reads against the materialized online store.

Set-up imports a 20k-entity × 8-feature frame and a later import that
rewrites 10% of the entities, then materializes the online store with the
default buckets, then runs untimed lookups until the lookup path is
compiled. Each op is one ``online_read(...).collect()`` from a
closed loop with one client; keys follow a Zipf(1.1) draw, and every fifth
op asks for 32 keys instead of one.
"""

from __future__ import annotations

import os
import statistics
import time

import checks
import gen
import stats
from core import Ctx, Loop, Outcome

from mlops_pipelines_featurestore_gcp_spark.feature_store import store as fs_store

FS, ENTITY = "bench_fs", "entities"
FEATURE_TIMES = ("2024-01-01 00:00:00", "2024-01-02 00:00:00")
# Untimed lookups after set-up: the lookup path keeps getting faster for
# about a hundred calls while the JIT compiles it; ops are timed after that.
WARMUP_LOOKUPS = 100


def build_store(ctx: Ctx, paths: list[str], base: str) -> fs_store.FeatureStore:
    store = fs_store.FeatureStore(ctx.spark, base)
    store.create_featurestore(FS)
    store.create_entity_type(FS, ENTITY)
    for path, t in zip(paths, FEATURE_TIMES):
        src = ctx.spark.read.parquet(path)
        store.import_feature_values(FS, ENTITY, src, entity_id_field="entity_id", feature_time=t)
    store.materialize_online(FS, ENTITY)
    return store


def files_read(df) -> int:
    """Files the executed scan opened (its ``numFiles`` metric), read after
    the action ran."""
    plan = df._jdf.queryExecution().executedPlan()
    total = 0
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        metrics = leaves.apply(i).metrics()
        if metrics.contains("numFiles"):
            total += metrics.apply("numFiles").value()
    return total


def run(ctx: Ctx) -> Outcome:
    frames = [gen.feature_frame(ctx.seed), gen.feature_update(ctx.seed)]
    expected = checks.expected_latest(frames)
    paths = []
    for i, fr in enumerate(frames):
        paths.append(os.path.join(ctx.work, f"input-{i}.parquet"))
        fr.to_parquet(paths[-1], index=False)
    stream = gen.lookup_stream(ctx.seed)

    t0 = time.perf_counter()
    store = build_store(ctx, paths, os.path.join(ctx.work, "store"))
    setup_s = time.perf_counter() - t0

    for keys in stream[-WARMUP_LOOKUPS:]:
        store.online_read(FS, ENTITY, keys).collect()

    tr = ctx.tracer
    op_s, traced_s, failed = [], [], 0
    files, rows_per_key = [], []
    loop = Loop(ctx)
    for i, traced in loop:
        keys = stream[i % len(stream)]
        t0 = time.perf_counter()
        with tr.span("bench.lookup"):
            df = store.online_read(FS, ENTITY, keys)
            with tr.span("feature_store.online_collect"):
                rows = df.collect()
        dt = time.perf_counter() - t0
        (traced_s if traced else op_s).append(dt)
        got = [r.asDict() for r in rows]
        failed += not checks.check_lookup(got, keys, expected)
        if traced:
            files.append(files_read(df))
            rows_per_key.append(len(rows) / len(set(keys)))

    layer = {}
    if ctx.traced:
        layer = {
            "feature_store.files_per_lookup": statistics.fmean(files),
            "feature_store.rows_per_key": statistics.fmean(rows_per_key),
        }
    n = len(op_s) + len(traced_s)
    detail = {}
    if stats.has_percentile(len(op_s), 95):
        detail["lookup_p95_ms"] = 1000 * stats.percentile(op_s, 95)
    return Outcome(
        setup_s=setup_s,
        op_s=op_s,
        lookup_s=op_s,
        measured_s=loop.elapsed,
        attempted=n,
        failed=failed,
        traced_op_s=traced_s,
        layer=layer,
        detail=detail,
    )


PATCHES = [
    (fs_store.FeatureStore, "online_read", "feature_store.online_read"),
    (fs_store.FeatureStore, "import_feature_values", "feature_store.import"),
    (fs_store.FeatureStore, "materialize_online", "feature_store.materialize"),
]
