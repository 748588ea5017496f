"""Profile ONE stateful rollup refresh at a 10× batch size, with and
without the r13 incoming-partials barrier (VERDICT r13 #4: "prove the
rollup-refresh win at a 10× batch fixture — bytes-read/jobs per stateful
refresh halved vs the pre-barrier code — or revert it").

Builds a 10× copy of the sf0.1 events table under /tmp (the documented
multi-GB fixture exemption, rebuilt on demand), seeds a store with state
under ``/tmp/rollup10x_store_*`` (removed when the script exits), then
refreshes a 10×-sized batch twice:

- ``barrier``   — the shipped ``ContinuousAggregate.refresh`` (r13: the
  incoming partials are lazily checkpointed, so the touched-pgroup probe
  materializes the batch scan ONCE and the merge reuses the blocks);
- ``pre-r13``   — the same refresh with the checkpoint line removed, so
  the probe scans + partial-aggregates the batch, and the merge's lineage
  replays the whole scan + aggregation a second time.

Reports jobs, summed stage input bytes and wall per variant from the UI
REST API.  Usage: python tools/rollup_refresh_profile.py [sf_dir]
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mlops_pipelines_featurestore_gcp_spark import get_spark  # noqa: E402
from mlops_pipelines_featurestore_gcp_spark.plans.llm_data import load_table  # noqa: E402
from mlops_pipelines_featurestore_gcp_spark.streaming.rollup import (  # noqa: E402
    ContinuousAggregate,
)

X10_DIR = "/tmp/spark_graft_rollup10x"
WIDTH = 3600 * 1_000_000


def _api(port: int, path: str):
    with urllib.request.urlopen(f"http://localhost:{port}/api/v1/{path}") as r:
        return json.loads(r.read())


def _build_10x(spark, sf_dir: str) -> str:
    """10 disjoint-event-id copies of events, one parquet dir (32 files)."""
    if os.path.isdir(X10_DIR) and os.listdir(X10_DIR):
        return X10_DIR
    ev = load_table(spark, "events", sf_dir)
    n = ev.count()
    copies = [
        ev.select(
            (F.col("event_id") + F.lit(i * n)).alias("event_id"),
            "ts",
            "event_type",
            "value",
            "user_id",
        )
        for i in range(10)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(X10_DIR)
    return X10_DIR


def _pre_r13_refresh(agg: ContinuousAggregate, batch, *, batch_id: int) -> None:
    """refresh() without the r13 incoming-partials pin (the rest is the
    shipped stateful path: merge inside the pgroup shuffle, written into
    the next version and committed with the batch id)."""
    incoming = agg._partials(batch)
    assert agg._groups(agg._current()), "profile needs the stateful path"
    touched_groups = [
        r["pgroup"]
        for r in agg._with_pgroup(incoming).select("pgroup").distinct().collect()
    ]
    existing = (
        agg._state(batch.sparkSession)
        .where(F.col("pgroup").isin(touched_groups))
        .drop("pgroup")
    )
    agg._write_state(existing.unionByName(incoming), merge=True, batch_id=batch_id)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(
        "rollup-profile", **{"spark.ui.enabled": "true", "spark.ui.port": "4056"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[-1])
    app_id = spark.sparkContext.applicationId
    x10 = _build_10x(spark, sf_dir)
    ev = spark.read.parquet(x10).select(
        "event_id", F.unix_micros(F.col("ts")).alias("t"), "event_type",
        F.col("value").alias("v"),
    )

    def fresh_store(tag: str) -> ContinuousAggregate:
        path = f"/tmp/rollup10x_store_{tag}"
        shutil.rmtree(path, ignore_errors=True)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        return ContinuousAggregate(
            path, time_col="t", value_col="v", keys=["event_type"],
            bucket_width=WIDTH,
        )

    results = {}
    for variant in ("barrier", "pre-r13", "barrier", "pre-r13"):
        agg = fresh_store(variant.replace("-", "_"))
        # seed state so the profiled refresh takes the stateful path
        agg.refresh(ev.where(F.col("event_id") % 2 == 0).drop("event_id"), batch_id=0)
        batch = ev.where(F.col("event_id") % 2 == 1).drop("event_id")
        jobs_before = {j["jobId"] for j in _api(port, f"applications/{app_id}/jobs")}
        stages_before = {
            s["stageId"] for s in _api(port, f"applications/{app_id}/stages")
        }
        t0 = time.perf_counter()
        if variant == "barrier":
            agg.refresh(batch, batch_id=1)
        else:
            _pre_r13_refresh(agg, batch, batch_id=1)
        wall = time.perf_counter() - t0
        jobs = [
            j for j in _api(port, f"applications/{app_id}/jobs")
            if j["jobId"] not in jobs_before
        ]
        stages = [
            s for s in _api(port, f"applications/{app_id}/stages")
            if s["stageId"] not in stages_before
        ]
        inp = sum(s.get("inputBytes", 0) for s in stages)
        rec = sum(s.get("inputRecords", 0) for s in stages)
        key = variant if variant not in results else variant + "#2"
        results[key] = {
            "wall_s": round(wall, 3),
            "jobs": len(jobs),
            "stages": len(stages),
            "input_bytes": inp,
            "input_records": rec,
        }
        print(f"{key:12s} {results[key]}", file=sys.stderr)
    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
