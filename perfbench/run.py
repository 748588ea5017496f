"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload online_lookup --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The program runs on ``local[nproc]``;
every file the run writes stays under ``.perfbench_work/`` in the checkout
and is removed when the run ends. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1`` the per-layer
metrics. The line before it carries the workload-specific figures, the
sample counts and the host-contention record. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> dict[str, str]:
    """Point every temporary location of Python, Spark and the JVM into
    ``work``; returns the Spark settings that do the same."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_GRAFT_DRIVER_MEM="4g",
    )
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def _live_heap_mb(spark) -> float:
    """Heap in use right after a full collection: what the JVM retains
    (caches, plans, listener state), independent of when the collector
    last ran, which makes it steadier than the resident set."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _parse(argv)
    with open(BENCHMARK) as fh:
        spec = json.load(fh)
    sys.path[:0] = [HERE, ROOT]

    import host  # imports bench.py, and with it pyspark and the package
    import layers
    import stats
    from core import Ctx
    from tracing import Tracer

    workload = layers.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        confs = _isolate(work)
        record = host.record_before(os.cpu_count())

        from mlops_pipelines_featurestore_gcp_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", **confs)
        spark.range(1).count()
        jvm_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        try:
            tracer = Tracer(spark, enabled=bool(args.trace))
            for owner, attr, name in workload.PATCHES:
                tracer.patch(owner, attr, name)
            ctx = Ctx(spark=spark, work=work, seed=args.seed, seconds=args.seconds, tracer=tracer)
            try:
                out = workload.run(ctx)
            finally:
                tracer.unpatch()
            rss_mb = _peak_rss_mb(spark)
            heap_mb = _live_heap_mb(spark)
        finally:
            _stop(spark)
        record = host.record_after(record)

        if args.trace:
            metrics = layers.per_layer(tracer, out)
            spans_path = os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.dump(spans_path)
            overhead = statistics.median(out.traced_op_s) / statistics.median(out.op_s[1:]) - 1.0
            detail = {"trace_overhead_frac": overhead, "traced_ops": len(out.traced_op_s), "spans": spans_path}
        else:
            metrics = layers.end_to_end(out, jvm_s=jvm_s, heap_mb=heap_mb)
            detail = layers.workload_detail(out)
        wanted = spec["per_layer" if args.trace else "end_to_end"]
        units = {m["name"]: m["unit"] for m in wanted}
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")
        detail.update(
            workload=args.workload,
            seed=args.seed,
            jvm_start_s=jvm_s,
            data_setup_s=out.setup_s,
            jvm_peak_rss_mb=rss_mb,
            ops_failed_frac=out.failed / out.attempted,
            host=record,
        )
        line = stats.result_line(
            correct=out.failed == 0,
            attempted=out.attempted,
            failed=out.failed,
            metrics={n: (v, units[n]) for n, v in metrics.items()},
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=float))
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
