"""SparkSession factory with a scale-oriented default configuration.

The knobs here are chosen for the 100 TB posture (AQE, skew-join handling,
partition coalescing, Arrow for the Pandas-UDF paths) while remaining correct
on ``local[N]`` for tests. On a real cluster the same config applies — only
``master`` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults tuned for the test harness (local[32], 128 GiB box). On a cluster,
# shuffle.partitions should scale with total cores (AQE coalesces the excess).
_DEFAULT_CONFS: dict[str, str] = {
    # Adaptive query execution: runtime re-plan, skew-join splitting, and
    # post-shuffle partition coalescing — the single most important flag for
    # surviving a 100× scale-up without hand-tuning every query.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/supplier/factor matrices) must broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow transfer for every Python↔JVM boundary we cannot avoid.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Parquet: vectorized reader + pushdown are on by default; keep explicit.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Respect session timezone = UTC so timestamps hash identically vs oracle.
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: the engine mirrors BigQuery's permissive cast-at-boundary
    # behavior (reference loads everything as STRING and casts downstream).
    "spark.sql.ansi.enabled": "false",
    # The events fixture stores ts as parquet timestamp[ns]; Spark has no
    # nanosecond timestamps, so read the raw int64 and convert in the
    # catalog (truncate to µs, matching DuckDB's read of the same file).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "mlops-featurestore-spark", **overrides: str) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default tuning.

    ``overrides`` win over defaults. The environment is read here, not at
    import: ``SPARK_GRAFT_CPUS`` sets local parallelism and the shuffle
    partition count (default 32, matching the harness box; cluster deploys
    override), ``SPARK_GRAFT_DRIVER_MEM`` the driver heap (default 24g). A
    streaming checkpoint keeps the shuffle-partition count it was created
    with, whatever this session says.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Python workers resolve the package by module name (closures pickle
    # module-level helpers by reference); make the repo importable for them
    # regardless of the driver's cwd.
    repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_dir not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_dir + (os.pathsep + py_path if py_path else "")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    confs = {
        **_DEFAULT_CONFS,
        "spark.sql.shuffle.partitions": cpus,
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        **{k: str(v) for k, v in overrides.items()},
    }
    for key, value in confs.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
