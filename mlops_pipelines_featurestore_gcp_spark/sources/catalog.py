"""Parquet-backed table catalog over the driver's TPC-H-ish testdata.

Explicit schemas everywhere — the reference declares a literal schema at every
load boundary (e.g. ``load_component.py:31-36``, ``generator_component.py:
122-137``) and never infers; we mirror that discipline. Explicit schemas also
let Spark skip footer-sampling on huge datasets and guarantee stable column
order for the oracle comparison.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Schemas match the driver-generated parquet exactly (see FIXTURES.md §6).
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Fact tables whose fixture files are big enough that single-threaded
# decode+aggregate dominates a query. Dimensions stay un-rebalanced: an extra
# Exchange on a 25-row table is pure stage overhead and they broadcast anyway.
_REBALANCE_MIN_BYTES = int(float(os.environ.get("SPARK_GRAFT_REBALANCE_MIN_MB", "4")) * 1024 * 1024)


def _rebalance_unsplittable(df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition a scan whose file layout defeats parallelism.

    Parquet is splittable only at ROW-GROUP boundaries, and the fixture
    files are written as a single row group — so however many byte-range
    splits Spark creates, exactly one task emits all the rows and every
    downstream partial aggregate runs on one core. A production table is
    many files × many row groups and never hits this; the guard makes this
    a no-op there (enough partitions → untouched, small file → untouched).
    Catalyst still pushes filters and column pruning THROUGH the
    repartition into the scan, so pushdown is unaffected.
    """
    try:
        size = os.path.getsize(path)
    except OSError:  # non-local filesystem — a real deployment, splits fine
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # Estimate the scan's byte-range split count from the file size instead
    # of probing df.rdd.getNumPartitions(): the probe forces a plan→RDD
    # conversion costing ~100-300ms of driver time PER load_table call
    # (dozens of calls per bench run), while the byte math is what Spark's
    # FilePartition planner computes anyway.
    max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728").rstrip("b"))
    est_splits = max(1, (size + max_split - 1) // max_split)
    if size < _REBALANCE_MIN_BYTES or est_splits >= target:
        return df
    return df.repartition(target)


def _events_ts_stored_as_int64(path: str) -> bool:
    """True when events.ts is physically an int64 nanosecond column.

    Early fixture generations wrote ``ts`` as raw int64 epoch-nanos (Spark
    has no ns timestamp type, so it must be read as long and truncated);
    later generations write a proper ``timestamp[us]`` that Spark reads
    natively. One footer read settles which layout this file uses.
    """
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        return pa.types.is_integer(pq.read_schema(path).field("ts").type)
    except Exception:  # remote FS / missing pyarrow — assume modern layout
        return False


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one testdata table with its explicit schema (no inference)."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    schema = SCHEMAS[name]
    legacy_ns = name == "events" and _events_ts_stored_as_int64(path)
    if legacy_ns:
        schema = T.StructType(
            [f if f.name != "ts" else T.StructField("ts", T.LongType()) for f in schema]
        )
    df = spark.read.schema(schema).parquet(path)
    df = _rebalance_unsplittable(df, path)
    if legacy_ns:
        # nanoseconds → microsecond timestamp; integer div keeps exactness
        # (ns values exceed double's 2^53 mantissa) and matches DuckDB's
        # truncating read of the same parquet column.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return df


def register_temp_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so ``spark.sql`` queries see the
    same names the DuckDB oracle does."""
    for name in TABLE_NAMES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
