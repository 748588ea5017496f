"""S2/S3: trajectory (replay-buffer) tables — depth-3 nested schema + NDJSON
interchange.

The reference declares this schema twice, for truncate and append loads
(``generator_component.py:122-137``, ``logger/main.py:127-142``): every
column is REPEATED (an array of length batch_size), and ``observation`` is
``RECORD REPEATED`` containing ``observation_batch FLOAT64 REPEATED`` —
array<struct<observation_batch: array<double>>>. Rows travel as NDJSON
(``generator_component.py:97-100``, ``SourceFormat.NEWLINE_DELIMITED_JSON``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRAJECTORY_SCHEMA = T.StructType(
    [
        T.StructField("step_type", T.ArrayType(T.LongType())),
        T.StructField(
            "observation",
            T.ArrayType(T.StructType([T.StructField("observation_batch", T.ArrayType(T.DoubleType()))])),
        ),
        T.StructField("action", T.ArrayType(T.LongType())),
        T.StructField("policy_info", T.ArrayType(T.DoubleType())),
        T.StructField("next_step_type", T.ArrayType(T.LongType())),
        T.StructField("reward", T.ArrayType(T.DoubleType())),
        T.StructField("discount", T.ArrayType(T.DoubleType())),
    ]
)


def trajectory_columns(slots: Column) -> list[Column]:
    """The seven ``TRAJECTORY_SCHEMA`` columns from one row's batch slots,
    an ``array<struct<obs, action, reward>>`` column. Every slot is a
    single-step ``MID`` transition of a policy with no info, as the
    reference writes them (``generator_component.py:122-137``,
    ``logger/main.py:107-150``). Pass a column, not an expression: each
    output column reads ``slots`` again."""
    return [
        F.transform(slots, lambda s: F.lit(1).cast("long")).alias("step_type"),
        F.transform(slots, lambda s: F.struct(s.obs.alias("observation_batch"))).alias("observation"),
        slots["action"].alias("action"),
        F.transform(slots, lambda s: F.lit(0.0)).alias("policy_info"),
        F.transform(slots, lambda s: F.lit(1).cast("long")).alias("next_step_type"),
        slots["reward"].alias("reward"),
        F.transform(slots, lambda s: F.lit(1.0)).alias("discount"),
    ]


def read_trajectories_ndjson(
    spark: SparkSession, path: str, *, corrupt_col: str | None = None
) -> DataFrame:
    """NDJSON → trajectories with the explicit nested schema (no inference).

    ``corrupt_col`` opts into PERMISSIVE corrupt-record capture: malformed
    lines land with every schema column NULL and the raw line preserved in
    ``corrupt_col`` (quarantine-and-continue, the posture a 100 TB ingest
    needs — one bad producer line must not kill the load). Default keeps
    the strict schema shape unchanged.

    Spark caveat: a query projecting ONLY the corrupt column from a raw
    JSON scan raises AnalysisException by design — quarantine writes must
    either keep at least one schema column in the projection or
    ``.cache()`` the frame first (both patterns are exercised in
    tests/test_sources.py).
    """
    if corrupt_col is None:
        return spark.read.schema(TRAJECTORY_SCHEMA).json(path)
    schema = T.StructType(
        list(TRAJECTORY_SCHEMA.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def write_trajectories_ndjson(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """Trajectories → NDJSON staging files (S2 truncate / S3 append via
    ``mode``)."""
    df.write.mode(mode).json(path)


def write_trajectories_table(df: DataFrame, table_path: str, *, mode: str) -> None:
    """The BigQuery-load half of S2/S3: NDJSON-shaped rows into a columnar
    table; ``mode='overwrite'`` = WRITE_TRUNCATE, ``'append'`` = WRITE_APPEND."""
    df.write.mode(mode).parquet(table_path)


def flatten_observations(df: DataFrame) -> DataFrame:
    """P1's nested flatten (``ingester_component.py:53-57``): strip the
    struct wrapper → array<array<double>>."""
    return df.withColumn("observation", F.transform("observation", lambda o: o.observation_batch))


def wrap_observations(df: DataFrame) -> DataFrame:
    """P2's inverse (``generator_component.py:77-86``): wrap each batch in a
    {observation_batch: …} struct."""
    wrapped = F.transform("observation", lambda b: F.struct(b.alias("observation_batch")))
    # transform() yields containsNull=False; cast back to the canonical type
    # so flatten→wrap round-trips to exactly TRAJECTORY_SCHEMA.
    return df.withColumn("observation", wrapped.cast(TRAJECTORY_SCHEMA["observation"].dataType))
