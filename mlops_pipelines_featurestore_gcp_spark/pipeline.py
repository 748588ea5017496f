"""The reference's end-to-end DAG as one composable SparkSession program.

Reference entry point 1 (SURVEY.md §3.1): a KFP pipeline of 8 containerized
tasks wired through BigQuery tables / GCS files —
``load → import-feature-values → generate → ingest → train → upload →
deploy`` (``pipeline/metadata_pipeline.json`` root.dag.tasks; notebook
cell 35). Here every component is a plain function over DataFrames; the DAG
is Catalyst's lazy plan, and "containers + GCS handoff" becomes in-memory
exchange. Default parameters mirror the compiled spec's runtimeConfig
(``batch_size=8, rank_k=20, num_actions=20, driver_steps=3,
tikhonov_weight=0.01, agent_alpha=10, bigquery_max_rows=10000``).

The retraining entry point (notebook cell 56: ingest → train → redeploy on a
30-min cron) is :func:`retrain`: the same tail re-run over the ever-growing
training table — pair it with the streaming log loop
(``streaming/log_loop.py``) which appends to that table.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mlops_pipelines_featurestore_gcp_spark.feature_store import FeatureStore
from mlops_pipelines_featurestore_gcp_spark.ml.factorization import als_factors
from mlops_pipelines_featurestore_gcp_spark.ml.generator import generate_trajectories
from mlops_pipelines_featurestore_gcp_spark.ml.linucb import LinUCB, LinUCBModel, arm_partials
from mlops_pipelines_featurestore_gcp_spark.sources import ratings as ratings_src
from mlops_pipelines_featurestore_gcp_spark.sources import tfrecord
from mlops_pipelines_featurestore_gcp_spark.sources.trajectories import TRAJECTORY_SCHEMA, flatten_observations


@dataclass
class PipelineConfig:
    """runtimeConfig defaults from the compiled KFP spec (SURVEY §3.1)."""

    rank_k: int = 20
    batch_size: int = 8
    num_actions: int = 20
    driver_steps: int = 3
    tikhonov_weight: float = 0.01
    agent_alpha: float = 10.0
    max_rows: int = 10_000
    seed: int = 7
    als_max_iter: int = 10


@dataclass
class PipelineArtifacts:
    raw_table: str
    training_table: str
    tfrecord_dir: str
    model_path: str
    metrics: dict = field(default_factory=dict)


def run_startup_pipeline(
    spark: SparkSession,
    raw_data_path: str,
    work_dir: str,
    *,
    config: PipelineConfig | None = None,
    feature_store: FeatureStore | None = None,
) -> PipelineArtifacts:
    """load → feature-import → generate → ingest → train, end to end.

    Each stage is the Spark-first equivalent of one reference component:

    1. **load** (S1, ``load_component.py``): ratings TSV → all-STRING table.
    2. **import-feature-values** (FS6, ``bigquery_to_featurestore.py``):
       typed view keyed by ``user_id`` with wall-clock feature time.
    3. **generate** (M1-M3, ``generator_component.py``): ALS rank-k factors
       + seeded random-policy trajectories → nested training table.
    4. **ingest** (S4-S6, ``ingester_component.py``): SELECT * LIMIT n →
       flatten → TFRecord files.
    5. **train** (M4, ``trainer_component.py``): LinUCB closed form, summed
       in the ingest pass (no read-back) → JSON model artifact (S11).
    """
    cfg = config or PipelineConfig()

    # 1. load
    raw = ratings_src.load_ratings_tsv(spark, raw_data_path)
    raw_table = f"{work_dir}/raw_dataset"
    ratings_src.save_ratings_table(raw, raw_table)
    raw_back = spark.read.parquet(raw_table)
    typed = ratings_src.typed_view(raw_back)

    # 2. import feature values (per-entity, time-versioned)
    if feature_store is not None:
        feature_store.create_featurestore("movie_fs")
        feature_store.create_entity_type("movie_fs", "users")
        for feat in ratings_src.RAW_COLUMNS:
            feature_store.create_feature("movie_fs", "users", feat, value_type="STRING")
        feature_store.import_feature_values(
            "movie_fs", "users", raw_back, entity_id_field="user_id"
        )

    # 3. generate trajectories from rank-k factors
    user_f, item_f = als_factors(
        typed, rank=cfg.rank_k, max_iter=cfg.als_max_iter, seed=cfg.seed
    )
    traj = generate_trajectories(
        user_f,
        item_f,
        driver_steps=cfg.driver_steps,
        batch_size=cfg.batch_size,
        num_actions=cfg.num_actions,
        seed=cfg.seed,
    )
    training_table = f"{work_dir}/training_dataset"
    traj.write.mode("overwrite").parquet(training_table)

    # 4-5. ingest + train
    tfrecord_dir, model_path = _ingest_and_train(spark, training_table, work_dir, cfg)

    n_raw = raw_back.count()
    return PipelineArtifacts(
        raw_table=raw_table,
        training_table=training_table,
        tfrecord_dir=tfrecord_dir,
        model_path=model_path,
        metrics={"raw_rows": n_raw, "trajectories": cfg.driver_steps},
    )


def _ingest_and_train(
    spark: SparkSession, training_table: str, work_dir: str, cfg: PipelineConfig
) -> tuple[str, str]:
    """The shared tail in one pass over the slice: SELECT * LIMIT n (the
    reference's ingest, ``ingester_component.py:22-40``, which reads the
    slice in one container) → flatten → collect as Arrow → on the driver,
    write the TFRecord file and sum the LinUCB partials over the same
    batches → solve → artifact.

    The slice is bounded by ``max_rows`` and its ``LIMIT`` plans as one
    partition anyway, so the pass loses no parallelism on the driver and
    starts no Python worker. It cuts the slice at the session's
    ``maxRecordsPerBatch``, the batches a Spark task would get, so the
    partials sum in the order a read-back fit sums them. Nothing reads the
    file back: obs and reward are rounded to float32 (FloatList) in the
    plan, so the partials sum what a read-back returns and the file's
    bytes do not change."""
    nested = spark.read.schema(TRAJECTORY_SCHEMA).parquet(training_table).limit(cfg.max_rows)
    flat_rows = (
        flatten_observations(nested)
        .select(F.posexplode(F.arrays_zip("observation", "action", "reward")).alias("slot", "z"))
        .select(
            F.col("z.observation").cast("array<float>").cast("array<double>").alias("obs"),
            F.col("z.action").alias("action"),
            F.col("z.reward").cast("float").cast("double").alias("reward"),
        )
    )
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    batches = flat_rows.toArrow().combine_chunks().to_batches(max_chunksize=batch_rows if batch_rows > 0 else None)
    tfrecord_dir = f"{work_dir}/tfrecords"
    tfrecord.write_partition(batches, f"{tfrecord_dir}/part-00000.tfrecord")
    model = LinUCB(
        context_dim=cfg.rank_k,
        num_actions=cfg.num_actions,
        alpha=cfg.agent_alpha,
        tikhonov=cfg.tikhonov_weight,
    ).solve([row for p in arm_partials(batches, cfg.rank_k) for row in p.to_pylist()])
    model_path = f"{work_dir}/model/policy.json"
    model.save(model_path)
    return tfrecord_dir, model_path


def retrain(spark: SparkSession, training_table: str, work_dir: str, *, config: PipelineConfig | None = None) -> str:
    """ST5: the 30-min recurring pipeline — re-ingest the (streaming-
    appended) training table and refit; returns the new artifact path."""
    cfg = config or PipelineConfig()
    _, model_path = _ingest_and_train(spark, training_table, work_dir, cfg)
    return model_path


def predict(spark: SparkSession, model_path: str, observations: DataFrame, *, obs_col: str = "obs") -> DataFrame:
    """Entry point 2's serving call (M5): load the artifact and score a
    request batch on the driver, as the reference's server loads its policy
    once and scores each request with ``policy.action`` in one process
    (``prediction_container/main.py:20-93``).

    The batch comes to the driver as Arrow (one job, no Python worker),
    ``LinUCBModel.scores`` scores it, and the result is a local relation of
    ``observations``' columns plus ``predicted_action`` (NULL for an invalid
    observation): the columns and types ``LinUCBModel.transform`` gives, and
    reading it runs no job. So ``predict`` is for request-sized batches;
    score a table with ``LinUCBModel.transform``, which runs distributed."""
    table = observations.toArrow()
    _, best, scored = LinUCBModel.load(model_path).best_arms(table[obs_col])
    table = table.append_column("predicted_action", pa.array(best, pa.int64(), mask=~scored))
    schema = T.StructType([*observations.schema, T.StructField("predicted_action", T.LongType())])
    return spark.createDataFrame(table, schema)
