"""ST1-ST5: the prediction-log loop as a Structured Streaming query.

Reference dataflow (SURVEY.md §3.2): the serving container publishes
``{observations, predicted_actions}`` JSON to Pub/Sub
(``prediction_container/main.py:38-58``); a Cloud Function consumes each
message, recomputes the reward by stepping the environment
(``logger/main.py:51-73``), and appends a trajectory row to BigQuery
(``logger/main.py:107-150``), drained by a cron. Delivery is
at-least-once and the reference does NOT dedup — duplicate training rows
are possible.

Spark version — one path, strictly better semantics:

- publish: NDJSON appended into a message directory (stands in for the
  queue).
- source: ``readStream`` over that directory with an explicit schema, never
  inference (``logger/main.py:153-162`` base64+JSON decodes each message;
  the file source hands over the JSON directly); an ``availableNow``
  trigger drains everything pending in one micro-batch and stops (the
  cron-triggered drain of ST1/ST5).
- enrichment: each message row scores its own slots in place — the item
  factors ride along as one broadcast ``map<item_id, features>``, built
  once per query, and the dot product is a JVM-side fold — no Python UDF
  in the hot path, and the factor matrix is NOT rebuilt per message (the
  reference re-runs a full SVD per message — SURVEY §4.1 anti-pattern).
- sink: watermarked ``dropDuplicatesWithinWatermark`` on ``message_id``
  plus an idempotent ``_batch=<id>`` partition → exactly-once into the
  table.

At 100 TB posture: the stream shuffles only for the dedup (keyed state);
enrichment is row-local (factor map is ``num_items × k`` ≈ MBs), so
per-batch work is embarrassingly parallel over source partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from mlops_pipelines_featurestore_gcp_spark.functions.vectors import dot
from mlops_pipelines_featurestore_gcp_spark.sources.trajectories import trajectory_columns

MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("message_id", T.StringType()),
        T.StructField("publish_time", T.TimestampType()),
        # one observation (rank-k user vector) per batch slot
        T.StructField("observations", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("predicted_actions", T.ArrayType(T.LongType())),
    ]
)

# The log loop's query runs with these, set around its start() only: no
# trailing no-data batch per drain, and, the dedup being its one stateful
# operator, late rows are filtered against the batch's own watermark (the
# one the previous drain committed) instead of the previous batch's.
_QUERY_CONFS = {
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    "spark.sql.streaming.statefulOperator.allowMultiple": "false",
}


def factor_map(item_factors: DataFrame) -> DataFrame:
    """The item factors as a one-row ``__f map<item_id, features>`` local
    relation.

    ``item_factors``: ``(item_id long, features array<double>)``. The map is
    aggregated once, collected to the driver over Arrow and handed back as
    a local relation, so joining it into a batch re-runs no aggregate over
    the factors and broadcasting it runs no job.
    """
    agg = item_factors.agg(
        F.map_from_entries(F.collect_list(F.struct(F.col("item_id").cast("long"), "features"))).alias("__f")
    )
    return item_factors.sparkSession.createDataFrame(agg.toArrow(), agg.schema)


def enrich_with_reward(messages: DataFrame, factors: DataFrame) -> DataFrame:
    """ST3: reward enrichment — the ``environment.step(action)`` equivalent.

    The reference's env reward is (approximately) the user-item rating
    reconstructed from the rank-k factorization, i.e. ``dot(user_vec,
    item_vec[action])`` (``logger/main.py:63-66`` via the SVD env). Each
    message zips its observations with its predicted actions and scores
    every slot in place: the factor comes from the broadcast one-row
    ``factors`` map (``factor_map``) and the dot product is the
    left-to-right ``vectors.dot`` fold. Message rows are never shuffled.

    Output: one row per message in the trajectory shape (batch arrays),
    matching ``generator_component.py:122-137``. A slot whose action has
    no factor, or whose arrays are ragged or hold nulls, earns reward 0.0;
    a message with no slots (empty or null arrays) is dropped.
    """
    zipped = F.arrays_zip("observations", "predicted_actions")
    slots = F.transform(
        zipped,
        lambda z: F.struct(
            z.observations.alias("obs"),
            z.predicted_actions.alias("action"),
            F.coalesce(
                dot(z.observations, F.try_element_at(F.col("__f"), z.predicted_actions)), F.lit(0.0)
            ).alias("reward"),
        ),
    )
    return (
        messages.where(F.size(zipped) > 0)
        .crossJoin(F.broadcast(factors))
        .select("message_id", "publish_time", slots.alias("b"))
        .select("message_id", "publish_time", *trajectory_columns(F.col("b")))
    )


def run_log_loop(
    spark: SparkSession,
    message_dir: str,
    item_factors: DataFrame,
    sink_path: str,
    checkpoint_dir: str,
    *,
    dedup_watermark: str = "10 minutes",
) -> StreamingQuery:
    """ST2+ST4: drain ``message_dir`` → enrich → exactly-once append.

    The query reads every pending NDJSON file of ``message_dir`` in ONE
    micro-batch and stops (``availableNow``). Its two streaming confs
    (``_QUERY_CONFS``: no no-data micro-batches; late rows filtered by the
    batch's own watermark) are set around ``start()``, which clones the
    session's confs into the query, and restored right after, so the
    package's other streaming queries still get the no-data batches that
    emit their last windows. The watermark this drain reaches is committed
    to the checkpoint and applies to the next drain's batch.

    Exactly-once is built from two halves, each individually safe:

    - **Bounded stateful dedup**: ``dropDuplicatesWithinWatermark`` on
      ``message_id`` under a ``publish_time`` watermark. Unlike plain
      ``dropDuplicates`` (whose state never evicts when the event-time
      column is not part of the key), per-key state is dropped once the
      watermark passes — redeliveries inside the watermark window collapse,
      messages behind it are dropped, state stays O(messages-per-window).
      Without no-data batches, expired state is evicted at the end of the
      next data batch.
    - **Idempotent sink**: each micro-batch writes its rows into the
      deterministic ``_batch=<batch_id>`` partition with DYNAMIC partition
      overwrite, so a batch retried after partial failure replaces its own
      partition instead of appending duplicates (a blind ``append`` here
      would silently re-create the reference's at-least-once duplication,
      ``logger/main.py:107-150``).

    Structure note: the stateful dedup lives in the stream (rows pass
    through immediately — the watermark only bounds dedup state) and is its
    only shuffle. The enrichment runs inside ``foreachBatch`` as a row-local
    *batch* step against the factor map built once here, so append mode
    never delays emission of the newest messages behind the watermark.
    """
    factors = factor_map(item_factors)
    deduped = (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .json(message_dir)
        .withWatermark("publish_time", dedup_watermark)
        .dropDuplicatesWithinWatermark(["message_id"])
    )

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        (
            enrich_with_reward(batch_df, factors)
            .withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(sink_path)
        )

    writer = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(_emit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    previous = {key: spark.conf.get(key, None) for key in _QUERY_CONFS}
    for key, value in _QUERY_CONFS.items():
        spark.conf.set(key, value)
    try:
        return writer.start()
    finally:
        for key, value in previous.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def publish_messages(df: DataFrame, message_dir: str) -> int:
    """S8: message-queue PUBLISH — the serving container's side of the loop
    (``prediction_container/main.py:38-58`` publishes prediction JSON to
    Pub/Sub). Appends one JSON object per line into the NDJSON message
    directory that ``run_log_loop`` drains, and returns the number of
    messages published.

    Publishing is at-least-once — exactly-once lives on the CONSUMER side
    (watermarked dedup on ``message_id``), matching the reference's Pub/Sub
    delivery contract.

    One Spark job: the count is observed in the pass that writes the lines.
    """
    written = Observation()
    df.observe(written, F.count(F.lit(1)).alias("n")).write.mode("append").json(message_dir)
    return written.get["n"]
