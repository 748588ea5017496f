"""ST1-ST5: the prediction-log loop as a Structured Streaming query.

Reference dataflow (SURVEY.md §3.2): the serving container publishes
``{observations, predicted_actions}`` JSON to Pub/Sub
(``prediction_container/main.py:38-58``); a Cloud Function consumes each
message, recomputes the reward by stepping the environment
(``logger/main.py:51-73``), and appends a trajectory row to BigQuery
(``logger/main.py:107-150``). Delivery is at-least-once and the reference
does NOT dedup — duplicate training rows are possible.

Spark version — strictly better semantics:

- source: ``readStream`` over an NDJSON message directory (stands in for the
  queue) with an explicit schema, never inference.
- enrichment: each message row scores its own slots in place — the item
  factors ride along as one broadcast ``map<item_id, features>`` and the
  dot product is a JVM-side fold — no Python UDF in the hot path, and the
  factor matrix is NOT rebuilt per message (the reference re-runs a full
  SVD per message — SURVEY §4.1 anti-pattern).
- sink: ``writeStream`` append with checkpointing + watermarked
  ``dropDuplicates`` on ``message_id`` → exactly-once into the table.

At 100 TB posture: the stream shuffles only for the dedup (keyed state);
enrichment is row-local (factor map is ``num_items × k`` ≈ MBs), so
per-batch work is embarrassingly parallel over source partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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


def read_prediction_stream(
    spark: SparkSession,
    message_dir: str,
    *,
    max_files_per_trigger: int | None = None,
    source: str = "files",
) -> DataFrame:
    """S9: message-queue source, config-selectable.

    ``source="files"`` (default): each NDJSON line in ``message_dir`` is one
    message (``logger/main.py:153-162`` does base64+JSON decode; the file
    source hands us the JSON directly). ``source="socket"``: a live TCP
    push feed (``message_dir`` is ``host:port``), one JSON message per line
    — the stand-in for a real network consumer (pyspark ships no Kafka
    connector); the socket source has no replayable offsets, so it is the
    *parity* path proving the parse→enrich→sink plan runs against a live
    network peer, not the durability path.
    """
    if source == "socket":
        host, _, port = message_dir.rpartition(":")
        raw = (
            spark.readStream.format("socket")
            .option("host", host or "127.0.0.1")
            .option("port", int(port))
            .load()
        )
        return parse_message_json(raw)  # socket rows are (value string)
    if source != "files":
        raise ValueError(
            f"unknown message source {source!r} (expected 'files' or 'socket')"
        )
    reader = spark.readStream.schema(MESSAGE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(message_dir)


def parse_message_json(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Wire-format column (string or UTF-8 bytes, one JSON message per
    row, as the socket source delivers it) → typed message columns
    (``F.from_json`` on the explicit schema)."""
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), MESSAGE_SCHEMA).alias("m")
    ).select("m.*")


def enrich_with_reward(messages: DataFrame, item_factors: DataFrame) -> DataFrame:
    """ST3: reward enrichment — the ``environment.step(action)`` equivalent.

    The reference's env reward is (approximately) the user-item rating
    reconstructed from the rank-k factorization, i.e. ``dot(user_vec,
    item_vec[action])`` (``logger/main.py:63-66`` via the SVD env). Each
    message zips its observations with its predicted actions and scores
    every slot in place: the factor comes from a one-row broadcast
    ``map<item_id, features>`` and the dot product is the left-to-right
    ``vectors.dot`` fold. Message rows are never shuffled.

    ``item_factors``: ``(item_id long, features array<double>)``.

    Output: one row per message in the trajectory shape (batch arrays),
    matching ``generator_component.py:122-137``. A slot whose action has
    no factor, or whose arrays are ragged or hold nulls, earns reward 0.0;
    a message with no slots (empty or null arrays) is dropped.
    """
    factors = item_factors.agg(
        F.map_from_entries(F.collect_list(F.struct(F.col("item_id").cast("long"), "features"))).alias("__f")
    )
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
    available_now: bool = True,
    source: str = "files",
    processing_time: str = "5 minutes",
) -> StreamingQuery:
    """ST2+ST4: consume → enrich → exactly-once append.

    Exactly-once is built from two halves, each individually safe:

    - **Bounded stateful dedup**: ``dropDuplicatesWithinWatermark`` on
      ``message_id`` under a ``publish_time`` watermark. Unlike plain
      ``dropDuplicates`` (whose state never evicts when the event-time
      column is not part of the key), per-key state is dropped once the
      watermark passes — redeliveries inside the watermark window collapse,
      state stays O(messages-per-window).
    - **Idempotent sink**: each micro-batch writes its rows into the
      deterministic ``_batch=<batch_id>`` partition with DYNAMIC partition
      overwrite, so a batch retried after partial failure replaces its own
      partition instead of appending duplicates (a blind ``append`` here
      would silently re-create the reference's at-least-once duplication,
      ``logger/main.py:107-150``).

    ``available_now=True`` = drain-everything-then-stop (the cron-triggered
    micro-batch of ST1/ST5); pass False for a continuous 5-minute
    processing-time trigger.

    Structure note: the stateful dedup lives in the stream (rows pass
    through immediately — the watermark only bounds dedup state) and is its
    only shuffle. The enrichment runs inside ``foreachBatch`` as a row-local
    *batch* step, so append mode never delays emission of the newest
    messages behind the watermark.
    """
    stream = read_prediction_stream(spark, message_dir, source=source)
    deduped = stream.withWatermark("publish_time", dedup_watermark).dropDuplicatesWithinWatermark(["message_id"])

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        (
            enrich_with_reward(batch_df, item_factors)
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
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        # continuous micro-batches; the socket parity test shrinks this —
        # the socket source has no offsets so availableNow can't drain it
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def publish_messages(
    df: DataFrame,
    target: str,
    *,
    source: str = "files",
) -> int:
    """S8: message-queue PUBLISH — the serving container's side of the loop
    (``prediction_container/main.py:38-58`` publishes prediction JSON to
    Pub/Sub; here the consumer-facing wire format is one JSON object per
    line, exactly what ``read_prediction_stream`` parses back).

    ``source="files"``: append NDJSON into the message directory the file
    source tails (the durable stand-in). ``source="socket"``: every
    EXECUTOR partition opens its own TCP connection to ``host:port`` and
    streams its rows — a real distributed network publish (no driver
    collect; the per-partition connection is the same shape a Kafka
    producer pool has). Returns the number of messages published.

    Publishing is at-least-once either way — exactly-once lives on the
    CONSUMER side (watermarked dedup on ``message_id``), matching the
    reference's Pub/Sub delivery contract.
    """
    payload = df.select(F.to_json(F.struct(*df.columns)).alias("line"))
    if source == "files":
        # materialize once: counting then writing would execute the whole
        # upstream plan twice (and could disagree on non-deterministic
        # sources)
        payload = payload.localCheckpoint(eager=True)
        payload.write.mode("append").text(target)
        return payload.count()
    if source != "socket":
        raise ValueError(f"unknown publish target {source!r} (expected 'files' or 'socket')")
    host, _, port = target.rpartition(":")
    host, port = host or "127.0.0.1", int(port)

    def _send(rows):
        import socket as _socket

        sock = None
        buf = bytearray()
        n = 0
        try:
            for r in rows:
                if sock is None:  # connect lazily: empty partitions stay silent
                    sock = _socket.socket(_socket.AF_INET, _socket.SOCK_STREAM)
                    sock.connect((host, port))
                buf += r["line"].encode()
                buf += b"\n"
                n += 1
                if len(buf) >= 1 << 16:  # stream in ~64KB chunks: O(chunk)
                    sock.sendall(buf)     # memory, not O(partition)
                    buf.clear()
            if sock is not None and buf:
                sock.sendall(buf)
        finally:
            if sock is not None:
                sock.close()
        return iter(()) if n == 0 else iter([n])

    counts = payload.rdd.mapPartitions(_send).collect()
    return int(sum(counts))
