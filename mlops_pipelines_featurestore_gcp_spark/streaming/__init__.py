"""Structured-Streaming layer: the reference's Pub/Sub → Cloud Function →
BigQuery-append loop (SURVEY.md §2.7 ST1-ST5) re-expressed as
``readStream → enrich → writeStream`` with exactly-once semantics."""

from mlops_pipelines_featurestore_gcp_spark.streaming.log_loop import (
    MESSAGE_SCHEMA,
    enrich_with_reward,
    factor_map,
    publish_messages,
    run_log_loop,
)
from mlops_pipelines_featurestore_gcp_spark.streaming.joins import interval_join
from mlops_pipelines_featurestore_gcp_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)

__all__ = [
    "MESSAGE_SCHEMA",
    "factor_map",
    "enrich_with_reward",
    "publish_messages",
    "run_log_loop",
    "interval_join",
    "tumbling_window_agg",
    "sliding_window_agg",
    "session_window_agg",
]
