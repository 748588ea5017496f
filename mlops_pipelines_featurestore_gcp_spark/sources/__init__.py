"""Sources & sinks: parquet catalog, TSV ratings load, NDJSON trajectories,
TFRecord codec, and message-stream plumbing (SURVEY.md §2.1)."""

from mlops_pipelines_featurestore_gcp_spark.sources.catalog import TABLE_NAMES, load_table, register_temp_views

__all__ = ["TABLE_NAMES", "load_table", "register_temp_views"]
