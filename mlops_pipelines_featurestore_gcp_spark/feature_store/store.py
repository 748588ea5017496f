"""Parquet-backed feature store with the reference's API surface.

Mirrors the signatures of the reference's helper layer (SURVEY.md §2.9):
``create_featurestore`` / ``list_featurestore`` / ``cleanup_featurestore``
(``feature_store_helper.py:30-57,61-78,8-27``), ``create_entity_type``
(``:83-107``), ``create_feature`` (``:109-137``), ``import_feature_values``
(``bigquery_to_featurestore.py:4-57``) — re-expressed over Spark tables:

- **Registry** — small parquet tables (featurestores / entity_types /
  features) under ``{base}/registry``; metadata, read rarely.
- **Values** — one long-format parquet table per (store, entity type) at
  ``{base}/values/{fs}/{entity}``, schema ``(entity_id string, feature_name
  string, value string, feature_time timestamp)``, partitioned by
  ``feature_date`` so point-in-time reads prune partitions at scale.
  Values are stored as STRING like the reference (all four features are
  ``Feature.ValueType.STRING``, notebook cell 22); declared types live in
  the registry and drive the cast on read.
- **Reads** — latest / point-in-time via the window pattern (J2); spine
  joins via the as-of operator. The online path (FS7) is the same latest
  view kept cached.

Two reference bugs deliberately NOT reproduced (SURVEY §2.9 FS6): the
hardcoded source-URI and the ``entity_id_field`` parameter being overridden
with a literal ``"user_id"`` (``bigquery_to_featurestore.py:28,172``).
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.operators.asof import asof_join

VALUES_SCHEMA = "entity_id string, feature_name string, value string, feature_time timestamp"


# ---------------------------------------------------------------------------
# Pure read-path functions (used directly by oracle-checked plans)
# ---------------------------------------------------------------------------


def latest_values(values: DataFrame, *, at=None, tie_break: str = "value") -> DataFrame:
    """Latest value per (entity_id, feature_name), optionally as of ``at``.

    The J2 window pattern: one shuffle on the entity/feature key. ``at=None``
    means "now" (no upper bound). ``tie_break`` makes simultaneous writes
    deterministic (largest wins).
    """
    v = values if at is None else values.where(F.col("feature_time") <= F.lit(at).cast("timestamp"))
    w = Window.partitionBy("entity_id", "feature_name").orderBy(
        F.col("feature_time").desc(), F.col(tie_break).desc()
    )
    return (
        v.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def point_in_time_values(values: DataFrame, spine: DataFrame, *, spine_key: str, spine_time: str) -> DataFrame:
    """Attach, for every spine row, each feature's latest value at or before
    the spine row's own timestamp — the training-set construction read.

    ONE as-of union-merge join over the long values table keyed by
    (entity, feature) — the spine fans out by the (small, registry-sized)
    feature-name list, the as-of runs once, and a pivot restores the wide
    shape. A per-feature join loop would be N shuffles for N features —
    the wrong shape at 400 features; this is one as-of shuffle plus one
    pivot aggregation regardless of N.

    Spine rows are assumed distinct (training spines are); exact duplicates
    would collapse in the pivot's group-by.
    """
    feature_names = sorted(r.feature_name for r in values.select("feature_name").distinct().collect())
    if not feature_names:
        # An empty values table means "no features to attach" — return the
        # spine unchanged (exploding an empty name array would drop every
        # spine row instead).
        return spine
    spine_x = spine.withColumn("feature_name", F.explode(F.array(*[F.lit(f) for f in feature_names])))
    fv = values.select(
        F.col("entity_id").alias(spine_key),
        "feature_name",
        F.col("feature_time"),
        F.col("value"),
    )
    joined = asof_join(
        spine_x,
        fv,
        [spine_key, "feature_name"],
        left_time=spine_time,
        right_time="feature_time",
        tie_break="value",
    )
    return joined.groupBy(*spine.columns).pivot("feature_name", feature_names).agg(F.first("value"))


# ---------------------------------------------------------------------------
# Persistent store
# ---------------------------------------------------------------------------


@dataclass
class FeatureStore:
    """Filesystem-rooted feature store (``base_path`` can be any Hadoop-FS
    URI — local dir in tests, object store in production)."""

    spark: SparkSession
    base_path: str

    # -- registry ----------------------------------------------------------

    def _registry_path(self, table: str) -> str:
        return f"{self.base_path}/registry/{table}"

    def _read_registry(self, table: str, schema: str) -> DataFrame:
        path = Path(self.base_path) / "registry" / table
        if not path.exists():
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(str(path))

    def _overwrite_registry(self, table: str, df: DataFrame) -> None:
        # Registry tables are tiny metadata. Materialize to the driver first:
        # the new frame usually unions the files being overwritten, and a
        # lazy overwrite would delete them before reading.
        schema = df.schema
        rows = df.collect()
        self.spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            self._registry_path(table)
        )

    _FS_SCHEMA = "featurestore_id string, online_node_count int, created_at timestamp"
    _ONLINE_SCHEMA = "featurestore_id string, entity_type_id string, buckets int"
    _ET_SCHEMA = "featurestore_id string, entity_type_id string, description string"
    _FEAT_SCHEMA = (
        "featurestore_id string, entity_type_id string, feature_id string, value_type string, description string"
    )

    def create_featurestore(self, featurestore_id: str, *, online_node_count: int = 1) -> None:
        """FS1 (``feature_store_helper.py:30-57``): register a store.

        ``online_node_count`` mirrors ``fixed_node_count`` — here it only
        records intent; the online path is a cached view, not provisioned
        capacity."""
        cur = self._read_registry("featurestores", self._FS_SCHEMA)
        if cur.where(F.col("featurestore_id") == featurestore_id).count() > 0:
            raise ValueError(f"featurestore {featurestore_id!r} already exists")
        row = self.spark.createDataFrame(
            [(featurestore_id, online_node_count)], "featurestore_id string, online_node_count int"
        ).withColumn("created_at", F.current_timestamp())
        self._overwrite_registry("featurestores", cur.unionByName(row))

    def list_featurestores(self) -> list[str]:
        """FS2 (``feature_store_helper.py:61-78``)."""
        return [
            r.featurestore_id
            for r in self._read_registry("featurestores", self._FS_SCHEMA)
            .select("featurestore_id")
            .orderBy("featurestore_id")
            .collect()
        ]

    def cleanup_featurestore(self, featurestore_id: str, *, force: bool = True) -> None:
        """FS3 (``feature_store_helper.py:8-27``): drop store + children +
        values (``force`` mirrors the reference's force-delete)."""
        if not force:
            ets = self._read_registry("entity_types", self._ET_SCHEMA)
            if ets.where(F.col("featurestore_id") == featurestore_id).count() > 0:
                raise ValueError(f"featurestore {featurestore_id!r} is not empty; use force=True")
        for table, schema in (
            ("featurestores", self._FS_SCHEMA),
            ("entity_types", self._ET_SCHEMA),
            ("features", self._FEAT_SCHEMA),
        ):
            cur = self._read_registry(table, schema)
            self._overwrite_registry(table, cur.where(F.col("featurestore_id") != featurestore_id))
        values_dir = Path(self.base_path) / "values" / featurestore_id
        if values_dir.exists():
            shutil.rmtree(values_dir)

    def create_entity_type(self, featurestore_id: str, entity_type_id: str, *, description: str = "") -> None:
        """FS4 (``feature_store_helper.py:83-107``)."""
        cur = self._read_registry("entity_types", self._ET_SCHEMA)
        row = self.spark.createDataFrame([(featurestore_id, entity_type_id, description)], self._ET_SCHEMA)
        self._overwrite_registry("entity_types", cur.unionByName(row))

    def create_feature(
        self,
        featurestore_id: str,
        entity_type_id: str,
        feature_id: str,
        *,
        value_type: str = "STRING",
        description: str = "",
    ) -> None:
        """FS5 (``feature_store_helper.py:109-137``); ``value_type`` is the
        declared read-cast type (the stored form is always STRING, matching
        the reference's all-STRING features at notebook cell 22)."""
        cur = self._read_registry("features", self._FEAT_SCHEMA)
        row = self.spark.createDataFrame(
            [(featurestore_id, entity_type_id, feature_id, value_type, description)], self._FEAT_SCHEMA
        )
        self._overwrite_registry("features", cur.unionByName(row))

    # -- values ------------------------------------------------------------

    def _values_path(self, featurestore_id: str, entity_type_id: str) -> str:
        return f"{self.base_path}/values/{featurestore_id}/{entity_type_id}"

    def import_feature_values(
        self,
        featurestore_id: str,
        entity_type_id: str,
        src: DataFrame,
        *,
        entity_id_field: str,
        feature_fields: list[str] | None = None,
        feature_time=None,
        worker_count: int = 1,
    ) -> int:
        """FS6 (``bigquery_to_featurestore.py:4-57``): melt a wide source
        into the long values table and append.

        ``feature_time=None`` mirrors the reference's wall-clock import time
        (``:21-23``); a string naming a source column gives event-time
        imports (the fix for the reference's always-"now" versioning); any
        other value is a literal timestamp. ``worker_count`` maps to write
        parallelism (``repartition``), like the import job's worker knob
        (``:11,45``). Returns rows written.
        """
        feats = feature_fields or [c for c in src.columns if c != entity_id_field]
        if feature_time is None:
            time_col = F.current_timestamp()
        elif isinstance(feature_time, str) and feature_time in src.columns:
            time_col = F.col(feature_time)
        else:
            time_col = F.lit(feature_time)
        long_df = src.select(
            F.col(entity_id_field).cast("string").alias("entity_id"),
            time_col.cast("timestamp").alias("feature_time"),
            F.explode(
                F.array(*[F.struct(F.lit(f).alias("feature_name"), F.col(f).cast("string").alias("value")) for f in feats])
            ).alias("fv"),
        ).select(
            "entity_id",
            F.col("fv.feature_name"),
            F.col("fv.value"),
            "feature_time",
            F.to_date("feature_time").alias("feature_date"),
        )
        # One pass: the row count is observed DURING the write action (the
        # r1 version ran a separate count() first — two full source scans).
        from pyspark.sql import Observation

        obs = Observation("import_feature_values")
        (
            long_df.observe(obs, F.count(F.lit(1)).alias("n"))
            .repartition(worker_count)
            .write.mode("append")
            .partitionBy("feature_date")
            .parquet(self._values_path(featurestore_id, entity_type_id))
        )
        return obs.get["n"]

    def values(self, featurestore_id: str, entity_type_id: str) -> DataFrame:
        return self.spark.read.schema(VALUES_SCHEMA + ", feature_date date").parquet(
            self._values_path(featurestore_id, entity_type_id)
        )

    def read_latest(self, featurestore_id: str, entity_type_id: str, *, at=None, entity_ids=None) -> DataFrame:
        """FS7/J2: wide latest-row per entity (optionally as of ``at`` /
        restricted to ``entity_ids`` — the ``FeatureSelector(IdMatcher(...))``
        equivalent, notebook cell 7).

        A point-in-time read also bounds the ``feature_date`` PARTITION
        column, so the scan prunes every partition after the cutoff before
        any file is opened — the row-level ``feature_time <= at`` filter
        alone would still enumerate all partitions at 100 TB.
        """
        v = self.values(featurestore_id, entity_type_id)
        if at is not None:
            v = v.where(F.col("feature_date") <= F.to_date(F.lit(at).cast("timestamp")))
        if entity_ids is not None:
            v = v.where(F.col("entity_id").isin([str(e) for e in entity_ids]))
        latest = latest_values(v, at=at)
        return latest.groupBy("entity_id").pivot("feature_name").agg(F.first("value"))

    def point_in_time_join(
        self, featurestore_id: str, entity_type_id: str, spine: DataFrame, *, spine_key: str, spine_time: str
    ) -> DataFrame:
        """Training-set construction: spine rows enriched with each feature's
        value as of the spine row's timestamp."""
        return point_in_time_values(
            self.values(featurestore_id, entity_type_id), spine, spine_key=spine_key, spine_time=spine_time
        )

    # -- online store ------------------------------------------------------

    def _online_path(self, featurestore_id: str, entity_type_id: str) -> str:
        return f"{self.base_path}/online/{featurestore_id}/{entity_type_id}"

    @staticmethod
    def _bucket_col(buckets: int):
        # crc32 is stable across Spark versions and partitionings (unlike
        # rand()) so the same entity always lands in the same bucket file,
        # and zlib.crc32 reproduces it driver-side for lookup pruning.
        return F.pmod(F.crc32(F.col("entity_id").cast("string")), F.lit(buckets)).cast("int")

    def materialize_online(
        self, featurestore_id: str, entity_type_id: str, *, buckets: int = 16, at=None
    ) -> str:
        """Compact the append-only values log into the ONLINE store: one
        wide latest-row per entity, hash-bucketed on the entity id.

        The reference serves online reads from Vertex's managed store
        (``feature_store_helper.py`` online node knob; notebook cell 7
        reads); here the serving copy is plain parquet with ``bucket =
        crc32(entity_id) % buckets`` as a PARTITION column, so a point
        lookup prunes to one directory before any file opens — at 100 TB
        the lookup cost is one bucket, not a table scan. ``buckets`` plays
        the ``online_node_count`` role: size it so a bucket ≈ one serving
        task. Rebuild is a full overwrite (the log is the source of truth;
        the online view is disposable); for per-batch incremental
        maintenance use ``streaming.upsert.upsert_batch``, which rewrites
        only the buckets a batch touches (it buckets on Murmur3 ``hash``,
        not ``crc32``, so its tables are not this layout).
        """
        wide = self.read_latest(featurestore_id, entity_type_id, at=at)
        path = self._online_path(featurestore_id, entity_type_id)
        (
            wide.withColumn("bucket", self._bucket_col(buckets))
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(path)
        )
        # The modulus is LAYOUT metadata: record it in the registry so reads
        # can never disagree with it (sparse data writes fewer bucket dirs
        # than the modulus, so the directory listing cannot recover it).
        cur = self._read_registry("online_layouts", self._ONLINE_SCHEMA)
        row = self.spark.createDataFrame(
            [(featurestore_id, entity_type_id, buckets)], self._ONLINE_SCHEMA
        )
        self._overwrite_registry(
            "online_layouts",
            cur.where(
                ~(
                    (F.col("featurestore_id") == featurestore_id)
                    & (F.col("entity_type_id") == entity_type_id)
                )
            ).unionByName(row),
        )
        return path

    def online_read(
        self, featurestore_id: str, entity_type_id: str, entity_ids: list
    ) -> DataFrame:
        """Point lookup against the materialized online store.

        Recomputes each key's bucket driver-side and filters on the
        PARTITION column first — the scan opens only the buckets the keys
        hash to (partition pruning, asserted in tests via ``inputFiles``),
        then the row filter selects the entities inside them.
        """
        import zlib

        ids = [str(e) for e in entity_ids]
        path = self._online_path(featurestore_id, entity_type_id)
        meta = (
            self._read_registry("online_layouts", self._ONLINE_SCHEMA)
            .where(
                (F.col("featurestore_id") == featurestore_id)
                & (F.col("entity_type_id") == entity_type_id)
            )
            .collect()
        )
        if not meta:
            raise ValueError(
                f"no online store materialized for {featurestore_id}/{entity_type_id}; "
                "call materialize_online first"
            )
        nbuckets = meta[0].buckets
        buckets = sorted({zlib.crc32(e.encode("utf-8")) % nbuckets for e in ids})
        df = self.spark.read.parquet(path)
        return df.where(F.col("bucket").isin(buckets)).where(F.col("entity_id").isin(ids))
