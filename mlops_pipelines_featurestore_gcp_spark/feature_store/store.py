"""Parquet-backed feature store with the reference's API surface.

Mirrors the signatures of the reference's helper layer (SURVEY.md §2.9):
``create_featurestore`` / ``list_featurestore`` / ``cleanup_featurestore``
(``feature_store_helper.py:30-57,61-78,8-27``), ``create_entity_type``
(``:83-107``), ``create_feature`` (``:109-137``), ``import_feature_values``
(``bigquery_to_featurestore.py:4-57``) — re-expressed over Spark tables:

- **Registry** — one JSON document at ``{base}/registry.json`` (see
  ``FeatureStore``); metadata calls are dict edits that run no Spark job.
- **Values** — one long-format parquet table per (store, entity type) at
  ``{base}/values/{fs}/{entity}``, schema ``(entity_id string, feature_name
  string, value string, feature_time timestamp)``, partitioned by
  ``feature_date`` so point-in-time reads prune partitions at scale.
  Values are stored and read as STRING like the reference (all four
  features are ``Feature.ValueType.STRING``, notebook cell 22); a
  feature's declared ``value_type`` is recorded in the registry only.
- **Reads** — latest-wins is one grouped ``max_by`` on ``(feature_time,
  value)`` (J2): ``latest_values`` for long rows, ``latest_wide`` for one
  wide row per key; no window sort. Spine joins via the as-of operator.
- **Online store** (FS7) — a keyed table in the upsert tables' layout
  (``streaming/upsert.py``) at ``{base}/online/{fs}/{entity}``: the latest
  long row per (entity, feature) under ``__kbucket = crc32(entity_id) %
  buckets`` partitions of a version ``v{n}``, made current by one
  ``_current.json`` replace that also records the modulus and the sorted
  feature names. ``materialize_online`` rebuilds it from the log in 2
  Spark jobs (latest-wins inside the one shuffle that writes one file per
  bucket; the names are observed on that write). ``online_read`` reads the
  current version's key buckets on the driver with ``pyarrow.dataset``
  and pivots the few rows there into ``read_latest``'s columns: a lookup
  runs no Spark job and never sees a half-written store.

Two reference bugs deliberately NOT reproduced (SURVEY §2.9 FS6): the
hardcoded source-URI and the ``entity_id_field`` parameter being overridden
with a literal ``"user_id"`` (``bigquery_to_featurestore.py:28,172``).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from datetime import datetime
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mlops_pipelines_featurestore_gcp_spark.operators.asof import asof_join
from mlops_pipelines_featurestore_gcp_spark.sources.atomic import commit, write_json
from mlops_pipelines_featurestore_gcp_spark.streaming.upsert import bucket_of, latest_by, read_keyed_pointer, write_latest

VALUES_SCHEMA = "entity_id string, feature_name string, value string, feature_time timestamp"
REGISTRY_FILE = "registry.json"
# The online store's columns a lookup reads (its files also hold feature_time).
_ONLINE_COLUMNS = pa.schema([("entity_id", pa.string()), ("feature_name", pa.string()), ("value", pa.string())])


# ---------------------------------------------------------------------------
# Pure read-path functions (used directly by oracle-checked plans)
# ---------------------------------------------------------------------------


def _newest() -> Column:
    """The latest-wins order: later ``feature_time``, then the larger value
    for simultaneous writes (NULL loses both). A function, because a
    module-level ``Column`` needs a session at import."""
    return F.struct("feature_time", "value")


def latest_values(values: DataFrame, *, at=None) -> DataFrame:
    """Latest value per (entity_id, feature_name), optionally as of ``at``
    (``None`` means now): the J2 read as one grouped ``max_by``, with
    ``values``' columns in their order."""
    v = values if at is None else values.where(F.col("feature_time") <= F.lit(at).cast("timestamp"))
    return latest_by(v, ["entity_id", "feature_name"], _newest())


def feature_names(values: DataFrame) -> list[str]:
    """The distinct feature names of a long values frame, sorted on the
    driver (one small job; the pivot columns of every wide read)."""
    return sorted(r.feature_name for r in values.select("feature_name").distinct().collect())


def latest_wide(values: DataFrame, keys: list[str], names: list[str]) -> DataFrame:
    """One row per ``keys`` with a column per name in ``names``: each
    feature's latest value (``latest_values``' order), as one pivoted
    ``max_by`` aggregation over the long rows."""
    return values.groupBy(*keys).pivot("feature_name", names).agg(F.max_by("value", _newest()))


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
    names = feature_names(values)
    if not names:
        # An empty values table means "no features to attach" — return the
        # spine unchanged (exploding an empty name array would drop every
        # spine row instead).
        return spine
    spine_x = spine.withColumn("feature_name", F.explode(F.array(*[F.lit(f) for f in names])))
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
    return joined.groupBy(*spine.columns).pivot("feature_name", names).agg(F.first("value"))


# ---------------------------------------------------------------------------
# Persistent store
# ---------------------------------------------------------------------------


def _insert(table: dict, key: str, kind: str, entry: dict) -> None:
    if key in table:
        raise ValueError(f"{kind} {key!r} already exists")
    table[key] = entry


def _lookup(table: dict, key: str, kind: str) -> dict:
    if key not in table:
        raise ValueError(f"{kind} {key!r} does not exist")
    return table[key]


@dataclass
class FeatureStore:
    """Feature store rooted at ``base_path``, a local directory (the
    registry and ``cleanup_featurestore`` use plain file I/O).

    Every call reads the registry afresh (another instance may have written
    it); a write replaces it whole through a fsynced temp file and
    ``os.replace``, so a crash leaves the old or the new document.
    Concurrent writers can lose an update. Shape::

        {"featurestores": {fs: {"online_node_count": n, "entity_types": {
            et: {"description": ..., "features": {f: {"value_type": ..., "description": ...}}}}}}}

    The online store is not in it: like every versioned store, it is
    committed by its own ``_current.json`` (``materialize_online``).
    """

    spark: SparkSession
    base_path: str

    # -- registry ----------------------------------------------------------

    def _load(self) -> dict:
        try:
            with open(Path(self.base_path) / REGISTRY_FILE) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"featurestores": {}}

    def _save(self, doc: dict) -> None:
        write_json(Path(self.base_path) / REGISTRY_FILE, doc, indent=1)

    def create_featurestore(self, featurestore_id: str, *, online_node_count: int = 1) -> None:
        """FS1 (``feature_store_helper.py:30-57``): register a store.

        ``online_node_count`` mirrors ``fixed_node_count`` — here it only
        records intent; the online path is bucketed parquet, not
        provisioned capacity."""
        doc = self._load()
        entry = {"online_node_count": online_node_count, "entity_types": {}}
        _insert(doc["featurestores"], featurestore_id, "featurestore", entry)
        self._save(doc)

    def list_featurestores(self) -> list[str]:
        """FS2 (``feature_store_helper.py:61-78``)."""
        return sorted(self._load()["featurestores"])

    def cleanup_featurestore(self, featurestore_id: str, *, force: bool = True) -> None:
        """FS3 (``feature_store_helper.py:8-27``): drop the store's registry
        entry (entity types, features), then its values and online files
        (``force`` mirrors the reference's force-delete)."""
        doc = self._load()
        entry = doc["featurestores"].pop(featurestore_id, None)
        if entry is not None:
            if entry["entity_types"] and not force:
                raise ValueError(f"featurestore {featurestore_id!r} is not empty; use force=True")
            self._save(doc)
        for kind in ("values", "online"):
            shutil.rmtree(Path(self.base_path) / kind / featurestore_id, ignore_errors=True)

    def create_entity_type(self, featurestore_id: str, entity_type_id: str, *, description: str = "") -> None:
        """FS4 (``feature_store_helper.py:83-107``)."""
        doc = self._load()
        store = _lookup(doc["featurestores"], featurestore_id, "featurestore")
        entry = {"description": description, "features": {}}
        _insert(store["entity_types"], entity_type_id, "entity type", entry)
        self._save(doc)

    def create_feature(
        self,
        featurestore_id: str,
        entity_type_id: str,
        feature_id: str,
        *,
        value_type: str = "STRING",
        description: str = "",
    ) -> None:
        """FS5 (``feature_store_helper.py:109-137``). ``value_type`` is
        recorded metadata only: values are stored and read back as STRING,
        like the reference's all-STRING features (notebook cell 22)."""
        doc = self._load()
        store = _lookup(doc["featurestores"], featurestore_id, "featurestore")
        entity = _lookup(store["entity_types"], entity_type_id, "entity type")
        entry = {"value_type": value_type, "description": description}
        _insert(entity["features"], feature_id, "feature", entry)
        self._save(doc)

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
        other value is a literal timestamp. A string that is neither a
        column nor an ISO timestamp raises ``ValueError`` before any job
        runs, instead of importing every row with a NULL time.
        ``feature_fields=None`` imports every column but the id; an empty
        list names no feature and raises ``ValueError`` the same way.
        ``worker_count`` maps to write parallelism (``repartition``), like
        the import job's worker knob (``:11,45``). Returns rows written.
        """
        feats = [c for c in src.columns if c != entity_id_field] if feature_fields is None else feature_fields
        if not feats:
            raise ValueError(f"feature_fields {feature_fields!r} names no feature column to import")
        if feature_time is None:
            time_col = F.current_timestamp()
        elif isinstance(feature_time, str) and feature_time in src.columns:
            time_col = F.col(feature_time)
        else:
            if isinstance(feature_time, str):
                try:
                    datetime.fromisoformat(feature_time)
                except ValueError:
                    raise ValueError(
                        f"feature_time {feature_time!r} is neither a source column nor an ISO timestamp"
                    ) from None
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
        # Observed after the shuffle: on an empty import, adaptive execution
        # drops every node above an empty shuffle, and with it the metrics.
        obs = Observation("import_feature_values")
        (
            long_df.repartition(worker_count)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("append")
            .partitionBy("feature_date")
            .parquet(self._values_path(featurestore_id, entity_type_id))
        )
        return obs.get["n"]

    def values(self, featurestore_id: str, entity_type_id: str) -> DataFrame:
        return self.spark.read.schema(VALUES_SCHEMA + ", feature_date date").parquet(
            self._values_path(featurestore_id, entity_type_id)
        )

    def _log(self, featurestore_id: str, entity_type_id: str, *, at=None, entity_ids=None) -> DataFrame:
        """The values log cut off at ``at`` and restricted to ``entity_ids``.

        A point-in-time read also bounds the ``feature_date`` PARTITION
        column, so the scan prunes every partition after the cutoff before
        any file is opened — the row-level ``feature_time <= at`` filter
        alone would still enumerate all partitions at 100 TB.
        """
        v = self.values(featurestore_id, entity_type_id)
        if at is not None:
            cutoff = F.lit(at).cast("timestamp")
            v = v.where(F.col("feature_date") <= F.to_date(cutoff)).where(F.col("feature_time") <= cutoff)
        if entity_ids is not None:
            v = v.where(F.col("entity_id").isin([str(e) for e in entity_ids]))
        return v

    def read_latest(self, featurestore_id: str, entity_type_id: str, *, at=None, entity_ids=None) -> DataFrame:
        """FS7/J2: wide latest-row per entity (optionally as of ``at`` /
        restricted to ``entity_ids`` — the ``FeatureSelector(IdMatcher(...))``
        equivalent, notebook cell 7): ``entity_id`` and one column per
        feature name in the log as of ``at``, sorted, whichever entities
        are asked for (NULL where an entity has no value)."""
        names = feature_names(self._log(featurestore_id, entity_type_id, at=at))
        v = self._log(featurestore_id, entity_type_id, at=at, entity_ids=entity_ids)
        return latest_wide(v, ["entity_id"], names)

    def point_in_time_join(
        self, featurestore_id: str, entity_type_id: str, spine: DataFrame, *, spine_key: str, spine_time: str
    ) -> DataFrame:
        """Training-set construction: spine rows enriched with each feature's
        value as of the spine row's timestamp."""
        return point_in_time_values(
            self.values(featurestore_id, entity_type_id), spine, spine_key=spine_key, spine_time=spine_time
        )

    # -- online store ------------------------------------------------------

    def _online_root(self, featurestore_id: str, entity_type_id: str) -> str:
        return f"{self.base_path}/online/{featurestore_id}/{entity_type_id}"

    def materialize_online(
        self, featurestore_id: str, entity_type_id: str, *, buckets: int = 16, at=None
    ) -> str:
        """Rebuild the ONLINE store from the values log (optionally as of
        ``at``) and make it current. Returns the new version's directory.

        The reference serves online reads from Vertex's managed store
        (``feature_store_helper.py`` online node knob; notebook cell 7
        reads). Here it is a keyed table in the upsert tables' layout at
        ``online/{fs}/{entity}``, bucketed by ``entity_id`` (``buckets``
        plays the ``online_node_count`` role), written by the upsert
        tables' ``write_latest``: the latest row per entity and feature,
        into a new ``v{n}`` that no reader scans, in 2 Spark jobs (one
        shuffle, one file per bucket). The sorted feature names are
        observed on that write. One ``_current.json`` replace
        (``sources.atomic.commit``) records the version, the modulus and
        the names, so a reader sees the old or the new version whole, and
        sweeps every version but it and the one it replaced (which a reader
        may still be scanning), including one whose refresh crashed before
        the replace.
        """
        root = self._online_root(featurestore_id, entity_type_id)
        log = self._log(featurestore_id, entity_type_id, at=at).select("entity_id", "feature_name", "value", "feature_time")
        names = Observation()
        n = write_latest(
            root,
            log,
            ["entity_id", "feature_name"],
            _newest(),
            n_buckets=buckets,
            observe=(names, F.array_sort(F.collect_set("feature_name")).alias("features")),
        )
        commit(root, {"version": n, "buckets": buckets, "features": names.get["features"]})
        return f"{root}/v{n}"

    def _online_pointer(self, featurestore_id: str, entity_type_id: str) -> dict:
        doc = read_keyed_pointer(self._online_root(featurestore_id, entity_type_id))
        if doc is None:
            raise ValueError(
                f"no online store materialized for {featurestore_id}/{entity_type_id}; "
                "call materialize_online first"
            )
        return doc

    def _read_online(self, featurestore_id: str, entity_type_id: str, doc: dict, ids: list[str]) -> pa.Table:
        """The long rows of ``ids`` in the version ``doc`` names, read
        driver-side from the bucket directories the keys hash to (no
        ``feature_time``). Raises ``FileNotFoundError`` if the version is
        removed under the read."""
        version = Path(self._online_root(featurestore_id, entity_type_id)) / f"v{doc['version']}"
        wanted = {f"__kbucket={bucket_of(e, doc['buckets'])}" for e in ids}
        files = [
            str(version / b / f)
            for b in sorted(wanted.intersection(os.listdir(version)))
            for f in os.listdir(version / b)
            if not f.startswith((".", "_"))  # Spark's hidden files: checksums, _SUCCESS
        ]
        keys = pc.field("entity_id").isin(pa.array(ids, pa.string()))
        return ds.dataset(files, schema=_ONLINE_COLUMNS, format="parquet").to_table(filter=keys)

    def online_read(
        self, featurestore_id: str, entity_type_id: str, entity_ids: list
    ) -> DataFrame:
        """Point lookup against the current online store: ``read_latest``'s
        rows and columns for ``entity_ids`` as of the last refresh.

        Reads the pointer once, recomputes each key's bucket with
        ``bucket_of`` and reads only those ``__kbucket=`` directories of the
        current version with ``pyarrow.dataset`` on the driver, filtering
        on ``entity_id``. The few long rows are pivoted on the driver into
        ``entity_id`` plus one string column per recorded feature name, and
        come back as a local ``DataFrame`` (``createDataFrame`` over the
        Arrow table), so neither building nor collecting it runs a Spark
        job. If a read overlaps two refreshes, its version may be removed
        under it; it then reloads the pointer once and reads the current one.
        """
        ids = [str(e) for e in entity_ids]
        doc = self._online_pointer(featurestore_id, entity_type_id)
        try:
            rows = self._read_online(featurestore_id, entity_type_id, doc, ids)
        except FileNotFoundError:
            doc = self._online_pointer(featurestore_id, entity_type_id)
            rows = self._read_online(featurestore_id, entity_type_id, doc, ids)
        wide: dict[str, dict] = {}
        for e, f, v in zip(*(rows[c].to_pylist() for c in _ONLINE_COLUMNS.names)):
            wide.setdefault(e, {})[f] = v
        columns = {"entity_id": list(wide)} | {f: [row.get(f) for row in wide.values()] for f in doc["features"]}
        table = pa.table(columns, pa.schema([(c, pa.string()) for c in columns]))
        return self.spark.createDataFrame(table, T.StructType([T.StructField(c, T.StringType()) for c in columns]))
