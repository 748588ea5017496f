"""Keyed upsert (merge) sink over hash-bucket-partitioned parquet.

Plain parquet has no MERGE: the naive upsert reads the WHOLE table, unions
the batch, dedups, and rewrites everything — a full-table write per batch,
unusable at 100 TB. This module stores the table partitioned by a stable
hash bucket of the key (``bucket = crc32(key) % n``, ``bucket_col``), so an
incoming batch only touches the buckets its keys land in:

  1. bucket the incoming batch (narrow projection),
  2. read ONLY those buckets of the existing table (partition pruning —
     the other ``n - |touched|`` buckets are never opened),
  3. latest-wins per key inside the union (``latest_by`` on the version
     column), grouped after the one shuffle that routes each bucket to one
     writer,
  4. write the touched buckets into the next version ``v{n+1}``, hard-link
     the untouched ones from ``v{n}``, and commit with one atomic replace
     of ``_current.json`` (``sources/atomic.py``): the write never reads
     what it writes, so it needs no barrier, and a crash before the
     replace leaves ``v{n}`` current and whole.

Per-batch cost is proportional to |touched buckets| ≈ batch key spread,
not table size. A retried/replayed batch recomputes the identical bucket
contents — idempotent, the same exactly-once construction as
``log_loop``'s ``_batch`` sink (reference's at-least-once append path:
``logger/main.py:107-150`` has no such guard).

The pointer records the bucket modulus beside the version: a batch
bucketed by another modulus would put a key in a second bucket, so
``upsert_batch`` refuses it. ``write_latest`` (step 3 and the write of
step 4) is the feature store's online store too: its full rebuild writes
the latest long row per ``(entity_id, feature_name)`` in this layout and
commits the same pointer (``feature_store/store.py``).
"""

from __future__ import annotations

import os
import zlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.sources import atomic

_BUCKET = "__kbucket"


def bucket_col(key: str, n_buckets: int) -> Column:
    """``crc32`` of the key's string form, mod ``n_buckets``: stable across
    Spark versions, machines and partitionings, and reproduced on the
    driver by ``bucket_of``."""
    return F.pmod(F.crc32(F.col(key).cast("string")), F.lit(n_buckets)).cast("int")


def bucket_of(key, n_buckets: int) -> int:
    """Driver twin of ``bucket_col`` for a string or integer key."""
    return zlib.crc32(str(key).encode("utf-8")) % n_buckets


def latest_by(df: DataFrame, keys: list[str], order) -> DataFrame:
    """One row per ``keys``: the row with the largest ``order`` (a column or
    name; NULL sorts lowest, a struct compares field by field), with
    ``df``'s columns in ``df``'s order. Which of several rows tying on
    ``order`` wins is unspecified. One grouped ``max_by``: a hash shuffle on
    ``keys`` unless ``df`` is already partitioned on a subset of them."""
    winner = F.max_by(F.struct(*df.columns), F.struct(order)).alias("__latest")
    return df.groupBy(*keys).agg(winner).select("__latest.*")


def read_keyed_pointer(table_path: str) -> dict | None:
    """The committed pointer of a keyed table (``version``, ``buckets`` and
    whatever else its writer recorded), ``None`` if it has none."""
    doc = atomic.read_pointer(table_path, legacy=(f"{_BUCKET}=",))
    if doc is not None and "buckets" not in doc:
        raise ValueError(f"{table_path} records no bucket modulus; rebuild it")
    return doc


def write_latest(table_path: str, rows: DataFrame, keys: list[str], order, *, n_buckets: int, observe=()) -> int:
    """Write the row with the largest ``order`` per ``keys`` of ``rows`` as
    the next version ``v{n}`` of the keyed table at ``table_path``, bucketed
    by ``keys[0]`` under ``__kbucket``, and return ``n``; the caller links
    and commits.

    One shuffle routes each bucket to one partition; the latest-wins
    aggregate runs inside it and the write keeps that layout, so every
    written dir is a single file (self-compacting — without this every
    write leaves one shard per contributing partition). ``observe`` is an
    ``(Observation, *metrics)`` pair computed on the written rows."""
    bucketed = rows.withColumn(_BUCKET, bucket_col(keys[0], n_buckets)).repartition(_BUCKET)
    latest = latest_by(bucketed, [_BUCKET, *keys], order)
    if observe:
        latest = latest.observe(*observe)
    n = atomic.next_version(table_path)
    latest.write.partitionBy(_BUCKET).parquet(os.path.join(table_path, f"v{n}"))
    return n


def upsert_batch(
    table_path: str,
    batch: DataFrame,
    *,
    key: str,
    version_col: str,
    n_buckets: int = 64,
) -> None:
    """Merge ``batch`` into the keyed table at ``table_path``.

    Latest ``version_col`` wins per key (existing row kept when the batch
    carries an older version — late/replayed data cannot regress a key).
    ``n_buckets`` must be the modulus the table was written with
    (``ValueError`` otherwise).
    """
    doc = read_keyed_pointer(table_path)
    if doc is not None and doc["buckets"] != n_buckets:
        raise ValueError(f"{table_path} is bucketed by {doc['buckets']}, not {n_buckets}")
    spark = batch.sparkSession
    # Pinned before the touched-bucket probe (an eager job), so the merge
    # reads the probe's blocks instead of re-running the batch's source
    # (the rollup refresh's r13 pin).
    incoming = batch.withColumn(_BUCKET, bucket_col(key, n_buckets)).localCheckpoint(eager=False)
    touched = [r[_BUCKET] for r in incoming.select(_BUCKET).distinct().collect()]
    if not touched:
        return
    current = doc and os.path.join(table_path, f"v{doc['version']}")
    merged = incoming
    if current is not None:
        # a NULL key's bucket is NULL, which no IN list matches
        pruned = F.col(_BUCKET).isin([b for b in touched if b is not None])
        if None in touched:
            pruned = pruned | F.col(_BUCKET).isNull()
        existing = (
            # mergeSchema: batches may EVOLVE the schema (new columns);
            # untouched buckets keep their old files and read as NULL for
            # columns they predate — plain parquet schema evolution
            spark.read.option("mergeSchema", "true")
            .parquet(current)
            .where(pruned)  # partition-pruned read
        )
        # allowMissingColumns both ways: a batch can add columns the table
        # lacks, and late replays can lack columns the table gained
        merged = existing.unionByName(incoming, allowMissingColumns=True)
    n = write_latest(table_path, merged, [key], version_col, n_buckets=n_buckets)
    if current is not None:
        atomic.link_partitions(current, os.path.join(table_path, f"v{n}"))  # every bucket the batch did not touch
    atomic.commit(table_path, {"version": n, "buckets": n_buckets})


def read_upsert_table(spark: SparkSession, table_path: str) -> DataFrame:
    """Current state of the upsert table (one row per key); mergeSchema so
    buckets untouched since a schema evolution still read (as NULLs)."""
    # no version yet: read v0, a path that never exists, so Spark raises its
    # path-not-found AnalysisException rather than reading an orphan
    doc = read_keyed_pointer(table_path)
    current = os.path.join(table_path, f"v{doc['version'] if doc else 0}")
    return spark.read.option("mergeSchema", "true").parquet(current).drop(_BUCKET)
