"""Continuous aggregates: hypertable-style incrementally-maintained
time-bucket rollups (the TimescaleDB continuous-aggregate shape on plain
parquet + Spark).

A full `groupBy(bucket).agg(...)` over 100 TB per refresh is the thing this
replaces. The store keeps PARTIAL aggregate state — count, sum, min, max —
per (time bucket, key). A refresh:

1. partial-aggregates ONLY the incoming batch (map-side combine; the
   batch's rows never join the historical table);
2. reads ONLY the stored partial-state partitions the batch touches
   (partition pruning on disk — untouched history is never opened);
3. merges (partials are associative: count+count, sum+sum, min(min),
   max(max)) and dynamic-partition-overwrites just those partitions.

Physical layout (round-4 redesign): state is partitioned by ``pgroup =
floor(bucket / buckets_per_partition)`` — a CONTIGUOUS bucket group — with
``bucket`` kept as a data column. Raw per-bucket partitioning (the round-3
layout) produced one directory per hour bucket: ~9k dirs/year of tiny
files, rewritten per refresh — a small-files explosion at real retention.
Contiguous grouping keeps time locality: a streaming refresh touches
recent buckets, which share the newest group dir, so a refresh rewrites
O(groups touched) directories each holding at most ``buckets_per_partition``
buckets of state. (``pmod(bucket, k)`` grouping would NOT work: it scatters
every group across all of history, so rewriting one recent bucket would
drag ~table/k state through the merge.) Bucket-range reads prune at two
levels: pgroup directory pruning, then parquet row-group min/max stats on
the ``bucket`` data column inside the group.

Each refresh repartitions the merged state by ``pgroup`` before the write,
so every group directory holds one file per rewrite — refreshes compact as
they go instead of accumulating shuffle-partition shards. ``compact()``
remains for stores written by many fine-grained historical refreshes.

Crash safety: the merged state is eagerly materialized
(``localCheckpoint``) BEFORE the overwrite, because the refresh reads and
rewrites the SAME path — without the barrier a lazy plan would read
partitions mid-replacement on a task retry. The dynamic-overwrite mode
is scoped to the DataFrameWriter ``.option(...)``, never set on the
session, so sibling static-overwrite writers (e.g. the IVF index rebuild
in ``operators/similarity.py``) keep truncate-on-overwrite semantics.

Rows with a NULL ``time_col`` are dropped with a warning counter: a NULL
event time has no bucket (the same convention watermarking applies to
late/null event times). Silently keeping them would strand state in a
NULL partition that ``Column.isin`` pruning can never select.

Exactly-once: ``refresh`` records the batch id high-water mark and skips
replays (Structured Streaming re-delivers a failed micro-batch under the
SAME id — merging partials twice would double-count, the additive-state
failure mode append/recompute sinks don't have). ``rollup_sink`` wires
this into ``writeStream.foreachBatch``.

Cascades compose: a day-grain ``ContinuousAggregate`` can ``refresh`` from
the hour-grain store's partials (sum-of-sums), never from raw data.

Finalization (avg = sum/count) happens at READ time, so the stored state
stays mergeable — the classic partial-aggregate contract, the same one
Spark's own map-side combine relies on.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_META = "_rollup_meta.json"


class ContinuousAggregate:
    """Incrementally-maintained rollup of ``value_col`` per (bucket, keys).

    ``bucket_width`` is in the units of the numeric ``time_col`` (pass
    ``unix_micros(ts)`` upstream, same convention as the session/funnel
    operators). ``buckets_per_partition`` bounds the on-disk directory
    count: one partition dir per ``buckets_per_partition`` contiguous
    buckets (64 hour-buckets ≈ 2.7 days per dir; a year of hourly state
    is ~137 dirs instead of ~8.8k).
    """

    def __init__(
        self,
        path: str,
        *,
        time_col: str,
        value_col: str,
        keys: list[str],
        bucket_width: int,
        buckets_per_partition: int = 64,
    ) -> None:
        if buckets_per_partition < 1:
            raise ValueError("buckets_per_partition must be >= 1")
        self.path = path
        self.time_col = time_col
        self.value_col = value_col
        self.keys = list(keys)
        self.bucket_width = int(bucket_width)
        self.buckets_per_partition = int(buckets_per_partition)

    # --- state layout -----------------------------------------------------
    def _with_pgroup(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "pgroup",
            F.floor(F.col("bucket") / F.lit(self.buckets_per_partition)).cast("long"),
        )

    def _partials(self, df: DataFrame) -> DataFrame:
        bucket = (F.floor(F.col(self.time_col) / F.lit(self.bucket_width))).cast("long")
        return (
            # NULL time ⇒ NULL bucket ⇒ unprunable stranded state; drop, per
            # the watermark convention for unusable event times
            df.where(F.col(self.time_col).isNotNull())
            .withColumn("bucket", bucket)
            .groupBy("bucket", *self.keys)
            .agg(
                F.count(self.value_col).alias("p_count"),
                # DECIMAL partials: refresh order / batch boundaries must not
                # change the stored state (double sums are order-dependent in
                # the low bits; decimal addition is exact) — the property that
                # makes incremental == full-recompute bit-for-bit, and lets a
                # SQL oracle replay the rollup with one GROUP BY
                F.sum(F.col(self.value_col).cast("decimal(18,6)")).cast("decimal(18,6)").alias("p_sum"),
                F.min(self.value_col).alias("p_min"),
                F.max(self.value_col).alias("p_max"),
            )
        )

    def _merge(self, parts: DataFrame) -> DataFrame:
        return parts.groupBy("bucket", *self.keys).agg(
            F.sum("p_count").alias("p_count"),
            # decimal sum widens precision; narrow back so the state schema
            # is stable across refreshes
            F.sum("p_sum").cast("decimal(18,6)").alias("p_sum"),
            F.min("p_min").alias("p_min"),
            F.max("p_max").alias("p_max"),
        )

    def _last_batch(self) -> int:
        meta = os.path.join(self.path, _META)
        if os.path.exists(meta):
            with open(meta) as f:
                return json.load(f)["last_batch_id"]
        return -1

    def _record_batch(self, batch_id: int) -> None:
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, _META), "w") as f:
            json.dump({"last_batch_id": batch_id}, f)

    @property
    def _store(self) -> str:
        return os.path.join(self.path, "state")

    def _store_has_state(self) -> bool:
        store = self._store
        return os.path.isdir(store) and any(
            e.startswith("pgroup=") for e in os.listdir(store)
        )

    def _write_state(self, merged: DataFrame) -> None:
        """Dynamic-partition-overwrite the touched pgroup dirs.

        A merge plan READS the same path it overwrites, so the state is
        eagerly materialized first — a lazy plan would re-read partitions
        mid-replacement on task retry (`test_rollup.py` injects a store
        wipe between the two steps to prove the barrier holds). On a
        FRESH store (r14, guide §5) the lineage cannot read the path —
        ``refresh`` writes the batch partials directly and ``cascade_into``
        reads a DIFFERENT store's path — so the barrier is skipped: one
        action (the write) instead of two, and the batch is scanned once
        by the write itself. Every read-own-path writer (stateful
        refresh, ``compact``, an equal-width self-cascade) has state on
        disk and keeps the barrier.
        """
        staged = self._with_pgroup(merged)
        if self._store_has_state():
            staged = staged.localCheckpoint(eager=True)
        self._overwrite(staged)

    def _overwrite(self, materialized: DataFrame) -> None:
        """One shuffle output per pgroup keeps each dir at a single file
        per rewrite (self-compacting)."""
        (
            materialized.repartition("pgroup")
            .write.mode("overwrite")
            # writer-scoped: never mutate the session conf (sibling static
            # overwrites — e.g. IVF index rebuilds — rely on truncate mode)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("pgroup")
            .parquet(self._store)
        )

    # --- API ----------------------------------------------------------------
    def refresh(self, batch: DataFrame, *, batch_id: int = 0) -> None:
        """Merge a batch into the rollup; replay-safe via the batch-id
        high-water mark (partials are additive — merging a re-delivered
        batch twice would double-count)."""
        if batch_id <= self._last_batch():
            return
        spark = batch.sparkSession
        incoming = self._partials(batch)
        if self._store_has_state():
            # The touched-groups probe is an eager job; without a
            # materialization barrier the merge below would re-run the
            # whole batch scan + partial aggregation a second time —
            # at production batch sizes that doubles the refresh's
            # dominant cost (r13 optimization; guide §5: cache only what
            # is reused AND expensive — the partials are both).
            incoming = incoming.localCheckpoint(eager=False)
            # dynamic overwrite replaces whole pgroup dirs, so untouched
            # buckets in a touched group must ride along through the merge
            touched_groups = [
                r["pgroup"]
                for r in self._with_pgroup(incoming).select("pgroup").distinct().collect()
            ]
            existing = (
                spark.read.parquet(self._store)
                .where(F.col("pgroup").isin(touched_groups))  # dir-pruned read
                .drop("pgroup")
            )
            merged = self._merge(existing.unionByName(incoming))
        else:
            merged = incoming
        self._write_state(merged)
        self._record_batch(batch_id)

    def read(
        self,
        spark: SparkSession,
        *,
        bucket_min: int | None = None,
        bucket_max: int | None = None,
    ) -> DataFrame:
        """Finalized rollup: (bucket, keys..., n, total, vmin, vmax, vavg).

        Bucket-range bounds prune twice: the derived pgroup filter prunes
        partition DIRECTORIES; the bucket filter then skips parquet
        row-groups via min/max stats inside the surviving files.
        """
        st = spark.read.parquet(self._store)
        bpp = self.buckets_per_partition
        if bucket_min is not None:
            st = st.where(
                (F.col("pgroup") >= bucket_min // bpp) & (F.col("bucket") >= bucket_min)
            )
        if bucket_max is not None:
            st = st.where(
                (F.col("pgroup") <= bucket_max // bpp) & (F.col("bucket") <= bucket_max)
            )
        total = F.col("p_sum").cast("double")
        return st.select(
            "bucket",
            *self.keys,
            F.col("p_count").alias("n"),
            total.alias("total"),
            F.col("p_min").alias("vmin"),
            F.col("p_max").alias("vmax"),
            (total / F.col("p_count")).alias("vavg"),
        )

    def expire(self, spark: SparkSession, *, before_bucket: int) -> None:
        """Retention: drop all state with ``bucket < before_bucket``.

        Partition-grain first: pgroup dirs ENTIRELY older than the cutoff
        are removed directly (no read, no rewrite — the dominant case for
        steady retention on time-ordered data). Only the single boundary
        group straddling the cutoff is filtered and rewritten. Cost is
        O(dirs dropped) + one group rewrite, never a table scan.
        """
        import shutil

        if not self._store_has_state():
            return
        boundary = before_bucket // self.buckets_per_partition
        store = self._store
        for entry in sorted(os.listdir(store)):
            if not entry.startswith("pgroup="):
                continue
            g = int(entry.split("=", 1)[1])
            if g < boundary:
                shutil.rmtree(os.path.join(store, entry))
        # boundary group: keep only >= cutoff rows (skip if cutoff aligns)
        bpath = os.path.join(store, f"pgroup={boundary}")
        if before_bucket % self.buckets_per_partition and os.path.isdir(bpath):
            kept = (
                spark.read.parquet(store)
                .where((F.col("pgroup") == boundary) & (F.col("bucket") >= before_bucket))
                .drop("pgroup")
                .localCheckpoint(eager=True)
            )
            shutil.rmtree(bpath)
            if kept.limit(1).count():
                self._overwrite(self._with_pgroup(kept))

    def compact(self, spark: SparkSession) -> None:
        """Rewrite every pgroup dir to one file (idempotent: state rows are
        already one per (bucket, keys), so this only coalesces files from
        stores produced by many historical fine-grained refreshes)."""
        if not self._store_has_state():
            return
        state = spark.read.parquet(self._store).drop("pgroup")
        self._write_state(state)

    def cascade_into(
        self, coarser: "ContinuousAggregate", spark: SparkSession, *, batch_id: int = 0
    ) -> None:
        """Refresh a coarser-grain rollup FROM this store's partials
        (sum-of-sums / min-of-mins) — raw data is never re-read. The
        coarser bucket width must be a multiple of this one's."""
        if coarser.bucket_width % self.bucket_width != 0:
            raise ValueError(
                f"coarser width {coarser.bucket_width} is not a multiple of {self.bucket_width}"
            )
        if batch_id <= coarser._last_batch():
            return
        st = spark.read.parquet(self._store).drop("pgroup")
        ratio = coarser.bucket_width // self.bucket_width
        rebucketed = st.withColumn(
            "bucket", F.floor(F.col("bucket") / F.lit(ratio)).cast("long")
        )
        merged = self._merge(rebucketed)
        coarser._write_state(merged)
        coarser._record_batch(batch_id)


def rollup_sink(
    stream: DataFrame,
    agg: ContinuousAggregate,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
):
    """Maintain the continuous aggregate from a stream: each micro-batch
    merges its partials under its batch id (replay-idempotent)."""

    def _refresh(batch_df: DataFrame, batch_id: int) -> None:
        agg.refresh(batch_df, batch_id=batch_id)

    writer = stream.writeStream.foreachBatch(_refresh).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
