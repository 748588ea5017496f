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
   max(max)) and writes just those partitions into the store's next
   version, which shares every other partition with the current one.

``ContinuousAggregate`` is the one store behind every rollup. A subclass
defines only what differs per aggregate — the partial aggregates of a
batch (``_partial_aggs``), the merge aggregates over partials
(``_merge_aggs``) and the read that finalizes them — and inherits the
layout, versioned commit, replay mark, merge and range pruning:
``distinct_rollup.DistinctCountRollup`` keeps HLL sketches this way, and
``quantile_rollup.QuantileRollup`` wraps the store with a bin key.

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

Every write repartitions its state by ``pgroup`` once, so each group
directory holds one file per rewrite — refreshes compact as they go instead
of accumulating shuffle-partition shards. A stateful refresh merges INSIDE
that shuffle: stored ∪ incoming partials are routed by ``pgroup`` and
grouped by (pgroup, bucket, keys) within it, so the merge needs no
exchange of its own (the ``upsert_batch`` pattern). ``compact()`` remains
for stores written by many fine-grained historical refreshes.

Versioned commit (``sources/atomic.py``): a write puts the pgroup dirs it
rewrites into ``{path}/v{n+1}``, hard-links the other dirs of ``v{n}``
beside them, and one atomic replace of ``{path}/_current.json``
(``{"version": n+1, "last_batch_id": b}``) makes it current. The write
never targets what its lazy plan reads, so it needs no barrier.

Rows with a NULL ``time_col`` are dropped: a NULL event time has no bucket
(the watermark convention), and keeping them would strand state in a NULL
partition that ``Column.isin`` pruning can never select.

Exactly-once: ``refresh`` records the batch id high-water mark and skips
replays (Structured Streaming re-delivers a failed micro-batch under the
SAME id — merging partials twice would double-count, the additive-state
failure mode append/recompute sinks don't have). The mark is in the
pointer, so a crash before its replace leaves the previous state AND mark.
A streaming caller passes its micro-batch id as ``batch_id``.

Cascades compose: a day-grain ``ContinuousAggregate`` can ``refresh`` from
the hour-grain store's partials (sum-of-sums), never from raw data.

Finalization (avg = sum/count) happens at READ time, so the stored state
stays mergeable — the classic partial-aggregate contract, the same one
Spark's own map-side combine relies on.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.sources import atomic


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

    # --- what differs per aggregate -----------------------------------------
    def _partial_aggs(self) -> list[Column]:
        return [
            F.count(self.value_col).alias("p_count"),
            # DECIMAL partials: refresh order / batch boundaries must not
            # change the stored state (double sums are order-dependent in
            # the low bits; decimal addition is exact) — the property that
            # makes incremental == full-recompute bit-for-bit, and lets a
            # SQL oracle replay the rollup with one GROUP BY
            F.sum(F.col(self.value_col).cast("decimal(18,6)")).cast("decimal(18,6)").alias("p_sum"),
            F.min(self.value_col).alias("p_min"),
            F.max(self.value_col).alias("p_max"),
        ]

    def _merge_aggs(self) -> list[Column]:
        return [
            F.sum("p_count").alias("p_count"),
            # decimal sum widens precision; narrow back so the state schema
            # is stable across refreshes
            F.sum("p_sum").cast("decimal(18,6)").alias("p_sum"),
            F.min("p_min").alias("p_min"),
            F.max("p_max").alias("p_max"),
        ]

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
            .agg(*self._partial_aggs())
        )

    def _current(self) -> dict:
        """The pointer: ``{"version": n, "last_batch_id": b}``, version 0
        and batch -1 for a new store."""
        doc = atomic.read_pointer(self.path, legacy=("state", "_rollup_meta.json"))
        return doc or {"version": 0, "last_batch_id": -1}

    def _dir(self, cur: dict) -> str:
        return os.path.join(self.path, f"v{cur['version']}")

    def _groups(self, cur: dict) -> list[str]:
        """The pgroup dirs of version ``cur``."""
        return [e for e in os.listdir(self._dir(cur)) if e.startswith("pgroup=")] if cur["version"] else []

    def _state(
        self,
        spark: SparkSession,
        *,
        bucket_min: int | None = None,
        bucket_max: int | None = None,
    ) -> DataFrame:
        """Stored partials (with ``pgroup``) in a bucket range. The bounds
        prune twice: the derived pgroup filter prunes partition DIRECTORIES;
        the bucket filter then skips parquet row-groups via min/max stats
        inside the surviving files."""
        st = spark.read.parquet(self._dir(self._current()))
        bpp = self.buckets_per_partition
        if bucket_min is not None:
            st = st.where((F.col("pgroup") >= bucket_min // bpp) & (F.col("bucket") >= bucket_min))
        if bucket_max is not None:
            st = st.where((F.col("pgroup") <= bucket_max // bpp) & (F.col("bucket") <= bucket_max))
        return st

    def _write_state(self, parts, *, merge=False, keep=lambda group: True, batch_id=None) -> None:
        """Commit a new version holding the pgroup dirs of ``parts`` (if
        any) and a hard link of each other group of the current version
        that ``keep`` accepts, with replay mark ``batch_id`` (unchanged when
        None). One shuffle routes each pgroup to one task, so a written dir
        is one file; with ``merge``, partials sharing a (bucket, keys) merge
        inside that shuffle."""
        cur = self._current()
        n = atomic.next_version(self.path)
        new = os.path.join(self.path, f"v{n}")
        if parts is not None:
            staged = self._with_pgroup(parts).repartition("pgroup")
            if merge:
                staged = staged.groupBy("pgroup", "bucket", *self.keys).agg(*self._merge_aggs())
            staged.write.partitionBy("pgroup").parquet(new)
        os.makedirs(new, exist_ok=True)
        if cur["version"]:
            atomic.link_partitions(self._dir(cur), new, lambda g: keep(int(g.split("=", 1)[1])))
        mark = cur["last_batch_id"] if batch_id is None else batch_id
        atomic.commit(self.path, {"version": n, "last_batch_id": mark})

    # --- API ----------------------------------------------------------------
    def refresh(self, batch: DataFrame, *, batch_id: int = 0) -> None:
        """Merge a batch into the rollup; replay-safe via the batch-id
        high-water mark (partials are additive — merging a re-delivered
        batch twice would double-count)."""
        cur = self._current()
        if batch_id <= cur["last_batch_id"]:
            return
        incoming = self._partials(batch)
        if self._groups(cur):
            # The touched-groups probe is an eager job: pin the partials so
            # the merge reuses its blocks instead of re-running the batch
            # scan + partial aggregation (r13: reused AND expensive).
            incoming = incoming.localCheckpoint(eager=False)
            # a written pgroup dir replaces the whole group, so untouched
            # buckets in a touched group must ride along through the merge
            touched_groups = [
                r["pgroup"]
                for r in self._with_pgroup(incoming).select("pgroup").distinct().collect()
            ]
            existing = (
                self._state(batch.sparkSession)
                .where(F.col("pgroup").isin(touched_groups))  # dir-pruned read
                .drop("pgroup")
            )
            self._write_state(existing.unionByName(incoming), merge=True, batch_id=batch_id)
        else:
            self._write_state(incoming, batch_id=batch_id)

    def read(
        self,
        spark: SparkSession,
        *,
        bucket_min: int | None = None,
        bucket_max: int | None = None,
    ) -> DataFrame:
        """Finalized rollup: (bucket, keys..., n, total, vmin, vmax, vavg),
        optionally over a pruned bucket range."""
        total = F.col("p_sum").cast("double")
        return self._state(spark, bucket_min=bucket_min, bucket_max=bucket_max).select(
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
        are simply not linked into the new version (no read, no rewrite —
        the dominant case for steady retention on time-ordered data). Only
        the single boundary group straddling the cutoff is filtered and
        rewritten. Cost is one group rewrite, never a table scan.
        """
        cur = self._current()
        groups = self._groups(cur)
        if not groups:
            return
        boundary = before_bucket // self.buckets_per_partition
        rewrite = bool(before_bucket % self.buckets_per_partition) and f"pgroup={boundary}" in groups
        kept = None
        if rewrite:  # boundary group: keep only >= cutoff rows (skip if cutoff aligns)
            at = (F.col("pgroup") == boundary) & (F.col("bucket") >= before_bucket)
            kept = self._state(spark).where(at).drop("pgroup")
        self._write_state(kept, keep=lambda g: g > boundary or (g == boundary and not rewrite))

    def compact(self, spark: SparkSession) -> None:
        """Rewrite every pgroup dir to one file (idempotent: state rows are
        already one per (bucket, keys), so this only coalesces files from
        stores produced by many historical fine-grained refreshes)."""
        if not self._groups(self._current()):
            return
        self._write_state(self._state(spark).drop("pgroup"))

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
        if batch_id <= coarser._current()["last_batch_id"]:
            return
        ratio = coarser.bucket_width // self.bucket_width
        rebucketed = self._state(spark).drop("pgroup").withColumn(
            "bucket", F.floor(F.col("bucket") / F.lit(ratio)).cast("long")
        )
        coarser._write_state(rebucketed, merge=True, batch_id=batch_id)
