"""Incrementally-maintained DISTINCT-count rollups via mergeable HLL
sketches (Apache DataSketches HllSketch, exposed as Spark's
``hll_sketch_agg`` / ``hll_union_agg``).

``ContinuousAggregate`` keeps count/sum/min/max partials — all trivially
associative. COUNT DISTINCT is the one dashboard aggregate with no exact
bounded-size partial: exact distinct state grows with cardinality, so at
100 TB the only maintainable form is a sketch. HLL sketches ARE
associative (union), a few KB each regardless of cardinality, so they
live in the SAME store: ``DistinctCountRollup`` is a ``ContinuousAggregate``
that defines only its partials (``hll_sketch_agg``, ``count``), its merge
(``hll_union_agg``, ``sum``) and its reads. Layout, the touched-pgroup
merge inside the write's ``pgroup`` shuffle, the versioned commit that
carries state and batch-id replay mark together, and bucket-range
pruning are ``rollup.py``'s.

- read: ``hll_sketch_estimate`` per bucket, or union ACROSS buckets for
  a rollup estimate over any bucket range (day → month → all-time from
  the same hour-grain store — re-aggregation sketches make cross-grain
  distinct counts legal, which raw counts never are);
- replay safety: the batch-id high-water mark, because HLL union is
  idempotent for identical items but the row-count partial is not.

Estimates are deterministic for a fixed sketch algorithm + lgConfigK:
incremental-vs-full equality holds EXACTLY (same sketch bytes → same
estimate) and accuracy vs true distinct is bounded (~1.6%/√2^lgK) —
the two properties the st07 CONTRACT oracle hash-checks per (bucket,
key), since the raw estimate values have no SQL twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.streaming.rollup import ContinuousAggregate


class DistinctCountRollup(ContinuousAggregate):
    """HLL-sketch-per-(bucket, keys) store for incremental distinct counts
    of ``item_col`` (e.g. distinct users per hour per event type)."""

    def __init__(
        self,
        path: str,
        *,
        time_col: str,
        item_col: str,
        keys: list[str],
        bucket_width: int,
        buckets_per_partition: int = 64,
        lg_config_k: int = 12,
    ) -> None:
        super().__init__(
            path,
            time_col=time_col,
            value_col=item_col,
            keys=keys,
            bucket_width=bucket_width,
            buckets_per_partition=buckets_per_partition,
        )
        self.item_col = item_col
        # NOTE (st07 gate assumption): a chain of hll_union_agg merges
        # (with parquet round-trips between them) tracks a one-shot
        # hll_sketch_agg closely but NOT byte-exactly at every
        # cardinality: the round-5 10× gate observed last-digit estimate
        # drift at higher per-bucket cardinalities, and the round-7 100×
        # gate measured up to 2.75% relative drift at ~2.5k distinct per
        # bucket — both estimates still inside their 5% truth bands, so
        # it is sketch behavior (sparse→dense promotion differences), not
        # store corruption. The st07 contract therefore checks EACH
        # estimate against the true distinct within 5% (≈3·RSE at
        # lgK=12) and incremental-vs-full within the 10%-of-true band
        # those two imply by triangle inequality.
        self.lg_config_k = int(lg_config_k)

    def _partial_aggs(self) -> list[Column]:
        return [
            F.hll_sketch_agg(self.item_col, self.lg_config_k).alias("sketch"),
            F.count(self.item_col).alias("n_rows"),
        ]

    def _merge_aggs(self) -> list[Column]:
        return [F.hll_union_agg("sketch").alias("sketch"), F.sum("n_rows").alias("n_rows")]

    def read(self, spark: SparkSession) -> DataFrame:
        """(bucket, keys..., n_rows, approx_distinct) per bucket."""
        return self._state(spark).select(
            "bucket",
            *self.keys,
            "n_rows",
            F.hll_sketch_estimate("sketch").alias("approx_distinct"),
        )

    def read_range(
        self,
        spark: SparkSession,
        *,
        bucket_min: int | None = None,
        bucket_max: int | None = None,
    ) -> DataFrame:
        """Distinct estimate per keys ACROSS a bucket range: sketches union
        (re-aggregation is exact sketch algebra — the thing raw distinct
        counts can never do), pgroup dirs prune, then one tiny agg."""
        st = self._state(spark, bucket_min=bucket_min, bucket_max=bucket_max)
        return st.groupBy(*self.keys).agg(
            F.sum("n_rows").alias("n_rows"),
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_distinct"),
        )
