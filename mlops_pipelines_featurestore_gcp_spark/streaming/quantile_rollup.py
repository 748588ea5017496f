"""Incrementally-maintained quantile rollups: the third mergeable-sketch
family of the store (st06 sums / st07 HLL distincts / this — quantiles).

One-shot quantiles exist in two places already: q32's approx aggregates
(Greenwald-Khanna via ``percentile_approx``) and exact window ranks. What
neither gives is MAINTENANCE: at 100 TB you cannot re-scan history per
refresh, and GK sketch state is neither exposed nor stable across Spark
versions, so it can't be persisted and merged batch-by-batch. This module
uses the oldest mergeable quantile sketch there is — a fixed-domain
equi-width HISTOGRAM:

- state per (time bucket, keys) is 256 integer bin counts — KBs, exact,
  and associative under addition, so incremental maintenance is
  BIT-IDENTICAL to a full rebuild (a stronger contract than the HLL
  rollup's epsilon band; integer adds have no merge-chain drift);
- a quantile read is a cumulative sum over the <=256 bins and a first-
  crossing pick — O(bins) per group, no re-sort of history;
- the estimate is the midpoint of the bin containing the exact rank-k
  value, so |estimate - true quantile| <= bin_width / 2 BY CONSTRUCTION —
  an error bound that holds at any scale and any distribution, unlike
  sampled sketches whose bounds are probabilistic.

The trade: a fixed [lo, hi) domain, chosen from the column's business
domain (out-of-range values clamp into the edge bins and the bound above
then holds only for in-domain quantiles). For unbounded domains, compose
with a log transform upstream; the store mechanics are identical.

Storage reuses ``rollup.ContinuousAggregate`` verbatim with ``__bin`` as
an extra key — the pgroup partition layout and the versioned commit that
carries state and batch-id replay mark in one pointer are the same
audited code path (streaming/rollup.py), not a re-implementation.

Rank arithmetic is INTEGER on purpose: rank k for quantile q = n_num/n_den
is ceil(q*n) computed as (n_num*n + (n_den-1)) // n_den. A double 0.95*n
differs between engines (DuckDB parses 0.95 as DECIMAL(3,2) and multiplies
exactly; Spark multiplies IEEE doubles) — the class of last-ulp trap the
10x gates kept finding (CLAUDE.md: keep integer arithmetic integer).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.streaming.rollup import ContinuousAggregate


class QuantileRollup:
    """Histogram-sketch quantile store over (time bucket, keys).

    ``bucket_width`` is in the units of the numeric ``time_col`` (pass
    ``unix_micros(ts)`` upstream — the rollup/session convention).
    ``lo``/``hi``/``bins`` fix the value domain; pick ``hi - lo`` and
    ``bins`` as powers of two so ``bin_width`` and the midpoint estimates
    are exact binary doubles (bit-equal across engines).
    """

    def __init__(
        self,
        path: str,
        *,
        time_col: str,
        value_col: str,
        keys: list[str],
        bucket_width: int,
        lo: float = 0.0,
        hi: float = 1024.0,
        bins: int = 256,
        buckets_per_partition: int = 64,
    ) -> None:
        if bins < 2:
            raise ValueError("bins must be >= 2")
        if not hi > lo:
            raise ValueError("hi must be > lo")
        self.lo = float(lo)
        self.bins = int(bins)
        self.bin_width = (float(hi) - float(lo)) / float(bins)
        self.value_col = value_col
        self.keys = list(keys)
        self.agg = ContinuousAggregate(
            path,
            time_col=time_col,
            value_col=value_col,
            keys=self.keys + ["__bin"],
            bucket_width=bucket_width,
            buckets_per_partition=buckets_per_partition,
        )

    # --- write path ---------------------------------------------------------
    def _binned(self, df: DataFrame) -> DataFrame:
        raw = F.floor((F.col(self.value_col) - F.lit(self.lo)) / F.lit(self.bin_width))
        # NULL values have no bin; greatest() would silently skip the NULL
        # and clamp them into bin 0 as phantom zero-count state. Drop them,
        # the same convention ContinuousAggregate applies to NULL times.
        df = df.where(F.col(self.value_col).isNotNull())
        return df.withColumn(
            "__bin",
            F.least(F.greatest(raw, F.lit(0)), F.lit(self.bins - 1)).cast("long"),
        )

    def refresh(self, batch: DataFrame, *, batch_id: int = 0) -> None:
        """Merge a batch's bin counts into the store. Cost ∝ batch (plus the
        touched pgroup dirs), replay-safe — all inherited from
        ``ContinuousAggregate.refresh``."""
        self.agg.refresh(self._binned(batch), batch_id=batch_id)

    # --- read path ------------------------------------------------------
    def histogram(self, spark: SparkSession, **bounds) -> DataFrame:
        """Finalized bin counts: (bucket, keys..., __bin, bin_count)."""
        return self.agg.read(spark, **bounds).select(
            "bucket", *self.keys, "__bin", F.col("n").alias("bin_count")
        )

    def quantiles(
        self,
        spark: SparkSession,
        qs: tuple[float, ...] = (0.5, 0.95),
        **bounds,
    ) -> DataFrame:
        """Midpoint-of-bin estimates for each q in ``qs``, one row per
        (bucket, keys): (bucket, keys..., n_rows, p{q}_est ...).

        Rank-k (k = ceil(q*n), the discrete lower-quantile definition) is
        integer arithmetic on exact Fractions of q — see module docstring.
        The window is per (bucket, keys) over <=``bins`` rows: the shuffle
        moves bin COUNTS, never raw values, so a read over a year of
        hourly state is (buckets x keys x 256) tiny rows regardless of how
        many trillion raw rows fed the store.
        """
        h = self.histogram(spark, **bounds)
        grp = ["bucket", *self.keys]
        cum = (
            h.withColumn(
                "__cc", F.sum("bin_count").over(Window.partitionBy(*grp).orderBy("__bin"))
            )
            .withColumn("__n", F.sum("bin_count").over(Window.partitionBy(*grp)))
        )
        mid = F.lit(self.lo) + (F.col("__bin") + F.lit(0.5)) * F.lit(self.bin_width)
        aggs = [F.max("__n").cast("long").alias("n_rows")]
        for q in qs:
            fr = Fraction(q).limit_denominator(10_000)
            aggs.append(
                F.min(F.when(F.col("__cc") >= _ceil_div(fr), mid)).alias(
                    f"p{_qname(q)}_est"
                )
            )
        return cum.groupBy(*grp).agg(*aggs)


def _ceil_div(fr: Fraction, n_col: str = "__n") -> Column:
    """ceil(num*n/den) as (num*n + den-1) // den in EXACT arithmetic.

    Spark's ``/`` on longs is IEEE double division — above num*n ≈ 2⁵³ the
    long→double conversion drops low bits and the floor can land one rank
    off the oracle's integer ``//`` (the hazard operators/expectations.py
    fraction_at_least documents). Routing through DECIMAL(38,0) keeps the
    quotient exact to int64 range, same as that operator.
    """
    num = (F.lit(fr.numerator) * F.col(n_col) + F.lit(fr.denominator - 1)).cast(
        "decimal(38,0)"
    )
    return F.floor(num / F.lit(fr.denominator)).cast("long")


def _qname(q: float) -> str:
    """0.5 -> '50', 0.95 -> '95', 0.999 -> '999' (percentile convention)."""
    s = f"{q:g}"
    if s.startswith("0."):
        digits = s[2:]
        return digits + "0" if len(digits) == 1 else digits
    return s.replace(".", "_")
