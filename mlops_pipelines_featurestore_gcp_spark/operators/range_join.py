"""Binned range join: point-in-interval joins WITHOUT an equi key.

Spark plans a pure range predicate (no equality conjunct) as
BroadcastNestedLoopJoin — O(|points| · |intervals|) comparisons, the same
cartesian cliff the VERDICT flagged for d05's first cut. When the equi key
exists (q20, the as-of family) the shuffle carries it and the range
predicate rides along for free; this module covers the remaining case —
events against ad-hoc time windows, IPs against CIDR-style numeric ranges,
positions against genomic intervals — with the classic bin trick
(the published range-join optimization in Databricks Runtime / Flink
interval joins, re-expressed on open Spark):

1. every point hashes to exactly ONE ``floor(p / bin_width)`` bin;
2. every interval explodes to the bins it overlaps
   (``sequence(floor(s/w), floor(e/w))`` — ceil((e−s)/w)+1 rows);
3. an ordinary equi shuffle join on the bin id meets each point with every
   interval overlapping its bin — a superset of true matches bounded by
   bin locality, not table sizes;
4. the exact containment predicate filters inside the join.

Because a point owns exactly one bin, a (point, interval) pair meets at
most once — no post-join dedup shuffle. Cost scales with
|points| + |intervals| · span/width + matches; picking ``bin_width`` near
the median interval span keeps the explode factor ~2 and the bins
selective. Correctness is bin-width-independent (asserted in tests), so
the knob is purely physical — the property that lets an optimizer choose
it from stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def auto_bin_width(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    start_col: str,
    end_col: str,
) -> int:
    """Pick ``bin_width`` from sampled data statistics at plan time.

    The per-bin candidate count grows with point density × bin width while
    the interval explode factor grows with span / bin width; balancing the
    two cost terms

        cost(w) ≈ N_p · (N_i / domain) · w      (extra candidates)
                + N_i · (median_span / w)       (explode rows)

    gives the minimizer ``w* = sqrt(median_span · domain / N_p)`` — the
    width SHRINKS as point density rises, which is exactly what a fixed
    width gets wrong: at 10× the data a constant width admits 10× the
    candidates per bin (the r3 q33 scale cliff). Stats come from one
    narrow aggregate pass per side (count + approx median span + domain
    bounds — map-side-combined column scans, the same price AQE pays for
    its runtime stats). Clamped to [1, max(1, 4 × median_span)] so
    degenerate stats (empty side, zero spans) stay safe; correctness is
    width-independent, so a bad estimate can only cost time.
    """
    istats = intervals.agg(
        F.count("*").alias("n"),
        F.percentile_approx(
            F.col(end_col).cast("double") - F.col(start_col).cast("double"), 0.5, 1000
        ).alias("med_span"),
        F.min(start_col).alias("lo"),
        F.max(end_col).alias("hi"),
    ).first()
    pstats = points.agg(
        F.count("*").alias("n"), F.min(point_col).alias("lo"), F.max(point_col).alias("hi")
    ).first()
    if not istats["n"] or not pstats["n"]:
        return 1
    # a side whose coordinates are entirely NULL contributes no bounds
    # (count(*) counts its rows anyway) — ignore Nones instead of crashing
    his = [v for v in (istats["hi"], pstats["hi"]) if v is not None]
    los = [v for v in (istats["lo"], pstats["lo"]) if v is not None]
    if not his or not los:
        return 1
    med_span = max(float(istats["med_span"] or 0.0), 1.0)
    domain = max(float(max(his) - min(los)), 1.0)
    width = (med_span * domain / float(pstats["n"])) ** 0.5
    return int(max(1.0, min(width, 4.0 * med_span)))


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_width: int | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row with
    ``start_col <= point_col <= end_col`` (inclusive both ends).

    All three bound columns must be numeric (cast timestamps to epoch
    seconds first — a timestamp cast is exact and order-preserving).
    ``how`` supports 'inner' and 'left' (points with no containing interval
    survive once with NULL interval columns). Both shapes keep the bin id
    as the equi conjunct — the shuffle key — with the exact containment
    predicate evaluated inside the join, so neither ever degenerates to a
    nested-loop plan (plan-asserted in tests).

    ``bin_width=None`` (the default) derives the width from sampled stats
    via :func:`auto_bin_width`; pass an explicit width to pin the physical
    plan (correctness is width-independent either way).
    """
    if bin_width is None:
        bin_width = auto_bin_width(
            points, intervals, point_col=point_col, start_col=start_col, end_col=end_col
        )
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    if how not in {"inner", "left"}:
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    p = points.withColumn("__bin", F.floor(F.col(point_col) / F.lit(bin_width)))
    lo = F.floor(F.col(start_col) / F.lit(bin_width))
    hi = F.floor(F.col(end_col) / F.lit(bin_width))
    i = (
        intervals.withColumn(
            "__bins",
            F.when(F.col(end_col) >= F.col(start_col), F.sequence(lo, hi)).otherwise(
                F.array().cast("array<bigint>")
            ),
        )
        .withColumn("__bin", F.explode("__bins"))
        .drop("__bins")
    )
    if how == "inner":
        return (
            p.join(i, "__bin")
            .where((F.col(point_col) >= F.col(start_col)) & (F.col(point_col) <= F.col(end_col)))
            .drop("__bin")
        )
    # left outer: containment lives in the ON clause (a WHERE would turn
    # the outer join back into an inner one); the equi bin conjunct still
    # carries the shuffle. A point meets a containing interval in exactly
    # one bin, so no dedup is needed; bin-matched-but-not-contained rows
    # are outer-join misses like any other.
    pa, ia = p.alias("__p"), i.alias("__i")
    cond = (
        (F.col("__p.__bin") == F.col("__i.__bin"))
        & (F.col(f"__p.{point_col}") >= F.col(f"__i.{start_col}"))
        & (F.col(f"__p.{point_col}") <= F.col(f"__i.{end_col}"))
    )
    return pa.join(ia, cond, "left").select(
        *[F.col(f"__p.{c}") for c in points.columns],
        *[F.col(f"__i.{c}") for c in intervals.columns],
    )
