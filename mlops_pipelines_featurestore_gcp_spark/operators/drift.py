"""Feature drift detection: Population Stability Index between snapshots.

The training-serving-skew monitor every production feature store runs: bin
a numeric feature on the REFERENCE (training-time) distribution, histogram
both snapshots over those bins, and report
``PSI = Σ (p_cur − p_ref) · ln(p_cur / p_ref)`` with the standard reading
(< 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted). The reference repo's
Vertex feature store offers this as a managed monitoring service
(`feature_store_helper.py` creates stores but monitoring is configuration);
here it is an engine query.

Engine-determinism by construction, the same discipline as
``operators/lm_score``:

- bins are FIXED-WIDTH over the reference min/max — exact arithmetic on
  the two engines' identical doubles (quantile bins would tie results to
  an engine-specific sketch);
- bin proportions are add-1-smoothed exact integer ratios, so empty bins
  are defined and ln() sees identical doubles everywhere;
- each bin's PSI term is floor-quantized to integer NANO units BEFORE the
  per-feature sum — exact 64-bit addition, immune to float summation
  order under partial aggregation.

Plan shape per feature: one aggregate for the reference bounds (tiny), a
map-side bin assignment on both snapshots, one groupBy on (bin) per side,
a bin-keyed join of two ≤``bins``-row tables, one final sum. Nothing scans
twice; nothing is quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.functions.canonical import round6

STABLE, DRIFTING, SHIFTED = "stable", "drifting", "shifted"


def _binned_counts(df: DataFrame, col: str, lo, hi, bins: int) -> DataFrame:
    """(bin, cnt) histogram over fixed-width bins of [lo, hi]; values
    outside the reference range clamp into the edge bins (standard PSI
    practice — serving values beyond training bounds are drift signal, not
    discard)."""
    width = (F.lit(hi) - F.lit(lo)) / F.lit(float(bins))
    raw = F.floor((F.col(col) - F.lit(lo)) / width)
    b = F.greatest(F.lit(0), F.least(F.lit(bins - 1), raw)).cast("int")
    return df.where(F.col(col).isNotNull()).select(b.alias("bin")).groupBy("bin").agg(
        F.count("*").alias("cnt")
    )


def psi(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    *,
    bins: int = 10,
) -> DataFrame:
    """One-row PSI report for ``col``: (feature, psi, n_ref, n_cur, verdict).

    Degenerate reference (min == max) puts all mass in bin 0 — PSI then
    measures how much of the current snapshot left that point mass.
    """
    bounds = ref.agg(
        F.min(col).alias("lo"), F.max(col).alias("hi"), F.count(col).alias("n_ref")
    ).collect()[0]
    lo, hi, n_ref = bounds["lo"], bounds["hi"], bounds["n_ref"]
    if lo is None or n_ref == 0:
        raise ValueError(f"reference snapshot has no non-null values for {col!r}")
    if hi == lo:
        hi = lo + 1.0
    rc = _binned_counts(ref, col, lo, hi, bins).withColumnRenamed("cnt", "ref_cnt")
    cc = _binned_counts(cur, col, lo, hi, bins).withColumnRenamed("cnt", "cur_cnt")
    spark = ref.sparkSession
    allbins = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
    joined = (
        allbins.join(rc, "bin", "left")
        .join(cc, "bin", "left")
        .select(
            "bin",
            F.coalesce("ref_cnt", F.lit(0)).alias("rc"),
            F.coalesce("cur_cnt", F.lit(0)).alias("cc"),
        )
    )
    # totals come from cheap narrow counts, NOT a histogram re-aggregation:
    # every non-null ref value lands in exactly one clamped bin, so the ref
    # total IS the bounds pass's count; the cur total is one count job.
    tr = n_ref
    tc = cur.agg(F.count(col)).collect()[0][0]
    # add-1 smoothing: p = (cnt+1)/(total+bins) — exact integer ratios
    p_ref = (F.col("rc") + 1.0) / F.lit(float(tr + bins))
    p_cur = (F.col("cc") + 1.0) / F.lit(float(tc + bins))
    term_nano = F.floor(
        (p_cur - p_ref) * F.log(p_cur / p_ref) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    out = joined.select(term_nano.alias("t")).agg(F.sum("t").alias("nano"))
    psi_val = round6(F.col("nano") / F.lit(1e9))
    return out.select(
        F.lit(col).alias("feature"),
        psi_val.alias("psi"),
        F.lit(tr).cast("long").alias("n_ref"),
        F.lit(tc).cast("long").alias("n_cur"),
        F.when(psi_val < 0.1, F.lit(STABLE))
        .when(psi_val < 0.25, F.lit(DRIFTING))
        .otherwise(F.lit(SHIFTED))
        .alias("verdict"),
    )


