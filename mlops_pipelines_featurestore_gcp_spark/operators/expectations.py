"""Declarative data-quality expectations — the validation gate a pipeline
runs before admitting a batch to training (Great-Expectations-style checks,
engine-native).

Every expectation compiles to a conditional aggregate over the SAME single
pass: validating a 100 TB table costs one scan regardless of how many
checks run (uniqueness adds an exact ``count_distinct`` to that pass —
still one shuffle; swap in ``approx=True`` for HLL when exactness isn't
worth the memory).

``validate`` returns a per-expectation report.

Reference analog: none — the reference ingests MovieLens as-is
(``pipeline.py:31-41``); validation is north-star pipeline surface.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    name: str  # e.g. "not_null(user_id)"
    violated: Column | None  # per-row violation predicate (None → table-level)
    table_check: Column | None = None  # aggregate-level violation count


def not_null(col: str) -> Expectation:
    return Expectation(f"not_null({col})", F.col(col).isNull())


def between(col: str, lo, hi) -> Expectation:
    """Violated when outside [lo, hi]; NULLs are not range violations —
    pair with ``not_null`` to forbid them."""
    c = F.col(col)
    return Expectation(
        f"between({col},{lo},{hi})", c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi)))
    )


def matches(col: str, pattern: str) -> Expectation:
    c = F.col(col)
    return Expectation(
        f"matches({col})", c.isNotNull() & (F.regexp_extract(c, pattern, 0) == "")
    )


def isin(col: str, values: list) -> Expectation:
    c = F.col(col)
    return Expectation(f"isin({col})", c.isNotNull() & ~c.isin(values))


def unique(col: str, *, approx: bool = False) -> Expectation:
    """Table-level: duplicate count = rows-with-value − distinct values.
    ``approx=True`` uses HLL++ (±2%) — constant memory at any cardinality;
    its violation count is an estimate and can read 0 for a handful of
    dups, so keep exact for keys and approx for monitoring."""
    c = F.col(col)
    distinct = (
        F.approx_count_distinct(col, rsd=0.02) if approx else F.count_distinct(c)
    )
    # clamp at 0: HLL can OVERestimate distincts on an all-unique column,
    # and a negative "violation count" must not read as failure
    return Expectation(
        f"unique({col})", None, table_check=F.greatest(F.count(c) - distinct, F.lit(0))
    )


def fraction_at_least(name: str, cond: Column, min_frac: float) -> Expectation:
    """Table-level: at least ``min_frac`` of rows satisfy ``cond`` (e.g.
    language coverage, non-empty-text share). Violation count = shortfall
    in rows, floor 0.

    The requirement is computed in exact integer arithmetic (min_frac
    quantized to parts-per-million): ``ceil(n · frac)`` in floats reads
    7.000000000000001 for 100·0.07 and flags a batch that meets the
    fraction exactly. The ceiling division runs in DECIMAL (``/`` on longs
    is double division in Spark — above n·ppm ≈ 2⁵³ the long→double
    conversion drops low bits and the ceiling can miss by a row), so the
    bound really is int64: ~9·10¹² rows at ppm = 10⁶.
    """
    ppm = round(float(min_frac) * 1_000_000)
    n = F.count(F.lit(1))
    num = (n * F.lit(ppm) + F.lit(999_999)).cast("decimal(38,0)")
    # exact: the true quotient has ≤6 decimal digits, within decimal scale
    need = F.floor(num / F.lit(1_000_000)).cast("long")
    have = F.sum(cond.cast("long"))
    return Expectation(
        f"fraction_at_least({name},{min_frac})",
        None,
        table_check=F.greatest(need - F.coalesce(have, F.lit(0)), F.lit(0)),
    )


def validate(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """One-scan validation report: (expectation, n_violations, n_rows, ok)."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, e in enumerate(expectations):
        if e.violated is not None:
            aggs.append(F.sum(e.violated.cast("long")).alias(f"__v{i}"))
        else:
            aggs.append(e.table_check.alias(f"__v{i}"))
    row = df.agg(*aggs).collect()[0]
    n = row["__n"]
    spark = df.sparkSession
    report = [
        (e.name, int(row[f"__v{i}"] or 0), int(n), int(row[f"__v{i}"] or 0) == 0)
        for i, e in enumerate(expectations)
    ]
    return spark.createDataFrame(
        report, "expectation string, n_violations long, n_rows long, ok boolean"
    )
