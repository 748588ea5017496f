"""Cross-engine canonical serialization for array-typed OUTPUT columns.

The driver's correctness gate canonicalizes result cells with pandas
(``sort_values`` over every column), which cannot sort or hash Python lists —
any array-typed output column turns an otherwise-correct query into a recorded
error (CORRECTNESS_r01: ``TypeError: unhashable type: 'list'``).

The fix is boundary-only: nested *computation* stays native (arrays, structs,
higher-order functions), and the final projection serializes each array to a
``|``-delimited string with a per-element canonical cast that Spark and DuckDB
render identically:

- integers → plain decimal text (identical in both engines);
- doubles  → fixed-scale ``DECIMAL(18,s)`` text (``17.00``). Raw
  double-to-string is NOT portable (Java ``Double.toString`` vs DuckDB's
  shortest-round-trip formatting differ in sci-notation thresholds), while
  fixed-scale decimal text is bit-identical.

Empty arrays: Spark ``concat_ws`` yields ``''`` while DuckDB
``array_to_string`` yields NULL — the SQL twins coalesce to ``''``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "|"


def ser_long_array(col: Column | str) -> Column:
    """array<integral> → canonical string (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws(SEP, F.transform(c, lambda x: x.cast("string")))


def ser_double_array(col: Column | str, scale: int = 2) -> Column:
    """array<double> → canonical fixed-scale string (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws(SEP, F.transform(c, lambda x: x.cast(f"decimal(18,{scale})").cast("string")))


def sql_long_array(expr: str) -> str:
    """array<integral> → canonical string (DuckDB twin)."""
    return f"coalesce(array_to_string(list_transform({expr}, x -> CAST(x AS VARCHAR)), '{SEP}'), '')"


def sql_double_array(expr: str, scale: int = 2) -> str:
    """array<double> → canonical fixed-scale string (DuckDB twin)."""
    return (
        f"coalesce(array_to_string(list_transform({expr}, "
        f"x -> CAST(CAST(x AS DECIMAL(18,{scale})) AS VARCHAR)), '{SEP}'), '')"
    )


def round6(col: Column) -> Column:
    """Cross-engine-deterministic 6-digit half-up rounding for doubles.

    ``F.round``/SQL ``ROUND`` disagree between engines on values whose
    SHORTEST decimal representation terminates at 7 digits with a trailing
    5 but are not binary-exact (e.g. 0.5106875): Spark routes through
    ``BigDecimal.valueOf`` (shortest repr → HALF_UP → …88), DuckDB rounds
    the true binary value (slightly below the midpoint → …87). Observed on
    t01's composite quality score at sf0.1. ``floor(x·10⁶ + 0.5)/10⁶``
    evaluates exactly the same on the identical input double in every IEEE
    engine — determinism by construction, no midpoint interpretation.
    The rule is round-half-toward-+∞ at the 6th digit for EITHER sign:
    non-negative inputs get classic half-up; negative inputs (e.g.
    lm_score's avg_logp) have exact .5 midpoints resolve toward zero.
    That asymmetry is part of the contract — both engines replay the same
    fold, so cross-engine equality holds for any sign; don't swap in a
    sign-symmetric quantizer without updating every SQL twin in lockstep.
    """
    return F.floor(col * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0)
