"""Deterministic sampling — training-mix construction.

Every sampler here is HASH-based, not RNG-based: a doc's keep/drop decision
is a pure function of (id, salt), so

- reruns and retried tasks make identical decisions (no ``rand()`` seed
  drift across partitionings — ``F.rand`` is seeded PER PARTITION and
  reshuffles change its output);
- upstream/downstream systems (or a SQL oracle) can replay the exact
  sample;
- incremental corpus growth leaves previously-sampled docs' fates fixed —
  the property that makes dataset versions diffable.

The uniform variate is ``md5(salt|id)``'s first 8 hex digits / 2³² — the
same construction the dedup family uses, replayable in any engine with md5.
All samplers are map-only (one filter per row); only the audit counts
aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def uniform_hash(id_col: Column | str, salt: str) -> Column:
    """Deterministic U[0,1) from (salt, id) — md5-derived, engine-portable."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    bucket = F.conv(F.substring(F.md5(F.concat(F.lit(salt), F.lit("|"), c.cast("string"))), 1, 8), 16, 10)
    return bucket.cast("double") / float(1 << 32)


def stratified_sample(
    df: DataFrame, id_col: str, strata_col: str, fractions: dict[str, float], *, salt: str = "strata"
) -> DataFrame:
    """Per-stratum deterministic fractions (e.g. per-language mixing rates).

    Strata absent from ``fractions`` are dropped — a training mix is an
    explicit allowlist.
    """
    frac = None
    for value, p in sorted(fractions.items()):
        branch = F.when(F.col(strata_col) == value, F.lit(float(p)))
        frac = branch if frac is None else frac.when(F.col(strata_col) == value, F.lit(float(p)))
    frac = (frac.otherwise(F.lit(0.0))) if frac is not None else F.lit(0.0)
    return df.where(uniform_hash(id_col, salt) < frac)


def token_budget_sample(
    profiled: DataFrame,
    token_budget: int,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    salt: str = "budget",
) -> DataFrame:
    """Sample down to ~``token_budget`` total tokens, uniformly over docs.

    Scale-right formulation: one aggregate computes the corpus' total
    tokens, the keep-probability is ``budget/total``, and the per-doc
    decision is the deterministic hash — a map-only filter, NO global sort
    or cumulative window (an exact running-total cut needs a single-task
    global window: the 100 TB anti-pattern). The realized token count
    concentrates tightly around the budget for any corpus with many docs.
    """
    total = profiled.agg(F.sum(tokens_col).alias("t")).first().t or 0
    if total <= token_budget:
        return profiled
    p = token_budget / float(total)
    return profiled.where(uniform_hash(id_col, salt) < p)


def per_group_cap(
    df: DataFrame, id_col: str, group_col: str, cap: int, *, salt: str = "cap"
) -> DataFrame:
    """At most ``cap`` rows per group, chosen deterministically.

    The C4/Dolma "limit pages per domain" step: without an absolute cap a
    single mega-domain dominates the corpus no matter what fractional
    rates say. Rows within a group are ranked by the md5-uniform hash of
    (salt, id) — a pure function, so the SAME rows survive under any
    partitioning or engine, and the oracle replays the draw exactly (ties
    broken by id; md5 ties at 8 hex digits are ~2⁻³² and the id breaks
    them deterministically anyway).

    One shuffle on ``group_col``; the rank window's per-group row count is
    the group size, so the skew profile is the biggest group — acceptable
    because WindowExec buffers spill, but for pathological single-domain
    corpora prefer pre-filtering by ``uniform_hash`` to knock the giant
    down before the exact cap.
    """
    w = Window.partitionBy(group_col).orderBy(uniform_hash(id_col, salt), F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= cap)
        .drop("__rn")
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    val_fraction: float = 0.1,
    salt: str = "split",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Train/validation assignment that can never split a duplicate group.

    A random per-document split leaks: a doc and its (near-)duplicate land
    on opposite sides and the validation loss measures memorization, not
    generalization (the test-set-contamination failure mode the dedup
    literature documents). The fix: decide the split per DUPLICATE GROUP —
    every member inherits the group's deterministic hash draw.

    Default grouping is the exact-dedup key (md5 of normalized text): one
    groupBy-free window-less plan — group id = min(id) over the fingerprint,
    one aggregate + one broadcast-back join keyed on the fingerprint.
    Pass ``pairs`` (e.g. ``minhash_lsh_pairs`` / ``semantic_dedup_pairs``
    output with id_a/id_b) to group by NEAR-dup components instead — the
    iterative closure is engine-side only, so that variant is rows-only for
    any SQL oracle while this default stays replayable.

    Returns (id, group_id, split) with split ∈ {'train', 'val'}.
    """
    if pairs is not None:
        from mlops_pipelines_featurestore_gcp_spark.operators.components import connected_components

        comp = connected_components(pairs.select("id_a", "id_b"), src="id_a", dst="id_b")
        grouped = (
            df.select(F.col(id_col))
            .join(comp.withColumnRenamed("node", id_col), id_col, "left")
            .select(
                id_col,
                F.coalesce(F.col("component"), F.col(id_col)).alias("group_id"),
            )
        )
    else:
        from mlops_pipelines_featurestore_gcp_spark.functions.text import normalize

        fp = df.select(F.col(id_col), F.md5(normalize(F.col(text_col))).alias("__fp"))
        groups = fp.groupBy("__fp").agg(F.min(id_col).alias("group_id"))
        grouped = fp.join(groups, "__fp").select(id_col, "group_id")
    draw = uniform_hash(F.col("group_id"), salt)
    return grouped.select(
        id_col,
        "group_id",
        F.when(draw < F.lit(float(val_fraction)), F.lit("val")).otherwise(F.lit("train")).alias("split"),
    )


def importance_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    *,
    scale: float = 1.0,
    salt: str = "importance",
) -> DataFrame:
    """Weighted deterministic resampling: keep a row with probability
    ``min(1, weight · scale)`` — the DSIR-style importance-resampling step
    that skews a training mix toward high-relevance/quality documents.

    The keep decision is the same md5-uniform draw the sample/split operators
    use (pure function of (salt, id) — reshuffle-proof, SQL-replayable),
    compared against the row's own clipped acceptance probability. Map-only
    pass, no shuffle; weights ≤ 0 always drop, weights ≥ 1/scale always
    keep. Expected kept tokens ≈ Σ min(1, w·scale) — calibrate ``scale``
    from a corpus stat (e.g. target_rows / Σw) upstream.
    """
    p = F.least(F.lit(1.0), F.col(weight_col).cast("double") * F.lit(float(scale)))
    return df.where(uniform_hash(id_col, salt) < p)
