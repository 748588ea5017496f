"""Text analysis: language ID, quality scoring, token counting — the
per-document statistics a training-data pipeline filters on.

Everything is built-in-function expressions (whole-stage codegen; no Python
in the hot path). Ratios are int/int divisions → bit-exact across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.functions.canonical import round6
from mlops_pipelines_featurestore_gcp_spark.functions.text import (
    BPE_TOKEN_RE,
    STOPWORDS,
    normalize,
    stopword_hits,
    tokens,
    word_ngram_structs,
)
from mlops_pipelines_featurestore_gcp_spark.operators.dedup import _spread

PUNCT_RE = r"[.,!?;:]"

# PII patterns, deliberately restricted to RE2-compatible syntax (no
# lookaround / backreferences) so Java regex (Spark) and RE2 (DuckDB, and
# most scale-out scan engines) match the exact same spans. Dict order is
# the redaction order: emails first (their local part may contain digits),
# then dotted IPs, then SSN-shaped, then phone-shaped — each replacement
# removes its digits from the text so later patterns can't re-match inside
# an earlier entity's span.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[- ]\d{3}[- ]\d{4}\b",
}


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-pattern match counts on the ORIGINAL text (patterns counted
    independently; an SSN-shaped span inside a longer number may count
    under two patterns — counts are evidence, redaction is authoritative)."""
    return {
        kind: F.size(F.regexp_extract_all(col, F.lit(pat), 0)).cast("long")
        for kind, pat in PII_PATTERNS.items()
    }


def redact_pii(col: Column) -> Column:
    """Replace every PII span with a typed placeholder (``<EMAIL>`` …),
    applying patterns in the documented priority order."""
    out = col
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def composite_quality(col: Column) -> Column:
    """The composite heuristic quality score as a single row-local codegen
    expression (length saturation + stopword presence + lexical diversity
    + punctuation density), reusable anywhere a per-doc quality ordering
    is needed (``quality_score``, quality-aware dedup canonical
    selection). round6-quantized so the ordering replays bit-equal in
    SQL oracles."""
    toks = tokens(col)
    n_tok = F.size(toks)
    n_char = F.length(col)
    n_punct = F.size(F.regexp_extract_all(col, F.lit(PUNCT_RE), 0))
    n_stop = stopword_hits(toks, "en")
    uniq_ratio = F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tok, F.lit(1))
    punct_ratio = n_punct / F.greatest(n_char, F.lit(1))
    length_term = F.least(n_tok, F.lit(100)) / F.lit(100.0)
    return round6(
        length_term * 0.4 + stop_ratio * 0.2 + uniq_ratio * 0.3 + (1.0 - punct_ratio) * 0.1
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic document-quality features + a composite score.

    The score mixes length saturation, stopword presence, lexical diversity
    and punctuation density — the standard cheap pre-filters applied before
    expensive model-based quality classifiers.
    """
    df = _spread(df)
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_char = F.length(F.col(text_col))
    n_punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit(PUNCT_RE), 0))
    n_stop = stopword_hits(toks, "en")
    uniq_ratio = F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tok, F.lit(1))
    punct_ratio = n_punct / F.greatest(n_char, F.lit(1))
    score = composite_quality(F.col(text_col))
    return df.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        round6(stop_ratio).alias("stopword_ratio"),
        round6(uniq_ratio).alias("uniq_ratio"),
        round6(punct_ratio).alias("punct_ratio"),
        score.alias("quality"),
    )


def repetition_frac(toks: Column) -> Column:
    """Duplicate word-bigram fraction: 1 − distinct/total bigrams.

    The cheap Gopher-style repetition signal — boilerplate and generated
    spam repeat phrase-level n-grams far more than natural text. Row-local
    array arithmetic, no shuffle; bigrams are zip-structs
    (``word_ngram_structs``) so the whole expression stays in codegen —
    the transform-lambda form was 2.9s of t01's 3.5s at sf0.1.
    """
    bigs = word_ngram_structs(toks, 2)
    return round6(
        1.0 - F.size(F.array_distinct(bigs)) / F.greatest(F.size(bigs), F.lit(1))
    )


def text_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """Token statistics + quality + repetition features in ONE row-local pass.

    Token counts, the ``quality_score`` columns and ``dup_bigram_frac``
    come from a single scan — at corpus scale the text column is read
    once, not twice, and there is no join to reconcile the projections. ``extra`` appends caller-supplied row-local columns
    (e.g. PII counts) to the SAME select, keeping the single-pass shape
    instead of forcing a join on the id key.
    """
    df = _spread(df)
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_char = F.length(F.col(text_col))
    n_punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit(PUNCT_RE), 0))
    n_stop = stopword_hits(toks, "en")
    uniq_ratio = F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tok, F.lit(1))
    punct_ratio = n_punct / F.greatest(n_char, F.lit(1))
    length_term = F.least(n_tok, F.lit(100)) / F.lit(100.0)
    score = round6(
        length_term * 0.4 + stop_ratio * 0.2 + uniq_ratio * 0.3 + (1.0 - punct_ratio) * 0.1
    )
    return df.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0)).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
        (
            F.length(F.concat_ws("", toks)).cast("long")
            / F.greatest(n_tok, F.lit(1))
        ).alias("avg_token_len"),
        round6(stop_ratio).alias("stopword_ratio"),
        round6(uniq_ratio).alias("uniq_ratio"),
        round6(punct_ratio).alias("punct_ratio"),
        repetition_frac(toks).alias("dup_bigram_frac"),
        score.alias("quality"),
        *[c.alias(name) for name, c in (extra or {}).items()],
    )


def lang_scores(toks: Column) -> dict[str, Column]:
    """Per-language stopword-hit scores for a token-array column (public so
    callers can ride the scores through another single-pass select — the
    t01 profile fuses them — then apply ``lang_argmax`` on the aliases)."""
    return {lang: stopword_hits(toks, lang) for lang in STOPWORDS}


def lang_argmax(score_cols: dict[str, Column]) -> tuple[Column, Column]:
    """(lang_pred, best_score) argmax cascade over ALIASED score columns.

    Fixed precedence order (en > es > fr > de) for ties; 'und' when no
    stopword hits at all. Callers must pass plain column references, not the
    raw score expressions — inlining each score into the when-cascade
    duplicates the tokenize+filter subtree ~3× (greatest, equality, output)
    and codegen compile time dominates the stage.
    """
    best = F.greatest(*score_cols.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang in STOPWORDS:  # dict order = precedence order
        pred = pred.when(score_cols[lang] == best, F.lit(lang))
    return pred, best


def doc_fingerprint(df: DataFrame, id_col: str, text_col: str, *, k: int = 8, sketch_size: int = 4) -> DataFrame:
    """Document fingerprint: bottom-s sketch of rolling k-gram hashes.

    Slides a k-char window over the normalized text (the rolling-hash pass),
    hashes every gram with the codegen polynomial char fold, and keeps the
    ``sketch_size`` smallest distinct values — a bottom-s sketch: an
    order/permutation-stable fingerprint whose overlap estimates resemblance,
    robust to small edits (unlike the exact-dedup md5 of the whole text).

    Plan shape mirrors the MinHash signature pass (the profiled-fast one):
    explode positions → poly_char_hash — all whole-stage codegen — then ONE
    partial-combined groupBy per doc. Every position row of a doc stays in
    its input partition, so the map-side combine collapses to one row per
    doc before the exchange. (The previous form — an md5-per-shingle
    ``transform`` lambda — ran interpreted: Spark HOFs are CodegenFallback,
    profiled ~18× slower at sf0.1.)

    Docs shorter than ``k`` keep their row: empty sketch, NULL fp_min.
    """
    from mlops_pipelines_featurestore_gcp_spark.functions.text import normalize, poly_char_hash
    from mlops_pipelines_featurestore_gcp_spark.operators.dedup import MINHASH_PRIME

    nt = normalize(F.col(text_col))
    pos = _spread(df).select(F.col(id_col), nt.alias("__nt")).select(
        F.col(id_col),
        "__nt",
        F.explode_outer(
            F.when(
                F.length("__nt") >= k,
                F.sequence(F.lit(1), F.length("__nt") - (k - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("__i"),
    )
    h = F.when(
        F.col("__i").isNotNull(),
        poly_char_hash(F.col("__nt"), F.col("__i"), k, MINHASH_PRIME),
    )
    sketched = (
        pos.select(F.col(id_col), h.alias("__h"))
        .groupBy(id_col)
        .agg(F.slice(F.sort_array(F.collect_set("__h")), 1, sketch_size).alias("fp_sketch"))
    )
    return sketched.select(
        F.col(id_col),
        "fp_sketch",
        F.get("fp_sketch", 0).alias("fp_min"),
    )


def token_vocab(
    df: DataFrame, id_col: str, text_col: str, *, min_count: int = 1
) -> DataFrame:
    """Frequency-ranked token vocabulary with cumulative corpus coverage —
    the vocab-induction step before tokenizer training (which tokens, at
    what rank, cover what fraction of the token stream).

    Shape at 100 TB: one groupBy on the token (map-side combine collapses
    per-partition repeats, so the shuffle carries ≤ |vocab| rows per
    partition, not the token stream). The global rank + running coverage
    are NOT an unpartitioned window (web-scale corpora hold 10⁸–10⁹
    distinct tokens — one task sorting the whole vocabulary is the exact
    single-task bottleneck r8 excised from ``save_zordered``). Instead,
    the z-order lesson applied to ranking:

      1. ``repartitionByRange`` on (tf desc, token) — partition i holds a
         contiguous slice of the global order (ties impossible: token is
         unique per row, so the result is boundary-placement invariant),
      2. per-partition window (partitioned by the captured range-partition
         id) for LOCAL row numbers and running tf sums — every task ranks
         its own slice,
      3. a per-partition aggregate (one row per range partition — bounded
         by the session's shuffle-partition CONFIG, not by data) whose
         exclusive prefix sums give each partition its global row/tf
         offset; the only ordered-unbounded window runs over THIS
         config-sized frame, then broadcast-joins back.

    global rank = offset_rows + local row_number, and the coverage
    numerator = offset_tf + local running tf — pure integer arithmetic,
    bit-identical to the single-window form. Ties rank deterministically
    by token text.

    Returns (token, tf, df_docs, rank, cum_coverage): term frequency,
    document frequency, 1-based frequency rank, and the fraction of all
    token occurrences covered by ranks 1..rank (6-dp rounded).
    """
    toks = (
        _spread(df)
        .select(F.col(id_col), F.explode(tokens(normalize(F.col(text_col)))).alias("token"))
    )
    counts = toks.groupBy("token").agg(
        F.count("*").alias("tf"), F.count_distinct(F.col(id_col)).alias("df_docs")
    )
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # localCheckpoint is LOAD-BEARING, not an optimization: the offsets
    # branch and the ranking branch both read __pid, and RangePartitioner
    # samples its bounds per physical execution — two re-executions of
    # this subtree could place boundary rows in different partitions,
    # desynchronizing the offsets from the local windows. Materializing
    # the sliced vocab once (vocab-sized, ≪ corpus) pins one pid
    # assignment for both consumers and stops the tokenize+groupBy from
    # running twice.
    sliced = (
        counts.repartitionByRange(n_parts, F.col("tf").desc(), F.col("token"))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    per_pid = sliced.groupBy("__pid").agg(
        F.count("*").alias("__n_rows"), F.sum("tf").alias("__sum_tf")
    )
    w_prev = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_pid.select(
        "__pid",
        F.coalesce(F.sum("__n_rows").over(w_prev), F.lit(0)).alias("__row_off"),
        F.coalesce(F.sum("__sum_tf").over(w_prev), F.lit(0)).alias("__tf_off"),
        F.sum("__sum_tf").over(Window.partitionBy()).alias("__total_tf"),
    )
    w_local = Window.partitionBy("__pid").orderBy(F.col("tf").desc(), F.col("token"))
    ranked = (
        sliced.join(F.broadcast(offsets), "__pid")
        .select(
            "token",
            "tf",
            "df_docs",
            (F.col("__row_off") + F.row_number().over(w_local)).cast("long").alias("rank"),
            round6(
                (
                    F.col("__tf_off")
                    + F.sum("tf").over(
                        w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                    )
                )
                / F.col("__total_tf")
            ).alias("cum_coverage"),
        )
    )
    # Filter AFTER ranking: coverage stays a fraction of the FULL token
    # stream (a truncated vocab covers less than 1.0 — that is the number
    # tokenizer sizing decisions need). Every dropped token has tf <
    # min_count ≤ any kept tf, so kept ranks/cums are identical either way.
    if min_count > 1:
        ranked = ranked.where(F.col("tf") >= min_count)
    return ranked
