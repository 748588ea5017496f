"""Distributed BPE merge learning (Sennrich et al. 2016).

``token_vocab`` (t09) sizes a WORD-level vocabulary; real tokenizers are
learned subword merges. This is the published byte-pair-encoding algorithm
re-expressed on the engine: iteratively merge the most frequent adjacent
symbol pair across the corpus word distribution.

The distributed shape mirrors how every large-corpus tokenizer trainer
actually runs:

- the corpus collapses ONCE into the word-frequency table (one groupBy) —
  afterwards every iteration touches |vocab| rows, not |corpus| rows;
- each merge round is one map-side pair explode + one partial-combined
  aggregate to find the argmax pair, then a map-only regexp merge of the
  winning pair into the word table;
- ties break deterministically (count desc, then pair lexicographic), so
  the learned merge sequence is reproducible run to run and machine to
  machine.

Merging must be LEFT-TO-RIGHT NON-OVERLAPPING exactly like the paper's
scanner ("a a a a" → "aa aa", odd runs leave the tail symbol). A naive
``regexp_replace(syms, "s1 s2", ...)`` gets runs wrong: adjacent pairs
share one separator space, and the consumed space hides the next match.
The fix is the engine's established double-space trick (see
``functions.text.stopword_hits``): widen separators to two spaces so each
match consumes one of each boundary pair and the scanner sees every
non-overlapping occurrence.

The driver loop holds only the (tiny) merge list; word tables are lazily
localCheckpointed per round so lineage doesn't grow with merge count.
Iterative fixed-point loops are not SQL-expressible, so the t12 oracle
is a CONTRACT: the learned sequence must match the pure-Python reference
implementation (reference_learn_bpe) merge-for-merge, replayed on the
collected vocabulary-sized word-frequency table.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.functions.text import normalize, tokens

END = "</w>"


def word_symbol_table(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq, syms) — corpus word distribution with each word as a
    space-separated character-symbol string ending in the end-of-word mark.
    The one corpus-wide pass of BPE training."""
    toks = tokens(normalize(F.col(text_col)))
    words = df.select(F.explode(toks).alias("word")).groupBy("word").agg(F.count("*").alias("freq"))
    syms = F.concat(F.concat_ws(" ", F.split(F.col("word"), "")), F.lit(" " + END))
    return words.select("word", "freq", syms.alias("syms"))


def _pair_counts(wt: DataFrame) -> DataFrame:
    """Adjacent symbol-pair frequencies over the word table (weighted by
    word freq). Codegen: split + positional explode + element_at."""
    arr = F.split(F.col("syms"), " ")
    n = F.size(arr)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(F.array().cast("array<int>"))
    return (
        wt.select("freq", arr.alias("a"), F.explode(idx).alias("i"))
        .select(
            F.element_at("a", F.col("i")).alias("s1"),
            F.element_at("a", F.col("i") + 1).alias("s2"),
            "freq",
        )
        .groupBy("s1", "s2")
        .agg(F.sum("freq").alias("n"))
    )


def _merge_expr(expr: Column, s1: str, s2: str) -> Column:
    """Replace every left-to-right non-overlapping adjacent (s1, s2) in a
    space-separated symbol string with the merged symbol."""
    pat = " " + re.escape(s1) + "  " + re.escape(s2) + " "
    rep = " " + (s1 + s2).replace("\\", "\\\\").replace("$", "\\$") + " "
    doubled = F.regexp_replace(expr, " ", "  ")
    padded = F.concat(F.lit(" "), doubled, F.lit(" "))
    replaced = F.regexp_replace(padded, pat, rep)
    return F.regexp_replace(F.trim(replaced), " +", " ")


def learn_bpe(df: DataFrame, text_col: str, *, n_merges: int) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the ordered
    merge list. Stops early when no adjacent pair remains."""
    wt = word_symbol_table(df, text_col).localCheckpoint(eager=False)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(wt)
            .orderBy(F.col("n").desc(), F.col("s1"), F.col("s2"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        s1, s2 = top[0]["s1"], top[0]["s2"]
        merges.append((s1, s2))
        wt = wt.select(
            "word", "freq", _merge_expr(F.col("syms"), s1, s2).alias("syms")
        ).localCheckpoint(eager=False)
    return merges


def reference_learn_bpe(word_freqs: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    """Pure-Python reference of the published algorithm (greedy
    most-frequent pair; count-desc then lexicographic tie-break;
    left-to-right non-overlapping merging) — single-threaded ground truth
    the distributed ``learn_bpe`` must reproduce merge-for-merge.

    Used by the t12 contract query to replay the learned sequence on the
    collected word-frequency table (corpus-collapsed → vocabulary-sized,
    so the replay is driver-cheap even when the corpus is not), and by
    tests as the independent oracle.
    """
    import collections

    vocab = {tuple(list(w) + [END]): f for w, f in word_freqs.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: collections.Counter = collections.Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        top = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == top)
        merges.append(best)
        nv: dict[tuple, int] = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            nv[key] = nv.get(key, 0) + f
        vocab = nv
    return merges
