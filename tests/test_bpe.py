from __future__ import annotations

import collections

from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.operators import bpe


# the pure-Python reference now lives in the operator module (the t12
# contract query replays it); tests keep using it as the independent oracle
ref_learn_bpe = bpe.reference_learn_bpe


CORPUS = (
    ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
)


def test_merge_sequence_matches_reference(spark):
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(CORPUS)], "doc_id long, text string"
    )
    got = bpe.learn_bpe(docs, "text", n_merges=6)
    expect = ref_learn_bpe(collections.Counter(CORPUS), 6)
    assert got == expect


def _segment(docs, merges):
    """(word, pieces) per distinct word: the word table's symbol strings
    with each merge applied in order, as ``learn_bpe`` applies them."""
    syms = F.col("syms")
    for s1, s2 in merges:
        syms = bpe._merge_expr(syms, s1, s2)
    return bpe.word_symbol_table(docs, "text").select("word", F.split(syms, " ").alias("pieces"))


def test_run_merging_left_to_right(spark):
    docs = spark.createDataFrame([(1, "aaaa aaa")], "doc_id long, text string")
    got = {r.word: r.pieces for r in _segment(docs, [("a", "a")]).collect()}
    assert got["aaaa"] == ["aa", "aa", bpe.END]
    assert got["aaa"] == ["aa", "a", bpe.END]


def test_segmentation_reconstructs_words(spark, sf_small):
    from mlops_pipelines_featurestore_gcp_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_small).limit(50)
    merges = bpe.learn_bpe(docs, "text", n_merges=8)
    assert len(merges) == 8
    seg = _segment(docs, merges)
    bad = seg.where(
        F.concat_ws("", F.col("pieces")) != F.concat(F.col("word"), F.lit(bpe.END))
    ).count()
    assert bad == 0
    # merges actually compress: some word has fewer pieces than chars+1
    shorter = seg.where(F.size("pieces") < F.length("word") + 1).count()
    assert shorter > 0


def test_early_stop_on_tiny_corpus(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    merges = bpe.learn_bpe(docs, "text", n_merges=10)
    # "a </w>" has one pair; after merging it there are none left
    assert merges == [("a", bpe.END)]
