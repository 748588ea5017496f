"""Exact-substring span dedup (operators/dedup.py exact_substring_spans)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.operators.dedup import exact_substring_spans

W = 4  # small window so fixtures stay readable


def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_shared_passage_found_with_exact_boundaries(spark):
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens → 3 windows of 4
    docs = spark.createDataFrame(
        [
            (1, f"{_words('a', 5)} {shared} {_words('b', 5)}"),
            (2, f"{_words('c', 2)} {shared} {_words('d', 9)}"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in exact_substring_spans(docs, "doc_id", "text", window=W).collect()}
    assert set(rows) == {1, 2}
    # doc 1: shared starts at token 6 (1-based), doc 2: token 3
    assert (rows[1].span_start, rows[1].span_end) == (6, 11)
    assert (rows[2].span_start, rows[2].span_end) == (3, 8)
    for r in rows.values():
        assert r.span_tokens == 6
        assert r.n_windows == 3  # 6 tokens, window 4 → 3 stride-1 windows


def test_within_doc_repeat_not_flagged(spark):
    rep = "one two three four"
    docs = spark.createDataFrame(
        [(1, f"{rep} filler0 filler1 {rep}"), (2, _words("z", 12))],
        ["doc_id", "text"],
    )
    assert exact_substring_spans(docs, "doc_id", "text", window=W).count() == 0


def test_short_docs_and_disjoint_docs_yield_nothing(spark):
    docs = spark.createDataFrame(
        [(1, "too short"), (2, _words("p", 10)), (3, _words("q", 10))],
        ["doc_id", "text"],
    )
    assert exact_substring_spans(docs, "doc_id", "text", window=W).count() == 0


def test_two_disjoint_shared_passages_stay_separate_spans(spark):
    s1, s2 = "red green blue cyan", "dogs cats mice birds"
    docs = spark.createDataFrame(
        [
            (1, f"{s1} {_words('x', 6)} {s2}"),
            (2, f"{s2} {_words('y', 6)} {s1}"),
        ],
        ["doc_id", "text"],
    )
    out = exact_substring_spans(docs, "doc_id", "text", window=W)
    per_doc = (
        out.groupBy("doc_id").agg(F.count("*").alias("n"), F.sum("span_tokens").alias("tok"))
    ).collect()
    assert {r.doc_id: (r.n, r.tok) for r in per_doc} == {1: (2, 8), 2: (2, 8)}


def test_identical_docs_flag_full_text(spark):
    text = _words("w", 9)
    docs = spark.createDataFrame([(1, text), (2, text)], ["doc_id", "text"])
    rows = exact_substring_spans(docs, "doc_id", "text", window=W).collect()
    assert len(rows) == 2
    for r in rows:
        assert (r.span_start, r.span_end, r.span_tokens) == (1, 9, 9)


def test_null_and_empty_text_docs_yield_no_windows(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "short"), (4, _words("m", 8)), (5, _words("m", 8))],
        "doc_id long, text string",
    )
    rows = exact_substring_spans(docs, "doc_id", "text", window=W).collect()
    # only the two identical real docs flag; null/empty/short produce nothing
    assert sorted({r.doc_id for r in rows}) == [4, 5]
