"""Unit + plan-shape tests for document chunking, contamination detection
and PII redaction (the round-3 training-data additions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.operators import chunking, contamination, text_analysis


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# chunk_documents
# ---------------------------------------------------------------------------


def test_chunk_exact_windows(spark):
    text = " ".join(f"w{i}" for i in range(10))  # w0..w9
    out = chunking.chunk_documents(
        _docs(spark, [(1, text)]), "doc_id", "text", chunk_tokens=4, overlap=2
    ).orderBy("chunk_idx")
    rows = out.collect()
    # stride 2; starts < max(10-2,1)=8 → 0,2,4,6
    assert [r.chunk_start for r in rows] == [0, 2, 4, 6]
    assert [r.chunk_idx for r in rows] == [0, 1, 2, 3]
    assert rows[0].chunk_text == "w0 w1 w2 w3"
    assert rows[1].chunk_text == "w2 w3 w4 w5"
    assert rows[3].chunk_text == "w6 w7 w8 w9"
    assert all(r.n_chunk_tokens == 4 for r in rows)


def test_chunk_short_and_empty_docs(spark):
    out = chunking.chunk_documents(
        _docs(spark, [(1, "only three tokens"), (2, "   "), (3, "")]),
        "doc_id",
        "text",
        chunk_tokens=8,
        overlap=2,
    )
    rows = {r.doc_id: r for r in out.collect()}
    # shorter than one chunk → exactly one ragged chunk; no tokens → no rows
    assert set(rows) == {1}
    assert rows[1].chunk_text == "only three tokens" and rows[1].n_chunk_tokens == 3


def test_chunk_ragged_tail_reaches_end(spark):
    text = " ".join(f"w{i}" for i in range(11))  # 11 tokens, chunk 4, stride 2
    rows = chunking.chunk_documents(
        _docs(spark, [(1, text)]), "doc_id", "text", chunk_tokens=4, overlap=2
    ).collect()
    # last start is 8 (< 11-2=9): covers w8..w10 — every token appears
    covered = {t for r in rows for t in r.chunk_text.split()}
    assert covered == {f"w{i}" for i in range(11)}
    tail = max(rows, key=lambda r: r.chunk_start)
    assert tail.chunk_text == "w8 w9 w10" and tail.n_chunk_tokens == 3


def test_chunk_rejects_bad_overlap(spark):
    with pytest.raises(ValueError):
        chunking.chunk_documents(_docs(spark, [(1, "a b")]), "doc_id", "text", chunk_tokens=4, overlap=4)


def test_chunk_plan_is_shuffle_free(spark):
    df = _docs(spark, [(i, "a b c d e f g h") for i in range(5)])
    out = chunking.chunk_documents(df, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# contamination_check
# ---------------------------------------------------------------------------


def test_contamination_hits_and_frac(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps over the lazy dog")])
    corpus = _docs(
        spark,
        [
            # contains "the quick brown fox jumps" (5-gram of the benchmark)
            (1, "witness the quick brown fox jumps today"),
            # same tokens, different order — no shared 5-gram
            (2, "fox brown quick the jumps over lazy the dog"),
            (3, "entirely unrelated text with many novel tokens here"),
        ],
    )
    out = contamination.contamination_check(corpus, bench, "doc_id", "text", n=5)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].n_hits > 0 and rows[1].contamination_frac > 0
    assert rows[2].n_hits == 0 and rows[3].n_hits == 0
    # doc 1: 7 tokens → 3 distinct 5-grams, 1 shared
    assert rows[1].n_grams == 3 and rows[1].n_hits == 1
    assert abs(rows[1].contamination_frac - round(1 / 3, 6)) < 1e-9


def test_contamination_exact_dup_is_fully_contaminated(spark):
    text = "alpha beta gamma delta epsilon zeta eta"
    out = contamination.contamination_check(
        _docs(spark, [(1, text)]), _docs(spark, [(9, text)]), "doc_id", "text", n=5
    )
    row = out.collect()[0]
    assert row.n_hits == row.n_grams and row.contamination_frac == 1.0


def test_contamination_short_docs_produce_no_row(spark):
    out = contamination.contamination_check(
        _docs(spark, [(1, "too few tokens")]), _docs(spark, [(9, "some benchmark text here five")]),
        "doc_id", "text", n=5,
    )
    assert out.collect() == []


def test_contamination_probe_is_broadcast(spark):
    bench = _docs(spark, [(9, "a b c d e f")])
    corpus = _docs(spark, [(i, "a b c d e f g h") for i in range(4)])
    out = contamination.contamination_check(corpus, bench, "doc_id", "text", n=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


# ---------------------------------------------------------------------------
# pii_counts / redact_pii
# ---------------------------------------------------------------------------


def _pii(df):
    """Typed PII counts and the redacted text per doc, the t01 columns."""
    counts = text_analysis.pii_counts(F.col("text"))
    return df.select(
        "doc_id",
        *[c.alias(f"n_{kind}") for kind, c in counts.items()],
        text_analysis.redact_pii(F.col("text")).alias("redacted_text"),
    )


def test_pii_redaction_and_counts(spark):
    text = (
        "mail bob.smith+x@corp.example.org or admin@a.io, host 192.168.0.1, "
        "ssn 123-45-6789, call 555-123-4567 now"
    )
    row = _pii(_docs(spark, [(1, text)])).collect()[0]
    assert row.n_email == 2 and row.n_ip == 1 and row.n_ssn == 1 and row.n_phone == 1
    red = row.redacted_text
    assert "<EMAIL>" in red and "<IP>" in red and "<SSN>" in red and "<PHONE>" in red
    assert "bob.smith" not in red and "192.168" not in red and "6789" not in red and "4567" not in red


def test_pii_clean_text_unchanged(spark):
    text = "no personal data here just words and 42 numbers"
    row = _pii(_docs(spark, [(1, text)])).collect()[0]
    assert row.redacted_text == text
    assert row.n_email == row.n_ip == row.n_ssn == row.n_phone == 0


def test_profile_repetition_signal(spark):
    rows = text_analysis.text_profile(
        _docs(spark, [(1, "spam spam spam spam spam spam"), (2, "six distinct words appear only once")]),
        "doc_id",
        "text",
    ).collect()
    by_id = {r.doc_id: r for r in rows}
    # "spam spam" repeated: 5 bigrams, 1 distinct → frac 0.8
    assert abs(by_id[1].dup_bigram_frac - 0.8) < 1e-9
    assert by_id[2].dup_bigram_frac == 0.0


def test_chunk_invariant_sweep(spark):
    """Exhaustive small-domain sweep (every token count 0..40 × several
    (chunk, overlap) configs): starts are stride-spaced below
    max(n-overlap, 1), every chunk renders exactly its token window, and
    the windows cover every token with no gaps."""
    docs = [(n, " ".join(f"t{i}" for i in range(n))) for n in range(0, 41)]
    df = _docs(spark, docs)
    for chunk_tokens, overlap in [(4, 0), (4, 1), (4, 3), (8, 2), (16, 5), (5, 2)]:
        stride = chunk_tokens - overlap
        rows = chunking.chunk_documents(
            df, "doc_id", "text", chunk_tokens=chunk_tokens, overlap=overlap
        ).collect()
        by_doc: dict[int, list] = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for n in range(41):
            chunks = sorted(by_doc.get(n, []), key=lambda r: r.chunk_start)
            if n == 0:
                assert chunks == []
                continue
            assert [c.chunk_start for c in chunks] == list(range(0, max(n - overlap, 1), stride))
            toks = [f"t{i}" for i in range(n)]
            covered: set[int] = set()
            for c in chunks:
                window = toks[c.chunk_start : c.chunk_start + chunk_tokens]
                assert c.chunk_text.split() == window
                assert c.n_chunk_tokens == len(window)
                covered.update(range(c.chunk_start, c.chunk_start + c.n_chunk_tokens))
            assert covered == set(range(n)), (n, chunk_tokens, overlap)


def test_pii_redaction_is_idempotent(spark):
    texts = [
        (1, "a@b.co and 10.0.0.1 and 123-45-6789 and 555-123-4567"),
        (2, "email.with+tags@sub.domain.org twice a@b.co a@b.co"),
        (3, "already <EMAIL> redacted <IP> placeholders stay"),
        (4, "digits 1234567 12.34 1.2.3 not pii"),
    ]
    df = _docs(spark, texts)
    once = text_analysis.redact_pii(F.col("text"))
    twice = text_analysis.redact_pii(once)
    rows = df.select("doc_id", once.alias("r1"), twice.alias("r2")).collect()
    for r in rows:
        assert r.r1 == r.r2, r


def test_null_text_rows_are_safe(spark):
    """Real corpora contain NULL text; none of the new operators may crash
    or fabricate output for them."""
    df = _docs(spark, [(1, None), (2, "alpha beta gamma delta epsilon zeta")])
    chunks = chunking.chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=1).collect()
    assert {r.doc_id for r in chunks} == {2}
    cont = contamination.contamination_check(
        df, _docs(spark, [(9, "alpha beta gamma delta epsilon zeta")]), "doc_id", "text", n=5
    ).collect()
    assert {r.doc_id for r in cont} == {2}
    pii = {r.doc_id: r for r in _pii(df).collect()}
    assert pii[1].redacted_text is None
    assert pii[2].redacted_text == "alpha beta gamma delta epsilon zeta"


def test_bloom_contamination_superset_of_exact_and_bounded_fpr(spark):
    from mlops_pipelines_featurestore_gcp_spark.operators.contamination import (
        bloom_contamination,
        build_gram_bloom,
        contamination_check,
    )

    rows = [(i, f"alpha beta gamma delta epsilon zeta doc{i} x{i} y{i} z{i} w{i} v{i}") for i in range(40)]
    # docs 0-9 share a full 5-gram run with the benchmark; 10-39 are clean
    bench_rows = [(1000, "alpha beta gamma delta epsilon zeta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")

    exact = {r.doc_id: r.n_hits for r in contamination_check(docs, bench, "doc_id", "text", n=5).collect()}
    bloom = build_gram_bloom(bench, "doc_id", "text", n=5)
    maybe = {r.doc_id: r.n_maybe_hits for r in
             bloom_contamination(docs, bloom, "doc_id", "text", n=5).collect()}

    # no false negatives: every exact hit is a bloom might-hit
    for d, hits in exact.items():
        assert maybe[d] >= hits, (d, hits, maybe[d])
    # bounded false positives: tiny gram universe vs 8M bits → essentially none
    total_extra = sum(maybe[d] - exact.get(d, 0) for d in maybe)
    assert total_extra == 0


def test_bloom_filter_size_is_bounded(spark):
    from mlops_pipelines_featurestore_gcp_spark.operators.contamination import build_gram_bloom

    rows = [(i, " ".join(f"tok{i}_{j}" for j in range(30))) for i in range(50)]
    bench = spark.createDataFrame(rows, "doc_id long, text string")
    m_bits = 1 << 12
    bloom = build_gram_bloom(bench, "doc_id", "text", n=5, m_bits=m_bits, k=4).collect()
    assert len(bloom) <= m_bits // 64  # fixed memory regardless of gram count
    assert all(0 <= r.word < m_bits // 64 for r in bloom)


def test_bloom_contamination_counts_grams_like_exact(spark):
    from mlops_pipelines_featurestore_gcp_spark.operators.contamination import (
        bloom_contamination,
        build_gram_bloom,
        contamination_check,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "one two three four five")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, "zz yy xx ww vv uu")], "doc_id long, text string")
    exact = {r.doc_id: r.n_grams for r in contamination_check(docs, bench, "doc_id", "text", n=5).collect()}
    bloom = build_gram_bloom(bench, "doc_id", "text", n=5)
    got = {r.doc_id: r.n_grams for r in bloom_contamination(docs, bloom, "doc_id", "text", n=5).collect()}
    assert got == exact  # same distinct-gram denominators
