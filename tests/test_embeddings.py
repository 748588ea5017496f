"""Feature-hashed embeddings: exact numpy-reference parity, norm and
determinism properties, and the text → embed → near-dup integration loop."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.operators.embeddings import hashed_embedding


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _np_reference(text: str, dim: int = 64, salt: str = "emb") -> np.ndarray | None:
    """Independent reimplementation: normalize → whitespace tokens → md5
    bucket/sign → bucket sums → L2 unit vector."""
    toks = " ".join(text.lower().split()).split()
    if not toks:
        return None
    v = np.zeros(dim, dtype=np.int64)
    for t in toks:
        b = int(hashlib.md5(f"{salt}|b|{t}".encode()).hexdigest()[:8], 16) % dim
        s = 1 if int(hashlib.md5(f"{salt}|s|{t}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
        v[b] += s
    n = np.sqrt(float((v * v).sum()))
    return v / n if n > 0 else v.astype(float)


def test_matches_numpy_reference_exactly(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely different content about query engines"),
        (3, "the the the repeated token document"),
    ]
    out = {r.doc_id: r for r in hashed_embedding(_docs(spark, rows), "doc_id", "text").collect()}
    for doc_id, text in rows:
        ref = _np_reference(text)
        got = np.array(out[doc_id].embedding)
        assert np.array_equal(got, ref), doc_id  # bit-exact: same int sums, same IEEE ops


def test_unit_norm_and_empty_doc(spark):
    rows = [(1, "some ordinary text with several tokens"), (2, "   "), (3, "")]
    out = hashed_embedding(_docs(spark, rows), "doc_id", "text").collect()
    assert {r.doc_id for r in out} == {1}  # token-less docs produce no row
    norm = sum(x * x for x in out[0].embedding) ** 0.5
    assert abs(norm - 1.0) < 1e-12


def test_deterministic_and_order_insensitive_tokens_differ(spark):
    a = "alpha beta gamma"
    rows = [(1, a), (2, a), (3, "gamma beta alpha")]
    out = {r.doc_id: r for r in hashed_embedding(_docs(spark, rows), "doc_id", "text").collect()}
    assert out[1].embedding == out[2].embedding  # identical text → identical vector
    # bag-of-words: token ORDER doesn't matter either (documented semantics)
    assert out[1].embedding == out[3].embedding


def test_near_dup_loop_via_derived_embeddings(spark):
    """End-to-end: embed raw text, then find near-dups on the DERIVED
    vectors with the existing cosine operator."""
    from mlops_pipelines_featurestore_gcp_spark.operators.similarity import cosine_neardup_pairs

    base = "the quick brown fox jumps over the lazy dog and keeps running through the forest"
    rows = [
        (1, base),
        (2, base + " tonight"),  # near-dup: one extra token
        (3, "an entirely unrelated report about distributed shuffle scheduling internals"),
    ]
    emb = hashed_embedding(_docs(spark, rows), "doc_id", "text").select(
        F.col("doc_id").alias("vec_id"), F.col("embedding").cast("array<float>").alias("embedding")
    )
    pairs = cosine_neardup_pairs(emb, threshold=0.8).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].cos_sim > 0.9
