"""Multimodal-column tests: payload attach metadata, decode-stub plumbing
(batch shapes, schema), feature extraction determinism, frame-sample math,
and the stub boundary (NotImplementedError for real codecs)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.operators import multimodal as mm


@pytest.fixture
def docs(spark):
    rows = [(1, "a" * 100), (2, "hello world"), (3, "x" * 200)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_attach_payload_metadata(spark, docs):
    out = mm.attach_payload(docs, "text", mime="text/plain")
    r = {x.doc_id: x for x in out.collect()}
    assert r[1].media_meta.n_bytes == 100
    assert r[2].media_meta.fingerprint == hashlib.md5(b"hello world").hexdigest()
    assert bytes(r[2].payload) == b"hello world"


def test_decode_stub_matches_digest(spark, docs):
    out = mm.decode_media(mm.attach_payload(docs, "text"))
    r = {x.doc_id: x for x in out.collect()}
    d = hashlib.md5(b"hello world").digest()
    assert (r[2].width, r[2].height, r[2].channels) == (
        16 + d[0] % 240,
        16 + d[1] % 240,
        1 + d[2] % 4,
    )
    # passthrough columns survive the mapInPandas stage
    assert r[2].text == "hello world"


def test_frame_sample_math(spark):
    # 200 bytes → frames of 64: sizes [64, 64, 64, 8]; keep idx 0, 2
    df = spark.createDataFrame([(1, "x" * 200)], "doc_id long, text string")
    frames = mm.frame_sample(mm.attach_payload(df, "text"), frame_bytes=64, every=2)
    sizes = [r.frame_meta.n_bytes for r in frames.collect()]
    assert sizes == [64, 64]
    # every=1 keeps all four, including the 8-byte tail
    all_frames = mm.frame_sample(mm.attach_payload(df, "text"), frame_bytes=64, every=1)
    assert [r.frame_meta.n_bytes for r in all_frames.collect()] == [64, 64, 64, 8]


def test_frame_sample_empty_payload_yields_no_rows(spark):
    # ADVICE r3: floor((0-1)/frame_bytes) = -1 made sequence(0,-1) DESCEND,
    # exploding spurious empty frames for a 0-byte payload
    from mlops_pipelines_featurestore_gcp_spark.operators.multimodal import frame_sample

    df = spark.createDataFrame(
        [("a", bytearray(b"")), ("b", bytearray(b"x" * 130))], "id string, payload binary"
    )
    out = frame_sample(df, frame_bytes=64, every=1).select("id").collect()
    ids = sorted(r.id for r in out)
    assert ids == ["b", "b", "b"]  # 130 bytes -> 3 frames; empty -> none


def test_keep_best_by_signature_matches_pair_graph_path(spark):
    """The linear keep-best form must select the SAME keep set as the full
    pair-table composition (hamming_blocked_pairs → dedup_keep_best_set) —
    the connectivity-equivalence that justifies skipping Σ cluster² pair
    materialization (VERDICT r6 #2)."""
    from mlops_pipelines_featurestore_gcp_spark.operators import sampling
    from mlops_pipelines_featurestore_gcp_spark.operators.components import dedup_keep_best_set
    from mlops_pipelines_featurestore_gcp_spark.operators.dedup import (
        hamming_blocked_pairs,
        keep_best_by_signature,
    )

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("img-"), (F.col("id") % 7).cast("string")).alias("text"),
    )
    payloads = mm.attach_payload(docs, "text")
    sig = mm.perceptual_hash(payloads).select("doc_id", "phash")
    quality = docs.select("doc_id", sampling.uniform_hash("doc_id", "mmq").alias("q"))

    linear = keep_best_by_signature(
        sig, "doc_id", "phash", quality, "q", bits=mm.PHASH_BITS, max_hamming=0
    )
    rows = linear.collect()
    assert len(rows) == 60  # linear: exactly one row per doc
    kept_linear = {r.doc_id for r in rows if r.kept == 1}
    assert all(r.cluster_size in (8, 9) for r in rows)  # 60 ids over 7 buckets

    pairs = hamming_blocked_pairs(
        sig, "doc_id", "phash", bits=mm.PHASH_BITS, max_hamming=0
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    kept_graph = {
        r.doc_id
        for r in dedup_keep_best_set(
            pairs, docs.select("doc_id"), "doc_id", quality, "q"
        ).collect()
    }
    assert kept_linear == kept_graph
    assert len(kept_linear) == 7  # one survivor per payload bucket


def test_keep_best_by_signature_neardup_graph(spark):
    """max_hamming>0 path: distinct signatures within hamming reach merge
    into one component (graph leg), identical signatures still collapse
    without pairs, and the keep verdict matches the pair-graph path."""
    from mlops_pipelines_featurestore_gcp_spark.operators import sampling
    from mlops_pipelines_featurestore_gcp_spark.operators.components import dedup_keep_best_set
    from mlops_pipelines_featurestore_gcp_spark.operators.dedup import (
        hamming_blocked_pairs,
        keep_best_by_signature,
    )

    # hand-built signatures: {1,2} identical; {3} differs from them by 1 bit
    # (same chunk survives → candidate → hamming 1); {4} far away
    rows = [(1, 0b1111_0000), (2, 0b1111_0000), (3, 0b1111_0001), (4, 0x0F0F0F0F0F0F0F0)]
    sig = spark.createDataFrame(rows, "doc_id long, h long")
    quality = sig.select("doc_id", sampling.uniform_hash("doc_id", "kbq").alias("q"))

    linear = keep_best_by_signature(
        sig, "doc_id", "h", quality, "q", bits=60, chunks=4, max_hamming=2
    )
    got = {r.doc_id: (r.cluster_size, r.kept) for r in linear.collect()}
    assert {d: s for d, (s, _) in got.items()} == {1: 3, 2: 3, 3: 3, 4: 1}
    assert sum(k for _, k in got.values()) == 2  # one keeper per component

    pairs = hamming_blocked_pairs(sig, "doc_id", "h", bits=60, chunks=4, max_hamming=2)
    kept_graph = {
        r.doc_id
        for r in dedup_keep_best_set(
            pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")),
            sig.select("doc_id"),
            "doc_id",
            quality,
            "q",
        ).collect()
    }
    assert {d for d, (_, k) in got.items() if k == 1} == kept_graph


def test_keep_best_by_signature_works_on_audio_fingerprints(spark):
    """The linear keep-best operator is signature-family-agnostic: the
    audio chromaprint-style fingerprint (mm05's signature) drops in
    unchanged — same 60-bit hamming machinery, same keep contract."""
    from mlops_pipelines_featurestore_gcp_spark.operators import sampling
    from mlops_pipelines_featurestore_gcp_spark.operators.dedup import keep_best_by_signature

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("aud-"), (F.col("id") % 5).cast("string")).alias("text"),
    )
    payloads = mm.attach_payload(docs, "text")
    sig = mm.audio_fingerprint(payloads).select("doc_id", "afp")
    quality = docs.select("doc_id", sampling.uniform_hash("doc_id", "aq").alias("q"))
    out = keep_best_by_signature(sig, "doc_id", "afp", quality, "q", max_hamming=0)
    rows = out.collect()
    assert len(rows) == 40
    assert sum(r.kept for r in rows) == 5  # one survivor per payload bucket
    assert all(r.cluster_size == 8 for r in rows)
