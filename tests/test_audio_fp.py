"""Audio fingerprint + near-dup (operators/multimodal.py audio_* — the
audio twin of the mm04 image path, VERDICT r5 #8)."""

from __future__ import annotations

import hashlib

from mlops_pipelines_featurestore_gcp_spark.operators import multimodal


def _payloads(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return multimodal.attach_payload(df, "text")


def _ref_fingerprint(blob: bytes) -> int:
    """Single-threaded reference of the delta fingerprint (independent
    re-derivation, not a call into the operator)."""
    frames, d = [], hashlib.sha256(blob).digest()
    for _ in range(multimodal._AFP_FRAMES):
        frames.append(list(d[:12]))
        d = hashlib.sha256(d).digest()
    h = 0
    for f in range(len(frames) - 1):
        for s in range(12):
            bit = f * 12 + s
            if bit < multimodal.AFP_BITS and frames[f + 1][s] > frames[f][s]:
                h |= 1 << bit
    return h


def test_audio_fingerprint_matches_reference_and_is_payload_keyed(spark):
    df = _payloads(spark, [(1, "same clip"), (2, "same clip"), (3, "other clip")])
    got = {r.doc_id: r.afp for r in multimodal.audio_fingerprint(df).collect()}
    assert got[1] == got[2]  # identical payloads → identical fingerprint
    assert got[1] != got[3]
    assert got[1] == _ref_fingerprint(b"same clip")
    assert got[3] == _ref_fingerprint(b"other clip")
    assert all(0 <= h < (1 << multimodal.AFP_BITS) for h in got.values())


def test_audio_neardup_finds_exact_duplicates(spark):
    df = _payloads(
        spark,
        [(1, "aa"), (2, "aa"), (3, "bb"), (4, "bb"), (5, "unique clip")],
    )
    pairs = multimodal.audio_neardup_pairs(df, "doc_id", max_hamming=0)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got == {(1, 2): 0, (3, 4): 0}


def test_mm05_fixture_buckets_never_collide():
    """mm05's exact pair-set oracle assumes distinct bucket payloads
    (aud-0 … aud-88) have distinct fingerprints — the same precondition
    mm04 pins for aHash. Pure driver-side check of the stub pipeline."""
    fps = {_ref_fingerprint(f"aud-{i}".encode()) for i in range(89)}
    assert len(fps) == 89
