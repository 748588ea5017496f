"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode / perceptual hash / audio fingerprint / frame-sample
as Arrow-batched Pandas transforms.

Design for 100 TB: payloads stay in executor-side Arrow batches end to end —
metadata-only queries (size, fingerprint, mime dispatch) never touch Python,
and the Pandas stages stream ``mapInPandas`` batches without per-row
serialization. The package ships no image or audio codec, so each decode is a
deterministic digest-derived stand-in (``_fake_decode``, ``_fake_pixels``,
``_fake_chroma``), so every mm* query is deterministic and oracle-checked. The
Spark-side contract (schemas, batch shapes, partition flow, UDF signatures)
is real and tested; a real codec replaces one of those functions.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def attach_payload(df: DataFrame, src_col: str, *, mime: str = "application/octet-stream") -> DataFrame:
    """Opaque binary column + typed metadata from any source column.

    Metadata is pure JVM expression (octet_length/md5) — a scan computing
    only metadata prunes the payload column entirely at the parquet reader.
    """
    payload = F.encode(F.col(src_col).cast("string"), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
            F.md5(payload).alias("fingerprint"),
        ),
    )


def _fake_decode(blob: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for an image decoder: (width, height,
    channels) derived from the payload digest. A real build replaces this
    with ``PIL.Image.open(io.BytesIO(blob))``."""
    d = hashlib.md5(blob).digest()
    return 16 + d[0] % 240, 16 + d[1] % 240, 1 + d[2] % 4


def decode_media(df: DataFrame, *, payload_col: str = "payload") -> DataFrame:
    """Decode: payload → (width, height, channels) via ``mapInPandas``,
    with the deterministic digest-derived stub decoder, which keeps the
    plumbing testable and SQL-oracle-reproducible."""
    out_schema = ", ".join(f"{c} {t}" for c, t in _schema_of(df).items()) + ", width int, height int, channels int"
    passthrough = [c for c in df.columns]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_fake_decode(bytes(b)) for b in pdf[payload_col]]
            res = pdf[passthrough].copy()
            res["width"] = [d[0] for d in decoded]
            res["height"] = [d[1] for d in decoded]
            res["channels"] = [d[2] for d in decoded]
            yield res

    return df.mapInPandas(_decode, out_schema)


def frame_sample(df: DataFrame, *, payload_col: str = "payload", frame_bytes: int = 64, every: int = 2) -> DataFrame:
    """Frame-sampling stub for video-shaped payloads: split the byte stream
    into fixed-size frames, keep every ``every``-th — pure JVM array ops
    (no Python), one output row per kept frame."""
    # empty-payload guard: floor((0-1)/frame_bytes) = -1 and sequence(0, -1)
    # DESCENDS to [0, -1], which would explode 2 spurious empty frames —
    # an empty payload must yield zero rows
    last_idx = F.floor((F.octet_length(F.col(payload_col)) - 1) / frame_bytes).cast("int")
    frames = F.when(
        F.octet_length(F.col(payload_col)) > 0,
        F.transform(
            F.sequence(F.lit(0), last_idx),
            lambda i: F.substring(F.col(payload_col), (i * frame_bytes + 1).cast("int"), frame_bytes),
        ),
    ).otherwise(F.array().cast("array<binary>"))
    kept = F.filter(frames, lambda fr, i: i % every == F.lit(0))
    return df.withColumn("frame", F.explode(kept)).withColumn(
        "frame_meta",
        F.struct(
            F.octet_length("frame").cast("bigint").alias("n_bytes"),
            F.md5(F.col("frame").cast("binary")).alias("fingerprint"),
        ),
    )


def _schema_of(df: DataFrame) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


PHASH_BITS = 60


def _fake_pixels(blob: bytes) -> list[int]:
    """Deterministic 8×8 grayscale stand-in (two chained sha256 digests →
    64 byte values). A real build replaces this with
    ``PIL.Image.open(...).convert("L").resize((8, 8)).getdata()``."""
    d1 = hashlib.sha256(blob).digest()
    d2 = hashlib.sha256(d1).digest()
    return list(d1 + d2)


def perceptual_hash(df: DataFrame, *, payload_col: str = "payload", out_col: str = "phash") -> DataFrame:
    """Average-hash (aHash) perceptual image signature → 60-bit long.

    The published image-dedup primitive: downsample to an 8×8 grayscale
    grid, set bit i iff pixel i exceeds the grid mean (mean over all 64;
    bits from the first ``PHASH_BITS`` pixels so the hash packs in a
    signed 64-bit long, matching the engine's 60-bit SimHash convention).
    Visually-near images differ in few bits → feed
    ``dedup.hamming_blocked_pairs`` for corpus-scale image dedup, the
    exact machinery text SimHash uses.

    Decode follows the module contract: the 8×8 grid is the deterministic
    digest-derived ``_fake_pixels``.
    """
    schema = ", ".join(f"{c} {t}" for c, t in _schema_of(df).items()) + f", {out_col} bigint"

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for b in pdf[payload_col]:
                px = _fake_pixels(bytes(b))
                mean = sum(px) / len(px)
                h = 0
                for i in range(PHASH_BITS):
                    if px[i] > mean:
                        h |= 1 << i
                out.append(h)
            res = pdf.copy()
            res[out_col] = out
            yield res

    return df.mapInPandas(_hash, schema)


def video_neardup_pairs(
    df: DataFrame,
    id_col: str,
    *,
    payload_col: str = "payload",
    frame_bytes: int = 64,
    every: int = 2,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Video near-dup via sampled-frame fingerprint Jaccard —
    (id_a, id_b, jaccard).

    The published keyframe-dedup shape: sample frames
    (:func:`frame_sample`), fingerprint each (md5 of the frame bytes —
    pure JVM, already emitted as ``frame_meta.fingerprint``), and score
    video pairs by exact Jaccard over their DISTINCT frame-fingerprint
    sets — two clips sharing most frames (re-encodes, trims, re-uploads
    with a new intro) score high even though their byte streams differ.
    Shared machinery: fingerprints fold to 60-bit longs and run through
    ``dedup.key_jaccard_pairs`` (the d03 inverted index — one narrow-key
    equi shuffle, Σ df² candidates, ``max_df`` hot-frame cap for
    boilerplate frames like black/intro cards).

    Unlike image aHash (mm04) / audio chroma (mm05), NOTHING here is
    stub-decoded: frame splitting and md5 are byte-exact JVM expressions,
    so a SQL oracle can replay the ENTIRE pipeline value-for-value.
    """
    from mlops_pipelines_featurestore_gcp_spark.operators.dedup import key_jaccard_pairs

    hashed = video_frame_hashes(
        df, id_col, payload_col=payload_col, frame_bytes=frame_bytes, every=every
    )
    return key_jaccard_pairs(hashed, id_col, threshold=threshold, max_df=max_df)


def video_frame_hashes(
    df: DataFrame,
    id_col: str,
    *,
    payload_col: str = "payload",
    frame_bytes: int = 64,
    every: int = 2,
    full_frames_only: bool = False,
) -> DataFrame:
    """Distinct 60-bit sampled-frame fingerprints per video —
    ``(id, h)``, the element table both the pair form
    (:func:`video_neardup_pairs`) and the linear keep-best form
    (``dedup.keep_best_by_element_sets``) consume. Pure JVM (frame
    windows + md5), so SQL oracles replay it value-for-value.

    ``full_frames_only=True`` drops the ragged trailing frame (shorter
    than ``frame_bytes``): a few-byte tail is format noise, and a tail
    shared by UNRELATED clips (e.g. a common byte suffix) manufactures
    spurious near-dup edges — at the 10× gate such tails chained
    unrelated cluster groups into one giant component. Dedup callers
    should set it; mm06's pair query predates the flag and keeps the
    tail for oracle continuity (its oracle replays whatever is hashed,
    so it is correctness-neutral there)."""
    from mlops_pipelines_featurestore_gcp_spark.functions.text import md5_long

    frames = frame_sample(df, payload_col=payload_col, frame_bytes=frame_bytes, every=every)
    if full_frames_only:
        frames = frames.where(F.col("frame_meta.n_bytes") == frame_bytes)
    return frames.select(
        F.col(id_col),
        md5_long(F.col("frame_meta.fingerprint"), bits=60).alias("h"),
    ).distinct()


AFP_BITS = 60
_AFP_FRAMES = 6  # chroma frames in the stub decode (need AFP_BITS/12 + 1)


def _fake_chroma(blob: bytes) -> list[list[int]]:
    """Deterministic chroma-gram stand-in: ``_AFP_FRAMES`` frames × 12
    semitone-bin energies, derived from a chained sha256 digest of the
    payload (12 bytes per frame). A real build replaces this with the
    decode → FFT → chroma-fold pipeline (librosa/chromaprint)."""
    frames = []
    d = hashlib.sha256(blob).digest()
    for _ in range(_AFP_FRAMES):
        frames.append(list(d[:12]))
        d = hashlib.sha256(d).digest()
    return frames


def audio_fingerprint(df: DataFrame, *, payload_col: str = "payload", out_col: str = "afp") -> DataFrame:
    """Chromaprint-style audio fingerprint → 60-bit long.

    The published acoustic-fingerprint shape (Chromaprint/AcoustID): decode
    to a per-frame 12-bin chroma energy vector, then take TEMPORAL DELTAS —
    bit (f·12 + s) is set iff bin ``s``'s energy rises from frame ``f`` to
    frame ``f+1``. Energy deltas survive volume/codec changes, which is why
    every published audio fingerprint hashes deltas, not absolute energies.
    5 frame-transitions × 12 bins = 60 bits, matching the engine's SimHash/
    aHash width so ``dedup.hamming_blocked_pairs`` is reused verbatim.

    Codec contract (module docstring): the package ships no audio codec, so
    the chroma stage is the deterministic digest-derived ``_fake_chroma`` —
    SQL-oracle-reproducible and honest about its boundary. The Arrow batch
    flow, schema, and blocking machinery are real.
    """
    schema = ", ".join(f"{c} {t}" for c, t in _schema_of(df).items()) + f", {out_col} bigint"

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for b in pdf[payload_col]:
                ch = _fake_chroma(bytes(b))
                h = 0
                for f in range(len(ch) - 1):
                    for s in range(12):
                        bit = f * 12 + s
                        if bit >= AFP_BITS:
                            break
                        if ch[f + 1][s] > ch[f][s]:
                            h |= 1 << bit
                out.append(h)
            res = pdf.copy()
            res[out_col] = out
            yield res

    return df.mapInPandas(_fp, schema)


def audio_neardup_pairs(
    df: DataFrame,
    id_col: str,
    *,
    payload_col: str = "payload",
    chunks: int = 4,
    max_hamming: int = 8,
) -> DataFrame:
    """Corpus-scale audio near-dup: chromaprint-style fingerprint + hamming
    chunk blocking — (id_a, id_b, hamming). The audio twin of
    :func:`image_neardup_pairs`, sharing ``dedup.hamming_blocked_pairs``."""
    from mlops_pipelines_featurestore_gcp_spark.operators.dedup import hamming_blocked_pairs

    sig = audio_fingerprint(df, payload_col=payload_col)
    return hamming_blocked_pairs(
        sig.select(id_col, "afp"), id_col, "afp",
        bits=AFP_BITS, chunks=chunks, max_hamming=max_hamming,
    )


def image_neardup_pairs(
    df: DataFrame,
    id_col: str,
    *,
    payload_col: str = "payload",
    chunks: int = 4,
    max_hamming: int = 8,
) -> DataFrame:
    """Corpus-scale image near-dup: perceptual hash + hamming chunk
    blocking — (id_a, id_b, hamming). The multimodal twin of text
    SimHash dedup."""
    from mlops_pipelines_featurestore_gcp_spark.operators.dedup import hamming_blocked_pairs

    sig = perceptual_hash(df, payload_col=payload_col)
    return hamming_blocked_pairs(
        sig.select(id_col, "phash"), id_col, "phash",
        bits=PHASH_BITS, chunks=chunks, max_hamming=max_hamming,
    )
