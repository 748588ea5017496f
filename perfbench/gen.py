"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed`` (and, for per-cycle inputs,
the cycle number): the same seed yields byte-identical frames and arrays.
Each input draws from its own ``numpy`` stream (``_rng(seed, tag)``), so
adding a new input never shifts the values of an existing one.

The program under test receives only what these functions produce; the
expected answers the correctness checks compare against are computed from
the same arrays with numpy/pandas (``checks.py``), never with Spark.
"""

from __future__ import annotations

import hashlib
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

# online_lookup: a 20k-entity × 8-feature frame, then a later import that
# rewrites 10% of the entities; Zipf(1.1) keys. Every fifth op (20%) asks
# for 32 keys: a fixed pattern, so every run's latency median sees the same
# mix of op sizes whatever the seed.
ENTITIES, FEATURES, UPDATE_SHARE = 20_000, 8, 0.1
ZIPF_A, MULTI_EVERY, MULTI_KEYS = 1.1, 5, 32
LOOKUP_OPS = 8192  # longer than any run can use

# feedback_loop: MovieLens-100k shape (FIXTURES.md §1).
ML_USERS, ML_ITEMS, ML_RATINGS = 943, 1682, 100_000
ML_TS_LO, ML_TS_HI = 874_724_710, 893_286_638
NEW_RATINGS = 2000
OBSERVATIONS, RANK_K, BATCH_SIZE, REDELIVERY_SHARE = 4096, 20, 8, 0.1
NUM_ACTIONS = 20  # PipelineConfig's default arm count


def _rng(seed: int, tag: str, *extra: int) -> np.random.Generator:
    """Independent stream per (seed, input tag, extra indices)."""
    key = [seed, zlib.crc32(tag.encode()), *extra]
    return np.random.default_rng(np.random.SeedSequence(key))


def zipf_ranks(rng: np.random.Generator, n: int, n_keys: int, a: float = ZIPF_A) -> np.ndarray:
    """``n`` Zipf(a) ranks in ``[0, n_keys)`` (draws beyond the key space are
    redrawn, so the head keeps its Zipf shape)."""
    out = np.empty(0, dtype=np.int64)
    while out.size < n:
        z = rng.zipf(a, size=2 * (n - out.size)) - 1
        out = np.concatenate([out, z[z < n_keys]])
    return out[:n]


# ---------------------------------------------------------------------------
# online_lookup
# ---------------------------------------------------------------------------


def _features(rng: np.random.Generator, ids: np.ndarray) -> pd.DataFrame:
    """``entity_id`` plus ``f0..f7``. Even features are int64, odd ones
    fixed-point strings: both have one canonical string form, so the value
    the store serves is ``str(v)`` whatever Spark's double formatting."""
    cols: dict[str, np.ndarray] = {"entity_id": ids.astype(np.int64)}
    for j in range(FEATURES):
        if j % 2 == 0:
            cols[f"f{j}"] = rng.integers(-1_000_000, 1_000_000, ids.size, dtype=np.int64)
        else:
            cents = rng.integers(0, 10_000_000, ids.size)
            cols[f"f{j}"] = np.array([f"{c / 100:.2f}" for c in cents], dtype=object)
    return pd.DataFrame(cols)


def feature_frame(seed: int) -> pd.DataFrame:
    """The first import: every entity, one value per feature."""
    return _features(_rng(seed, "feature_frame"), np.arange(ENTITIES))


def feature_update(seed: int) -> pd.DataFrame:
    """The second, later import: fresh values for a seeded 10% of entities."""
    rng = _rng(seed, "feature_update")
    ids = np.sort(rng.choice(ENTITIES, int(ENTITIES * UPDATE_SHARE), replace=False))
    return _features(rng, ids)


def lookup_stream(seed: int) -> list[list[int]]:
    """The closed-loop client's request list: each op is a list of entity
    ids; every ``MULTI_EVERY``-th op asks for ``MULTI_KEYS`` keys, the rest
    for one. Key popularity is Zipf(1.1) over a seeded permutation of ids,
    so the hot keys differ per seed."""
    rng = _rng(seed, "lookup_stream")
    perm = rng.permutation(ENTITIES)
    sizes = np.where(np.arange(LOOKUP_OPS) % MULTI_EVERY == MULTI_EVERY - 1, MULTI_KEYS, 1)
    keys = perm[zipf_ranks(rng, int(sizes.sum()), ENTITIES)]
    bounds = np.concatenate([[0], np.cumsum(sizes)])
    return [keys[bounds[i] : bounds[i + 1]].tolist() for i in range(LOOKUP_OPS)]


# ---------------------------------------------------------------------------
# feedback_loop
# ---------------------------------------------------------------------------


def ratings(seed: int) -> pd.DataFrame:
    """MovieLens-shaped ratings: every user has ≥ 20 ratings, item
    popularity is Zipf-skewed, ratings lean to 3–4, timestamps span the
    reference's 7-month window. Columns are int64."""
    rng = _rng(seed, "ratings")
    base = np.repeat(np.arange(1, ML_USERS + 1), 20)
    extra = 1 + zipf_ranks(rng, ML_RATINGS - base.size, ML_USERS, a=1.3)
    return pd.DataFrame(
        {
            "user_id": np.concatenate([base, extra]),
            "item_id": 1 + zipf_ranks(rng, ML_RATINGS, ML_ITEMS, a=1.2),
            "rating": rng.choice([1, 2, 3, 4, 5], ML_RATINGS, p=[0.06, 0.11, 0.27, 0.34, 0.22]),
            "timestamp": rng.integers(ML_TS_LO, ML_TS_HI + 1, ML_RATINGS),
        }
    )


def write_u_data(df: pd.DataFrame, path: str) -> None:
    """Tab-separated, no header — the ``u.data`` wire format."""
    df.to_csv(path, sep="\t", header=False, index=False, lineterminator="\n")


def new_ratings(seed: int, cycle: int) -> pd.DataFrame:
    """One feedback cycle's fresh ratings for Zipf-chosen users. Columns
    are strings, like the all-STRING raw table the store was seeded from."""
    rng = _rng(seed, "new_ratings", cycle)
    users = 1 + zipf_ranks(rng, NEW_RATINGS, ML_USERS)
    return pd.DataFrame(
        {
            "user_id": users.astype(str),
            "item_id": rng.integers(1, ML_ITEMS + 1, NEW_RATINGS).astype(str),
            "rating": rng.integers(1, 6, NEW_RATINGS).astype(str),
            "timestamp": rng.integers(ML_TS_HI, ML_TS_HI + 10_000_000, NEW_RATINGS).astype(str),
        }
    )


def item_factors(seed: int) -> np.ndarray:
    """Rank-k item factors the log loop enriches rewards with; row ``i``
    belongs to item ``i + 1``."""
    return _rng(seed, "item_factors").normal(0.0, 0.5, (ML_ITEMS, RANK_K))


def observations(seed: int, cycle: int) -> np.ndarray:
    """Prediction requests: rank-k user vectors (float64)."""
    return _rng(seed, "observations", cycle).normal(0.0, 0.5, (OBSERVATIONS, RANK_K))


def initial_policy(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """The policy the first cycle serves with: per-arm ``theta`` (arms × k)
    and ``A⁻¹`` (arms × k × k, the prior's identity)."""
    theta = _rng(seed, "initial_policy").normal(0.0, 0.1, (NUM_ACTIONS, RANK_K))
    return theta, np.broadcast_to(np.eye(RANK_K), (NUM_ACTIONS, RANK_K, RANK_K)).copy()


@dataclass(frozen=True)
class MessageBatch:
    """Which observation rows form each message, and which messages the
    at-least-once queue delivers twice."""

    ids: list[str]
    slots: np.ndarray  # (n_messages, BATCH_SIZE) row indices into the observations
    redelivered: np.ndarray  # message indices published a second time


def message_batch(seed: int, cycle: int) -> MessageBatch:
    rng = _rng(seed, "messages", cycle)
    n_msg = OBSERVATIONS // BATCH_SIZE
    slots = rng.permutation(OBSERVATIONS).reshape(n_msg, BATCH_SIZE)
    redelivered = np.sort(rng.choice(n_msg, int(round(REDELIVERY_SHARE * n_msg)), replace=False))
    return MessageBatch([f"c{cycle:04d}-m{j:05d}" for j in range(n_msg)], slots, redelivered)


# ---------------------------------------------------------------------------


def digest(*arrays) -> str:
    """sha256 over the byte form of generated inputs (frames, arrays, lists)."""
    h = hashlib.sha256()
    for a in arrays:
        if isinstance(a, pd.DataFrame):
            h.update(a.to_csv(index=False).encode())
        elif isinstance(a, np.ndarray):
            h.update(np.ascontiguousarray(a).tobytes())
        else:
            h.update(repr(a).encode())
    return h.hexdigest()
