"""Correctness checks. Each compares what the program returned with an
answer computed from the generated inputs with numpy/pandas — never with
Spark — and returns True when they agree. A False counts the op as failed.

Rows arrive as plain dicts (``Row.asDict()``), so these functions run and
are unit-tested without a SparkSession.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd


def expected_latest(frames: list[pd.DataFrame]) -> dict[str, np.ndarray]:
    """Latest value per (entity, feature) after importing ``frames`` in
    order, each at a later feature time than the one before. Entity ids are
    ``0..n-1``, so the answer is one string array per feature, indexed by
    id; a later frame overwrites the rows it names."""
    n = len(frames[0])
    out: dict[str, np.ndarray] = {}
    for f in frames[0].columns.drop("entity_id"):
        col = np.empty(n, dtype=object)
        for fr in frames:
            col[fr["entity_id"].to_numpy()] = fr[f].astype(str).to_numpy()
        out[f] = col
    return out


def check_lookup(rows: list[dict], keys: list[int], expected: dict[str, np.ndarray]) -> bool:
    """One row per distinct requested key, each carrying that key's latest
    value for every feature."""
    want = {str(k) for k in keys}
    got = {r["entity_id"] for r in rows}
    if len(rows) != len(want) or got != want:
        return False
    return all(r[f] == col[int(r["entity_id"])] for r in rows for f, col in expected.items())


def predicted_actions(model_path: str, obs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LinUCB arm choice recomputed from the saved artifact: argmax over
    arms of ``x·θ_a + α √(xᵀ A_a⁻¹ x)``. Also returns the gap between the
    best and second-best score, so near-ties can be told apart."""
    with open(model_path) as fh:
        m = json.load(fh)
    theta, a_inv, alpha = np.asarray(m["theta"]), np.asarray(m["a_inv"]), m["alpha"]
    mean = obs @ theta.T
    var = np.einsum("ij,ajk,ik->ia", obs, a_inv, obs)
    scores = mean + alpha * np.sqrt(np.maximum(var, 0.0))
    top2 = np.sort(scores, axis=1)[:, -2:]
    return scores.argmax(axis=1), top2[:, 1] - top2[:, 0]


def check_predictions(got: np.ndarray, want: np.ndarray, gap: np.ndarray, tol: float = 1e-9) -> bool:
    """Served actions equal the recomputed ones, except where two arms tie
    within ``tol`` (the argmax there depends on summation order)."""
    return bool(np.all((got == want) | (gap <= tol)))


def check_sink(sink_ids: list[str], published: set[str]) -> bool:
    """The sink holds each distinct published message id exactly once."""
    return len(sink_ids) == len(published) and set(sink_ids) == published


def check_rewards(
    rows: list[dict], obs: np.ndarray, slots: dict[str, np.ndarray], actions: np.ndarray, factors: dict[int, np.ndarray]
) -> bool:
    """Each sampled sink row's rewards equal ``dot(obs, item_factor[action])``
    for its slots (0 for an action with no item factor), in slot order."""
    k = obs.shape[1]
    for r in rows:
        idx = slots[r["message_id"]]
        if list(r["action"]) != actions[idx].tolist():
            return False
        want = [float(obs[i] @ factors.get(int(actions[i]), np.zeros(k))) for i in idx]
        if not np.allclose(r["reward"], want, rtol=1e-9, atol=1e-12):
            return False
    return True


def expected_fresh(new: pd.DataFrame, entity: str) -> dict[str, dict[str, str]]:
    """Latest value per user and feature after importing ``new`` in one
    batch: every row shares one feature time, so the store's tie-break
    (largest value wins) decides — the string maximum."""
    feats = [c for c in new.columns if c != entity]
    return new.groupby(entity)[feats].max().to_dict(orient="index")


def check_fresh(rows: list[dict], expected: dict[str, dict[str, str]]) -> bool:
    """The online store serves every user of the batch with the batch's
    latest values."""
    got = {r["entity_id"]: r for r in rows}
    if set(got) != set(expected):
        return False
    return all(got[u][f] == v for u, feats in expected.items() for f, v in feats.items())
