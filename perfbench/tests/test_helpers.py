"""Unit tests for the benchmark's own helpers; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
from tracing import Span, Tracer  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


# -- names ---------------------------------------------------------------------


def test_benchmark_names_and_units_are_valid():
    with open(BENCHMARK) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(stats.valid_name(n) for n in names)
    assert all(stats.valid_unit(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])


@pytest.mark.parametrize("name", ["", "-lead", ".lead", "has space", "a/b", "x" * 65, "p95%"])
def test_invalid_names_are_rejected(name):
    assert not stats.valid_name(name)


def test_result_line_rejects_bad_metrics():
    with pytest.raises(ValueError):
        stats.result_line(correct=True, attempted=1, failed=0, metrics={"bad name": (1.0, "s")})
    with pytest.raises(ValueError):
        stats.result_line(correct=True, attempted=1, failed=0, metrics={"x": (math.nan, "s")})
    line = stats.result_line(correct=True, attempted=3, failed=0, metrics={"x_ms": (1.5, "ms")})
    assert line == {"correct": True, "attempted": 3, "failed": 0, "metrics": {"x_ms": {"value": 1.5, "unit": "ms"}}}


# -- percentiles -----------------------------------------------------------------


def test_p95_needs_ten_samples_beyond_it():
    assert stats.samples_beyond(200, 95) == 10
    assert stats.has_percentile(200, 95)
    assert not stats.has_percentile(199, 95)
    assert stats.has_percentile(20, 50)
    assert not stats.has_percentile(19, 50)


def test_percentile_matches_numpy():
    xs = list(np.random.default_rng(0).random(37))
    for p in (0, 50, 90, 95, 100):
        assert stats.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


# -- spans -----------------------------------------------------------------------


def _span(sid, start, end, parent=None, name="feature_store.x"):
    return Span(sid, name, start, end, parent, "op-0")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, 0.0, 10.0, name="bench.cycle"),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 6.0, 0, name="ml.x"),  # overlaps span 1: covered is 1..6
        _span(3, 1.0, 2.0, 1, name="sources.x"),
        _span(4, 9.0, 12.0, 0),  # runs past its parent: clipped to 9..10
    ]
    own = stats.self_times(spans)
    assert own == pytest.approx({0: 10 - 5 - 1, 1: 3 - 1, 2: 3, 3: 1, 4: 3})


def test_tracer_records_patched_calls_and_restores_them():
    class Layer:
        def call(self, x):
            return x + 1

    tr = Tracer(enabled=True)
    tr.patch(Layer, "call", "feature_store.call")
    tr.op = "op-0"
    with tr.span("bench.lookup"):
        assert Layer().call(1) == 2
    tr.unpatch()
    Layer().call(1)
    assert [(s.name, s.parent) for s in tr.spans] == [("bench.lookup", None), ("feature_store.call", 0)]
    own = tr.self_by_layer(op_prefix="op-")
    total = tr.spans[0].end - tr.spans[0].start
    assert own["bench"] + own["feature_store"] == pytest.approx(total)


def test_untraced_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("bench.lookup"):
        pass
    assert tr.spans == []


# -- correctness checks ------------------------------------------------------------


def _frames():
    return [gen.feature_frame(5).head(50), gen.feature_update(5).head(0)]


def test_lookup_check_passes_on_right_values_and_fails_on_a_wrong_one():
    frame = gen.feature_frame(5)
    update = gen.feature_update(5)
    expected = checks.expected_latest([frame, update])
    key = int(update["entity_id"].iloc[0])
    row = {"entity_id": str(key), **{f: str(update[f].iloc[0]) for f in expected}}
    assert checks.check_lookup([row], [key, key], expected)

    wrong = {f: col.copy() for f, col in expected.items()}
    wrong["f0"][key] = "not-the-value"
    assert not checks.check_lookup([row], [key], wrong)
    assert not checks.check_lookup([row, row], [key], expected)  # duplicate row


def test_sink_reward_and_fresh_checks_fail_on_wrong_data():
    assert checks.check_sink(["a", "b"], {"a", "b"})
    assert not checks.check_sink(["a", "b", "b"], {"a", "b"})

    obs = gen.observations(1, 0)
    mb = gen.message_batch(1, 0)
    factors = {i + 1: v for i, v in enumerate(gen.item_factors(1))}
    actions = np.arange(len(obs)) % gen.NUM_ACTIONS
    slots = dict(zip(mb.ids, mb.slots))
    mid = mb.ids[0]
    reward = [float(obs[i] @ factors.get(int(actions[i]), np.zeros(gen.RANK_K))) for i in slots[mid]]
    row = {"message_id": mid, "action": actions[slots[mid]].tolist(), "reward": reward}
    assert checks.check_rewards([row], obs, slots, actions, factors)
    assert not checks.check_rewards([{**row, "reward": [r + 1e-3 for r in reward]}], obs, slots, actions, factors)

    new = gen.new_ratings(1, 0)
    want = checks.expected_fresh(new, "user_id")
    rows = [{"entity_id": u, **v} for u, v in want.items()]
    assert checks.check_fresh(rows, want)
    rows[0] = {**rows[0], "rating": "0"}
    assert not checks.check_fresh(rows, want)


def test_prediction_check_tolerates_only_ties():
    want, gap = np.array([1, 2, 3]), np.array([0.5, 0.0, 0.5])
    assert checks.check_predictions(np.array([1, 7, 3]), want, gap)
    assert not checks.check_predictions(np.array([1, 2, 4]), want, gap)


# -- generators ------------------------------------------------------------------


def _all_inputs(seed):
    mb = gen.message_batch(seed, 2)
    return gen.digest(
        gen.feature_frame(seed),
        gen.feature_update(seed),
        gen.lookup_stream(seed),
        gen.ratings(seed),
        gen.new_ratings(seed, 2),
        gen.observations(seed, 2),
        gen.item_factors(seed),
        *gen.initial_policy(seed),
        mb.ids,
        mb.slots,
        mb.redelivered,
    )


def test_same_seed_gives_byte_identical_inputs():
    assert _all_inputs(3) == _all_inputs(3)
    assert _all_inputs(3) != _all_inputs(4)


def test_generated_shapes():
    r = gen.ratings(1)
    assert len(r) == gen.ML_RATINGS
    assert r["user_id"].between(1, gen.ML_USERS).all() and r["item_id"].between(1, gen.ML_ITEMS).all()
    assert r.groupby("user_id").size().min() >= 20
    mb = gen.message_batch(1, 0)
    assert len(mb.redelivered) == round(gen.REDELIVERY_SHARE * len(mb.ids))
    stream = gen.lookup_stream(1)
    assert {len(k) for k in stream} == {1, gen.MULTI_KEYS}
