"""Hypothesis property tests for the pure-Python pieces (no JVM): the
TFRecord/Example codec round-trips arbitrary typed payloads, framing
round-trips arbitrary record lists, and the MinHash coefficient family is
deterministic and well-formed."""

from __future__ import annotations

import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from mlops_pipelines_featurestore_gcp_spark.operators.dedup import MINHASH_PRIME, minhash_coeffs
from mlops_pipelines_featurestore_gcp_spark.sources import tfrecord as tfr

names = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x7F),
    min_size=1,
    max_size=12,
)
int_lists = st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=8)
byte_lists = st.lists(st.binary(max_size=32), max_size=4)


def _f32(x: float) -> float:
    return struct.unpack("<f", struct.pack("<f", x))[0]


float_lists = st.lists(st.floats(allow_nan=False, allow_infinity=False, width=32), max_size=8)
kinded_lists = st.one_of(
    int_lists.map(lambda v: (tfr.INT64_LIST, v)),
    byte_lists.map(lambda v: (tfr.BYTES_LIST, v)),
    float_lists.map(lambda v: (tfr.FLOAT_LIST, v)),
)


@given(st.dictionaries(names, kinded_lists, max_size=6))
@settings(max_examples=200, deadline=None)
def test_example_codec_roundtrip_property(payload):
    features = {k: v for k, (_, v) in payload.items()}
    kinds = {k: kind for k, (kind, _) in payload.items()}
    decoded = tfr.decode_example(tfr.encode_example(features, kinds))
    assert set(decoded) == set(payload)
    for k, (kind, v) in payload.items():
        assert decoded[k] == ([_f32(x) for x in v] if kind == tfr.FLOAT_LIST else v)


@given(st.lists(st.binary(max_size=256), max_size=16))
@settings(max_examples=100, deadline=None)
def test_framing_roundtrip_property(records):
    assert list(tfr.unframe_records(tfr.frame_records(records))) == records


def test_minhash_coeffs_deterministic_and_valid():
    c1, c2 = minhash_coeffs(64), minhash_coeffs(64)
    assert c1 == c2
    assert len(set(c1)) == 64
    for a, b in c1:
        assert 1 <= a < MINHASH_PRIME
        assert 0 <= b < MINHASH_PRIME


# --- binned range join: bin width can never change the answer -------------

@given(
    st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=30),
    st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),
            st.integers(min_value=0, max_value=300),
        ),
        min_size=1,
        max_size=10,
    ),
    st.integers(min_value=1, max_value=500),
)
@settings(max_examples=12, deadline=None)
def test_binned_range_join_width_invariance(points, intervals, width):
    """Any bin width produces exactly the naive containment answer."""
    import tests.conftest as _c
    from mlops_pipelines_featurestore_gcp_spark import get_spark
    from mlops_pipelines_featurestore_gcp_spark.operators.range_join import binned_range_join

    spark = get_spark("tests")
    p = spark.createDataFrame([(i, x) for i, x in enumerate(points)], "pid long, x long")
    iv = spark.createDataFrame(
        [(j, s, s + span) for j, (s, span) in enumerate(intervals)], "iid long, s long, e long"
    )
    got = {
        (r.pid, r.iid)
        for r in binned_range_join(
            p, iv, point_col="x", start_col="s", end_col="e", bin_width=width
        ).collect()
    }
    expect = {
        (i, j)
        for i, x in enumerate(points)
        for j, (s, span) in enumerate(intervals)
        if s <= x <= s + span
    }
    assert got == expect


# --- round6: cross-engine determinism by construction ---------------------

@given(st.floats(min_value=0.0, max_value=1e6, allow_nan=False, allow_infinity=False))
@settings(max_examples=300, deadline=None)
def test_round6_matches_python_floor_form(x):
    """The Spark/SQL floor construction equals the same fold in Python on
    the identical double — the property that makes it engine-portable."""
    import math

    expect = math.floor(x * 1_000_000.0 + 0.5) / 1_000_000.0
    # DuckDB evaluates the identical expression
    import duckdb

    # CAST: a bare literal parses as DECIMAL; oracle queries always feed
    # computed DOUBLE columns into the fold
    got = duckdb.sql(
        f"SELECT floor(CAST({x!r} AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0"
    ).fetchone()[0]
    assert got == expect
