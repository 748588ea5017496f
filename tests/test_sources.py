"""Milestone-4 source/sink tests: ratings TSV compat layer (S1/P6),
trajectory NDJSON round-trip at depth-3 nesting (S2/S3/P1/P2), and the
TFRecord codec (S6/S7) — golden-output + property checks per SURVEY.md §5.2."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mlops_pipelines_featurestore_gcp_spark.sources import ratings as rat
from mlops_pipelines_featurestore_gcp_spark.sources import tfrecord as tfr
from mlops_pipelines_featurestore_gcp_spark.sources import trajectories as traj


@pytest.fixture
def udata_path(tmp_path):
    rows = [
        "196\t242\t3\t881250949",
        "186\t302\t3\t891717742",
        "22\t377\t1\t878887116",
    ]
    p = tmp_path / "u.data"
    p.write_text("\n".join(rows) + "\n")
    return str(p)


def test_ratings_load_all_string(spark, udata_path):
    df = rat.load_ratings_tsv(spark, udata_path)
    assert [f.dataType for f in df.schema.fields] == [T.StringType()] * 4
    assert df.columns == list(rat.RAW_COLUMNS)
    assert df.count() == 3
    first = df.orderBy("timestamp").first()
    assert (first.user_id, first.item_id, first.rating) == ("22", "377", "1")


def test_ratings_compat_swap_reproduces_reference_bug(spark, udata_path):
    df = rat.load_ratings_tsv(spark, udata_path, compat_swap=True)
    assert df.columns[:2] == ["item_id", "user_id"]
    row = df.where(F.col("user_id") == "242").first()  # swapped: file col2 lands in user_id
    assert row.item_id == "196"


def test_ratings_typed_view(spark, udata_path):
    typed = rat.typed_view(rat.load_ratings_tsv(spark, udata_path))
    assert dict((f.name, f.dataType) for f in typed.schema.fields) == {
        "user_id": T.IntegerType(),
        "item_id": T.IntegerType(),
        "rating": T.IntegerType(),
        "ts": T.TimestampType(),
    }
    assert typed.agg(F.sum("rating")).first()[0] == 7


def test_ratings_truncate_overwrite(spark, udata_path, tmp_path):
    out = str(tmp_path / "ratings_tbl")
    df = rat.load_ratings_tsv(spark, udata_path)
    rat.save_ratings_table(df, out)
    rat.save_ratings_table(df.limit(2), out)  # WRITE_TRUNCATE, not append
    assert spark.read.parquet(out).count() == 2


TRAJ_ROWS = [
    {
        "step_type": [0, 1],
        "observation": [
            {"observation_batch": [1.0, 2.0]},
            {"observation_batch": [3.0, 4.0]},
        ],
        "action": [5, 7],
        "policy_info": [0.5],
        "next_step_type": [1, 1],
        "reward": [0.0, 1.5],
        "discount": [1.0, 1.0],
    }
]


def _traj_df(spark):
    return spark.createDataFrame(TRAJ_ROWS, traj.TRAJECTORY_SCHEMA)


def test_trajectory_ndjson_roundtrip(spark, tmp_path):
    p = str(tmp_path / "traj_json")
    traj.write_trajectories_ndjson(_traj_df(spark), p)
    back = traj.read_trajectories_ndjson(spark, p)
    assert back.schema == traj.TRAJECTORY_SCHEMA
    row = back.first()
    assert row.observation[1].observation_batch == [3.0, 4.0]
    assert row.action == [5, 7]


def test_trajectory_append_is_union(spark, tmp_path):
    p = str(tmp_path / "traj_tbl")
    df = _traj_df(spark)
    traj.write_trajectories_table(df, p, mode="overwrite")
    traj.write_trajectories_table(df, p, mode="append")  # S3 WRITE_APPEND
    assert spark.read.parquet(p).count() == 2


def test_flatten_wrap_inverse(spark):
    df = _traj_df(spark)
    flat = traj.flatten_observations(df)
    assert flat.first().observation == [[1.0, 2.0], [3.0, 4.0]]
    back = traj.wrap_observations(flat)
    assert back.schema == df.schema
    assert back.first().observation == df.first().observation


def test_example_codec_roundtrip():
    row = {
        "step_type": [0, 1, 2],
        "reward": [0.5, 1.5],
        "name": [b"policy-a"],
        "blob": [b"\x00\x01"],
    }
    kinds = {"step_type": tfr.INT64_LIST, "reward": tfr.FLOAT_LIST, "name": tfr.BYTES_LIST, "blob": tfr.BYTES_LIST}
    ex = tfr.encode_example(row, kinds)
    got = tfr.decode_example(ex)
    assert got["step_type"] == [0, 1, 2]
    assert got["reward"] == [0.5, 1.5]
    assert got["name"] == [b"policy-a"]
    assert got["blob"] == [b"\x00\x01"]


def test_example_codec_negative_ints():
    got = tfr.decode_example(tfr.encode_example({"x": [-1, -(2**40), 3]}, {"x": tfr.INT64_LIST}))
    assert got["x"] == [-1, -(2**40), 3]


def test_example_decodes_unpacked_int64_and_float_lists():
    """Protobuf writers may emit a repeated scalar unpacked, one tagged
    value after another (wire type 0 for an Int64List, 5 for a FloatList);
    such an Example decodes to the same lists as the packed form."""
    # Int64List {value: 5, value: 7}, unpacked: tag 0x08 before each varint
    ints = b"\x1a\x04" + b"\x08\x05\x08\x07"  # Feature.int64_list (field 3)
    # FloatList {value: 1.5, value: -2.0}, unpacked: tag 0x0d before each float32
    floats = b"\x12\x0a" + b"\x0d\x00\x00\xc0\x3f" + b"\x0d\x00\x00\x00\xc0"  # Feature.float_list (field 2)

    def example(*entries):
        body = b"".join(b"\x0a" + bytes([len(e)]) + e for e in entries)  # Features.feature map entries
        return b"\x0a" + bytes([len(body)]) + body  # Example.features

    def entry(key: bytes, feature: bytes) -> bytes:
        return b"\x0a" + bytes([len(key)]) + key + b"\x12" + bytes([len(feature)]) + feature

    assert tfr.decode_example(example(entry(b"x", ints))) == {"x": [5, 7]}
    assert tfr.decode_example(example(entry(b"y", floats))) == {"y": [1.5, -2.0]}
    both = tfr.decode_example(example(entry(b"x", ints), entry(b"y", floats)))
    assert both == {"x": [5, 7], "y": [1.5, -2.0]}
    packed = tfr.encode_example({"x": [5, 7], "y": [1.5, -2.0]}, {"x": tfr.INT64_LIST, "y": tfr.FLOAT_LIST})
    assert tfr.decode_example(packed) == both


def test_tfrecord_framing_roundtrip_and_crc():
    recs = [b"alpha", b"", b"gamma" * 100]
    framed = tfr.frame_records(recs)
    assert list(tfr.unframe_records(framed)) == recs
    corrupted = bytearray(framed)
    corrupted[8] ^= 0xFF  # flip a length-crc byte
    with pytest.raises(ValueError, match="corrupt"):
        list(tfr.unframe_records(bytes(corrupted)))
    corrupted = bytearray(framed)
    corrupted[14] ^= 0xFF  # flip a data byte of the first record
    with pytest.raises(ValueError, match="corrupt TFRecord data crc"):
        list(tfr.unframe_records(bytes(corrupted)))
    for cut in (10, 4, len(framed) - 3):  # into the last record, its crc, a header
        with pytest.raises(ValueError, match="truncated"):
            list(tfr.unframe_records(framed[:-cut]))


def test_tfrecord_df_roundtrip(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("step_type", T.LongType()),
            T.StructField("reward", T.ArrayType(T.DoubleType())),
            T.StructField("label", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(i, [float(i), float(i) * 0.5], f"row{i}") for i in range(20)], schema
    ).repartition(3)
    out = str(tmp_path / "tfr")
    tfr.write_tfrecords(df, out)
    back = tfr.read_tfrecords(spark, out, schema)
    assert back.count() == 20
    got = {r.step_type: (r.reward, r.label) for r in back.collect()}
    assert got[7] == ([7.0, 3.5], "row7")


def test_tfrecord_long_column_with_null_stays_int64(spark, tmp_path):
    """A ``long`` column with a NULL is written by its type: the NULL is
    left out, the rest stay Int64List, and a value above 2**53 round-trips
    exactly."""
    schema = "id long, label string"
    ok = spark.createDataFrame([(1, "x"), (None, "y"), (2**53, "z")], schema).coalesce(1)
    out = str(tmp_path / "ok")
    tfr.write_tfrecords(ok, out)
    back = tfr.read_tfrecords(spark, out, ok.schema)
    assert sorted(map(tuple, back.collect()), key=lambda r: r[1]) == [(1, "x"), (None, "y"), (2**53, "z")]
    (name,) = [f for f in os.listdir(out) if f.endswith(".tfrecord")]
    with open(os.path.join(out, name), "rb") as f:
        examples = [tfr.decode_example(rec) for rec in tfr.unframe_records(f.read())]
    assert [ex.get("id") for ex in examples] == [[1], None, [2**53]]  # Int64List, not FloatList

    big = spark.createDataFrame([(1, "x"), (None, "y"), (2**60 + 1, "z")], schema).coalesce(1)
    tfr.write_tfrecords(big, str(tmp_path / "big"))
    back = tfr.read_tfrecords(spark, str(tmp_path / "big"), big.schema)
    assert sorted(map(tuple, back.collect()), key=lambda r: r[1]) == [(1, "x"), (None, "y"), (2**60 + 1, "z")]


def test_tfrecord_long_array_with_null_element_stays_int64(spark, tmp_path):
    """An ``array<long>`` column with a NULL element is written by its
    type: the NULL element is left out, the rest stay Int64List, a NULL
    array is left out of its Example, and an element above 2**53
    round-trips exactly."""
    schema = "ids array<long>, label string"
    ok = spark.createDataFrame([([1, None], "x"), ([2**53], "y"), (None, "z")], schema).coalesce(1)
    out = str(tmp_path / "ok")
    tfr.write_tfrecords(ok, out)
    back = tfr.read_tfrecords(spark, out, ok.schema)
    assert sorted(map(tuple, back.collect()), key=lambda r: r[1]) == [([1], "x"), ([2**53], "y"), ([], "z")]
    (name,) = [f for f in os.listdir(out) if f.endswith(".tfrecord")]
    with open(os.path.join(out, name), "rb") as f:
        examples = [tfr.decode_example(rec) for rec in tfr.unframe_records(f.read())]
    assert [ex.get("ids") for ex in examples] == [[1], [2**53], None]  # Int64List, not FloatList

    exact = spark.createDataFrame([([2**60 + 1], "x")], schema).coalesce(1)
    tfr.write_tfrecords(exact, str(tmp_path / "exact"))
    assert [r.ids for r in tfr.read_tfrecords(spark, str(tmp_path / "exact"), exact.schema).collect()] == [[2**60 + 1]]

    big = spark.createDataFrame([([1, None], "x"), ([2**60 + 1], "y")], schema).coalesce(1)
    tfr.write_tfrecords(big, str(tmp_path / "big"))
    back = tfr.read_tfrecords(spark, str(tmp_path / "big"), big.schema)
    assert sorted(map(tuple, back.collect()), key=lambda r: r[1]) == [([1], "x"), ([2**60 + 1], "y")]


def test_read_tfrecords_keeps_large_longs_beside_a_missing_feature(spark, tmp_path):
    """A record without a feature reads as NULL there and leaves the long
    above 2**53 in the next record exact."""
    kinds = {"x": tfr.INT64_LIST, "s": tfr.BYTES_LIST}
    records = [tfr.encode_example({"s": [b"a"]}, kinds), tfr.encode_example({"x": [2**60 + 1], "s": [b"b"]}, kinds)]
    (tmp_path / "part-00000.tfrecord").write_bytes(tfr.frame_records(records))
    back = tfr.read_tfrecords(spark, str(tmp_path), T.StructType.fromDDL("x long, s string"))
    assert sorted(map(tuple, back.collect()), key=lambda r: r[1]) == [(None, "a"), (2**60 + 1, "b")]


def test_tfrecord_empty_arrays_take_their_column_kind(spark, tmp_path):
    """An empty array is written as the list kind of its column's element
    type, not a guessed one."""
    df = spark.createDataFrame([([], [], [], "x")], "f array<double>, s array<string>, i array<long>, label string")
    out = str(tmp_path / "out")
    tfr.write_tfrecords(df.coalesce(1), out)
    (name,) = [f for f in os.listdir(out) if f.endswith(".tfrecord")]
    (rec,) = tfr.unframe_records((tmp_path / "out" / name).read_bytes())
    kinds = {"f": tfr.FLOAT_LIST, "s": tfr.BYTES_LIST, "i": tfr.INT64_LIST, "label": tfr.BYTES_LIST}
    assert rec == tfr.encode_example({"f": [], "s": [], "i": [], "label": [b"x"]}, kinds)
    assert tfr.read_tfrecords(spark, out, df.schema).collect() == df.collect()


def test_write_tfrecords_runs_one_stage(spark, tmp_path, monkeypatch):
    """The write is forced by collecting each partition's row count: one
    collect, no Exchange."""
    rdd = spark.sparkContext.parallelize([(i, f"r{i}") for i in range(30)], 3)
    df = spark.createDataFrame(rdd, "id long, label string")
    plans = []
    collect = type(df).collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(type(df), "collect", spy)
    out = str(tmp_path / "out")
    tfr.write_tfrecords(df, out)
    assert len(plans) == 1
    assert "MapInArrow" in plans[0] and "Exchange" not in plans[0]
    assert sorted(f for f in os.listdir(out) if f.endswith(".tfrecord")) == [f"part-0000{i}.tfrecord" for i in range(3)]
    monkeypatch.undo()
    assert sorted(r.id for r in tfr.read_tfrecords(spark, out, df.schema).collect()) == list(range(30))


def test_fixture_schemas_match_declared(sf_small):
    """Early drift alarm: the driver regenerates /root/testdata between
    rounds, and a physical-type change (events.ts went int64-ns →
    timestamp[us] in round 3) silently corrupts values when read through a
    stale explicit schema. Compare every parquet footer against SCHEMAS."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mlops_pipelines_featurestore_gcp_spark.sources.catalog import SCHEMAS, TABLE_NAMES

    compatible = {
        "int": {pa.int32()},
        "bigint": {pa.int64()},
        "double": {pa.float64()},
        "float": {pa.float32()},
        "string": {pa.string(), pa.large_string()},
        "timestamp": {pa.timestamp("us"), pa.timestamp("ns"), pa.timestamp("ms")},
    }
    for name in TABLE_NAMES:
        path = f"{sf_small}/{name}.parquet"
        if not os.path.exists(path):
            continue
        physical = {f.name: f.type for f in pq.read_schema(path)}
        for field in SCHEMAS[name]:
            spark_t = field.dataType.simpleString()
            assert field.name in physical, f"{name}.{field.name} missing from fixture"
            actual = physical[field.name]
            if spark_t.startswith("array"):
                assert pa.types.is_list(actual) or pa.types.is_large_list(actual), (name, field.name, actual)
            elif name == "events" and field.name == "ts":
                # legacy int64-ns OR modern timestamp — load_table adapts
                assert pa.types.is_integer(actual) or pa.types.is_timestamp(actual)
            else:
                assert actual in compatible[spark_t], (
                    f"{name}.{field.name}: declared {spark_t}, fixture has {actual} — "
                    "update sources/catalog.py SCHEMAS for the regenerated testdata"
                )


def test_ndjson_corrupt_record_quarantine(spark, tmp_path):
    from mlops_pipelines_featurestore_gcp_spark.sources.trajectories import read_trajectories_ndjson

    good = '{"step_type": [1], "observation": [{"observation_batch": [1.0, 2.0]}], "action": [3], "policy_info": [0.0], "next_step_type": [1], "reward": [0.5], "discount": [1.0]}'
    path = tmp_path / "msgs"
    path.mkdir()
    (path / "a.json").write_text(good + "\n{not json at all\n" + good + "\n")
    out = read_trajectories_ndjson(spark, str(path), corrupt_col="_corrupt").collect()
    bad = [r for r in out if r["_corrupt"] is not None]
    ok = [r for r in out if r["_corrupt"] is None]
    assert len(out) == 3 and len(bad) == 1 and len(ok) == 2
    assert bad[0]["_corrupt"].startswith("{not json")
    assert ok[0].action == [3]
    # strict default shape unchanged
    strict = read_trajectories_ndjson(spark, str(path))
    assert "_corrupt" not in strict.columns


def test_ndjson_quarantine_write_patterns(spark, tmp_path):
    # the two supported quarantine projections (Spark disallows
    # corrupt-column-only queries on raw JSON scans)
    from pyspark.sql import functions as F

    from mlops_pipelines_featurestore_gcp_spark.sources.trajectories import read_trajectories_ndjson

    path = tmp_path / "msgs"
    path.mkdir()
    (path / "a.json").write_text('{bad line\n')
    df = read_trajectories_ndjson(spark, str(path), corrupt_col="_corrupt")
    # pattern 1: keep a schema column in the projection
    bad = df.where(F.col("_corrupt").isNotNull()).select("action", "_corrupt").collect()
    assert len(bad) == 1 and bad[0]["_corrupt"].startswith("{bad")
    # pattern 2: cache first, then corrupt-only projection is legal
    cached = df.cache()
    only = cached.where(F.col("_corrupt").isNotNull()).select("_corrupt").collect()
    assert len(only) == 1
    cached.unpersist()
