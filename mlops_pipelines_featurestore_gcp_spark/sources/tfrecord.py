"""S6/S7: TFRecord sink/scan without a TensorFlow dependency.

The reference serializes each row to a ``tf.train.Example`` and writes
TFRecord files (``ingester_component.py:42-90``), then reads them back with
a fixed feature description (``trainer_component.py:32-40,79-80``). Both
formats are public and simple, so the engine implements them directly:

- **TFRecord framing** (TensorFlow docs): per record
  ``uint64 length | uint32 masked_crc32c(length) | bytes data |
  uint32 masked_crc32c(data)`` — little-endian, crc32c masked with
  ``((crc >> 15 | crc << 17) + 0xa282ead8) & 0xffffffff``.
- **Example proto** (``tensorflow/core/example/example.proto``): Example{1:
  Features{1: map<string, Feature>}}, Feature = oneof BytesList(1)/
  FloatList(2)/Int64List(3), each ``repeated value = 1`` (floats/ints
  written packed; read packed or unpacked, as protobuf parsers must).

Unlike the reference we do NOT double-serialize (its rows are tensor→bytes→
Example→bytes, SURVEY §4.1 anti-pattern): each column's list kind comes
from its type — integral (and boolean) columns become Int64List, float and
double FloatList, strings/binary BytesList, and array<T> columns the
multi-value list of T's kind — the natural columnar↔Example mapping.

Distribution: both directions run on Arrow batches. ``write_partition``
writes one file from a stream of batches; ``write_tfrecords`` runs it in
every ``mapInArrow`` task (one file per partition, executor-side), and the
retrain runs it on the driver over its collected slice. Reads go through
the ``binaryFile`` source + a ``mapInArrow`` decode into columns of the
declared types.
"""

from __future__ import annotations

import io
import os
import struct
import tempfile
from collections.abc import Iterable, Iterator

import pyarrow as pa

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# --- crc32c (Castagnoli), table-driven, pure python ------------------------

_CRC32C_POLY = 0x82F63B78
_CRC_TABLE: list[int] = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ _CRC32C_POLY if _c & 1 else _c >> 1
    _CRC_TABLE.append(_c)


def _crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    crc = _crc32c(data)
    return ((crc >> 15) | (crc << 17)) + 0xA282EAD8 & 0xFFFFFFFF


# --- protobuf wire helpers --------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _varints(buf: bytes) -> Iterator[int]:
    pos = 0
    while pos < len(buf):
        v, pos = _read_varint(buf, pos)
        yield v


def _len_delim(field: int, payload: bytes) -> bytes:
    return _varint(field << 3 | 2) + _varint(len(payload)) + payload


# A Feature's oneof field: the list kind every value of a column is written as.
BYTES_LIST, FLOAT_LIST, INT64_LIST = 1, 2, 3


def _encode_feature(kind: int, vals: list) -> bytes:
    """One Feature message of list kind ``kind`` (bytes, floats or ints)."""
    if kind == BYTES_LIST:
        return _len_delim(1, b"".join(_len_delim(1, v) for v in vals))
    if kind == FLOAT_LIST:
        packed = struct.pack(f"<{len(vals)}f", *vals)
    else:
        packed = b"".join(_varint(v & 0xFFFFFFFFFFFFFFFF) for v in vals)
    return _len_delim(kind, _len_delim(1, packed))  # FloatList/Int64List packed


def encode_example(features: dict, kinds: dict) -> bytes:
    """``{name: list of values}`` → serialized tf.train.Example, each
    feature the list kind ``kinds[name]`` (keys sorted for determinism).
    A NULL feature or list element is left out."""
    entries = b""
    for key in sorted(features):
        if features[key] is None:
            continue
        feature = _encode_feature(kinds[key], [v for v in features[key] if v is not None])
        entries += _len_delim(1, _len_delim(1, key.encode()) + _len_delim(2, feature))  # Features map entry
    return _len_delim(1, entries)  # Features in Example field 1


def _decode_list(buf: bytes) -> list:
    """BytesList/FloatList/Int64List payload → python list (the wrapper type
    is dispatched by the caller's field number)."""
    out: list = []
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 2:
            ln, pos = _read_varint(buf, pos)
            out.append(buf[pos : pos + ln])
            pos += ln
        elif wire == 0:
            v, pos = _read_varint(buf, pos)
            out.append(v)
        elif wire == 5:
            out.append(struct.unpack("<f", buf[pos : pos + 4])[0])
            pos += 4
        else:  # pragma: no cover - wire type 1 unused by Example
            pos += 8
    return out


def decode_example(data: bytes) -> dict:
    """serialized Example → {name: list-of-values}."""
    out: dict = {}
    _, pos = _read_varint(data, 0)  # Example field 1 tag
    flen, pos = _read_varint(data, pos)
    features = data[pos : pos + flen]
    pos = 0
    while pos < len(features):
        _, pos = _read_varint(features, pos)  # map entry tag
        elen, pos = _read_varint(features, pos)
        entry = features[pos : pos + elen]
        pos += elen
        # entry: field1 key (string), field2 Feature
        _, p = _read_varint(entry, 0)
        klen, p = _read_varint(entry, p)
        key = entry[p : p + klen].decode()
        p += klen
        _, p = _read_varint(entry, p)
        vlen, p = _read_varint(entry, p)
        feat = entry[p : p + vlen]
        # feature: field 1/2/3 = bytes/float/int64 list
        tag, fp = _read_varint(feat, 0)
        ftype = tag >> 3
        llen, fp = _read_varint(feat, fp)
        lst = feat[fp : fp + llen]
        inner = _decode_list(lst)
        if ftype == 1:
            out[key] = inner
        elif ftype == 2:
            # packed floats arrive as length-delimited blobs, unpacked ones
            # one by one (wire type 5, already floats)
            out[key] = [x for v in inner for x in (struct.unpack(f"<{len(v) // 4}f", v) if isinstance(v, bytes) else (v,))]
        else:
            # packed ints arrive as blobs of varints, unpacked ones one by
            # one (wire type 0); two's complement back to signed
            ints = [x for v in inner for x in (_varints(v) if isinstance(v, bytes) else (v,))]
            out[key] = [v - (1 << 64) if v >= 1 << 63 else v for v in ints]
    return out


def frame_records(records: list[bytes]) -> bytes:
    """TFRecord file bytes from serialized messages."""
    out = io.BytesIO()
    for rec in records:
        length = struct.pack("<Q", len(rec))
        out.write(length)
        out.write(struct.pack("<I", _masked_crc(length)))
        out.write(rec)
        out.write(struct.pack("<I", _masked_crc(rec)))
    return out.getvalue()


def unframe_records(data: bytes) -> Iterator[bytes]:
    """Records of TFRecord file bytes; ``ValueError`` on a length or data
    CRC mismatch and on a record cut short."""
    pos = 0
    while pos < len(data):
        if pos + 12 > len(data):
            raise ValueError(f"truncated TFRecord header at offset {pos}")
        (length,) = struct.unpack_from("<Q", data, pos)
        (lcrc,) = struct.unpack_from("<I", data, pos + 8)
        if lcrc != _masked_crc(data[pos : pos + 8]):
            raise ValueError(f"corrupt TFRecord length crc at offset {pos}")
        end = pos + 12 + length
        if end + 4 > len(data):
            raise ValueError(f"truncated TFRecord at offset {pos}")
        rec = data[pos + 12 : end]
        (dcrc,) = struct.unpack_from("<I", data, end)
        if dcrc != _masked_crc(rec):
            raise ValueError(f"corrupt TFRecord data crc at offset {pos}")
        yield rec
        pos = end + 4


# --- DataFrame-level sink/scan ----------------------------------------------


def _kind(t: pa.DataType) -> int:
    """The list kind of a column of Arrow type ``t``; an array takes its
    element's kind."""
    t = t.value_type if pa.types.is_list(t) else t
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        return INT64_LIST
    if pa.types.is_floating(t):
        return FLOAT_LIST
    if pa.types.is_string(t) or pa.types.is_binary(t):
        return BYTES_LIST
    raise TypeError(f"a {t} column has no TFRecord list kind")


def _pylist(arr: pa.Array) -> list:
    """A flat array's values as Python objects: through NumPy when it holds
    no NULL, which is faster than Arrow's per-value scalars."""
    return arr.to_numpy(zero_copy_only=False).tolist() if arr.null_count == 0 else arr.to_pylist()


def _lists(col: pa.Array) -> list:
    """``col`` as ``encode_example`` takes it: one list of values per row
    (a NULL row stays ``None``), strings as their UTF-8 bytes."""
    is_list = pa.types.is_list(col.type)
    if pa.types.is_string(col.type.value_type if is_list else col.type):
        col = col.cast(pa.list_(pa.binary()) if is_list else pa.binary())
    if not is_list:
        return [None if v is None else [v] for v in _pylist(col)]
    vals, ends, valid = _pylist(col.values), _pylist(col.offsets), _pylist(col.is_valid())
    return [vals[ends[i] : ends[i + 1]] if valid[i] else None for i in range(len(col))]


def write_partition(batches: Iterable[pa.RecordBatch], path: str) -> int:
    """S6 for one stream of batches: commits them as the TFRecord file
    ``path`` (none for no rows) and returns the number of rows written. It
    runs as-is in a ``mapInArrow`` task (``write_tfrecords``) or on the
    driver (the retrain).

    Each column's list kind follows its type (``_kind``), and a NULL value
    or array element is left out of its Example.

    Retry safety: the caller names the file, deterministically
    (``write_tfrecords``: ``part-<partitionId>``), and each call writes a
    private hidden temp file beside it, which ``os.replace`` moves over
    ``path`` — a retried or speculative task replaces the same file with
    identical content instead of leaving an extra part file (a random-uuid
    filename per attempt would silently duplicate data). Scope note: this
    writes through the local filesystem, which is correct where executors
    share a POSIX-rename filesystem (local mode, NFS); an object-store
    deployment would route this through a Hadoop committer / custom
    datasource instead.
    """
    records = []
    for batch in batches:
        kinds = {f.name: _kind(f.type) for f in batch.schema}
        cols = [_lists(col) for col in batch.columns]
        records += [encode_example(dict(zip(batch.schema.names, row)), kinds) for row in zip(*cols)]
    if records:
        parent = os.path.dirname(path) or "."
        os.makedirs(parent, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=parent, prefix=f".{os.path.basename(path)}-", suffix=".tmp")
        with os.fdopen(fd, "wb") as f:
            f.write(frame_records(records))
        os.replace(tmp, path)
    return len(records)


def write_tfrecords(df: DataFrame, out_dir: str) -> None:
    """S6: ``write_partition`` in every task of ``df``, to
    ``part-<partitionId>.tfrecord`` under ``out_dir`` — the write
    parallelism IS the partition count; repartition upstream to size files.
    Collecting each partition's row count forces the write in one stage."""

    def _write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        path = f"{out_dir}/part-{TaskContext.get().partitionId():05d}.tfrecord"
        yield pa.RecordBatch.from_pydict({"n": [write_partition(batches, path)]})

    df.mapInArrow(_write, "n long").collect()


def read_tfrecords(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S7: TFRecord scan → typed DataFrame.

    ``schema`` plays the role of the reference's ``feature_description``
    (``trainer_component.py:32-40``): it names the features to parse and
    their target types (long / double / string / binary or arrays thereof).
    Each column is built as an Arrow array of its declared type, so a value
    is never widened on the way; a missing feature reads as NULL, or as an
    empty array.
    """
    arrow_schema = to_arrow_schema(schema)

    def _decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            examples = [
                decode_example(rec) for blob in batch.column("content").to_pylist() for rec in unframe_records(blob)
            ]
            cols = [
                [ex.get(f.name, []) for ex in examples]
                if pa.types.is_list(f.type)
                else [(ex.get(f.name) or [None])[0] for ex in examples]
                for f in arrow_schema
            ]
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, f.type) for col, f in zip(cols, arrow_schema)], schema=arrow_schema
            )

    binary = spark.read.format("binaryFile").option("pathGlobFilter", "*.tfrecord").load(path).select("content")
    return binary.mapInArrow(_decode, schema)
