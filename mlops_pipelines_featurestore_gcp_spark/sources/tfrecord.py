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
  packed).

Unlike the reference we do NOT double-serialize (its rows are tensor→bytes→
Example→bytes, SURVEY §4.1 anti-pattern): long columns become Int64List,
double columns FloatList, strings/binary BytesList, and array<T> columns
map to multi-value lists — the natural columnar↔Example mapping.

Distribution: writes go through ``mapInPandas`` (one TFRecord file per
partition, executor-side; ``write_partition`` is the per-task body, which the
retrain also runs), reads through the ``binaryFile`` source +
``mapInPandas`` decode. No driver-side data movement.
"""

from __future__ import annotations

import io
import os
import struct
from collections.abc import Iterator

import pandas as pd

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def _len_delim(field: int, payload: bytes) -> bytes:
    return _varint(field << 3 | 2) + _varint(len(payload)) + payload


def _encode_feature(value) -> bytes:
    """One Feature message from a python value (int/float/bytes/str or a
    list thereof)."""
    vals = value if isinstance(value, (list, tuple)) else [value]
    if len(vals) and isinstance(vals[0], (bytes, str)):
        payload = b"".join(
            _len_delim(1, v.encode() if isinstance(v, str) else bytes(v)) for v in vals
        )
        return _len_delim(1, payload)  # BytesList in Feature field 1
    if len(vals) and isinstance(vals[0], float):
        packed = struct.pack(f"<{len(vals)}f", *vals)
        return _len_delim(2, _len_delim(1, packed))  # FloatList packed
    packed = b"".join(_varint(int(v) & 0xFFFFFFFFFFFFFFFF) for v in vals)
    return _len_delim(3, _len_delim(1, packed))  # Int64List packed


def encode_example(row: dict) -> bytes:
    """dict → serialized tf.train.Example (keys sorted for determinism)."""
    entries = b""
    for key in sorted(row):
        if row[key] is None:
            continue
        entry = _len_delim(1, key.encode()) + _len_delim(2, _encode_feature(row[key]))
        entries += _len_delim(1, entry)  # map entry in Features field 1
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
        if ftype == 1:
            out[key] = _decode_list(lst)
        elif ftype == 2:
            # packed floats arrive as one length-delimited blob
            inner = _decode_list(lst)
            raw = inner[0] if inner and isinstance(inner[0], bytes) else b""
            out[key] = list(struct.unpack(f"<{len(raw) // 4}f", raw))
        else:
            inner = _decode_list(lst)
            raw = inner[0] if inner and isinstance(inner[0], bytes) else b""
            vals = []
            q = 0
            while q < len(raw):
                v, q = _read_varint(raw, q)
                # two's-complement back to signed
                vals.append(v - (1 << 64) if v >= 1 << 63 else v)
            out[key] = vals
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


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _exact_int(v):
    """One value of an integral column that pandas widened to float64
    because the batch holds a NULL: NaN is that NULL; a magnitude above
    2**53 was already rounded by the widening, so it raises rather than
    being written wrong."""
    if v != v:
        return None
    if abs(v) > 2**53:
        raise ValueError(f"integral value {v!r} was rounded to float64 by a NULL in its column")
    return int(v)


def _exact_ints(arr):
    """One cell of an integral array column: pandas widens every cell to
    float64 when any element in the batch is NULL. Exact ints again, with
    the NULL elements left out."""
    if arr is None or arr.dtype.kind != "f":
        return arr
    return [i for i in map(_exact_int, arr) if i is not None]


def _typed(pdf: pd.DataFrame, schema: T.StructType) -> pd.DataFrame:
    """``pdf`` with every integral column and integral array column holding
    exact Python ints (and ``None``) again, so it encodes as the Int64List
    its Spark type says; other columns pass as they are."""
    fixed = {}
    for f in schema.fields:
        t, col = f.dataType, pdf[f.name]
        if isinstance(t, _INTEGRAL) and col.dtype.kind == "f":
            fixed[f.name] = pd.Series([_exact_int(v) for v in col], index=pdf.index, dtype=object)
        elif isinstance(t, T.ArrayType) and isinstance(t.elementType, _INTEGRAL):
            fixed[f.name] = pd.Series([_exact_ints(v) for v in col], index=pdf.index, dtype=object)
    return pdf.assign(**fixed) if fixed else pdf


def write_partition(
    batches: Iterator[pd.DataFrame], out_dir: str, schema: T.StructType
) -> Iterator[pd.DataFrame]:
    """S6 for one ``mapInPandas`` task over a frame of ``schema``: yields
    each batch on unchanged and, once the batches are exhausted, commits
    them as the partition's TFRecord file under ``out_dir`` (none for an
    empty partition).

    Each feature's list kind follows the column's Spark type: a NULL value
    or array element is left out of its Example, and an integral column or
    array stays an Int64List even when a NULL made pandas hand it over as
    float64.

    Retry safety: the output filename is DETERMINISTIC per partition
    (``part-<partitionId>``) and each attempt writes to an attempt-private
    temp file followed by an atomic ``os.replace`` — a retried or
    speculative task replaces the same file with identical content instead
    of leaving an extra part file (a random-uuid filename per attempt would
    silently duplicate data). Scope note: this writes through the local
    filesystem, which is correct where executors share a POSIX-rename
    filesystem (local mode, NFS); an object-store deployment would route
    this through a Hadoop committer / custom datasource instead.
    """
    records = []
    for pdf in batches:
        for row in _typed(pdf, schema).to_dict("records"):
            clean = {
                k: (list(v) if hasattr(v, "__len__") and not isinstance(v, (str, bytes)) else v)
                for k, v in row.items()
            }
            records.append(encode_example(clean))
        yield pdf
    if records:
        ctx = TaskContext.get()
        part, attempt = ctx.partitionId(), ctx.taskAttemptId()
        os.makedirs(out_dir, exist_ok=True)
        final = f"{out_dir}/part-{part:05d}.tfrecord"
        tmp = f"{final}.{attempt}.tmp"
        with open(tmp, "wb") as f:
            f.write(frame_records(records))
        os.replace(tmp, final)


def write_tfrecords(df: DataFrame, out_dir: str) -> None:
    """S6: ``write_partition`` in every task of ``df`` — the write
    parallelism IS the partition count; repartition upstream to size files."""
    schema = df.schema

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield pd.DataFrame({"n": [sum(len(pdf) for pdf in write_partition(batches, out_dir, schema))]})

    # the aggregate forces the write on every partition
    df.mapInPandas(_write, "n long").agg(F.sum("n")).collect()


def read_tfrecords(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S7: TFRecord scan → typed DataFrame.

    ``schema`` plays the role of the reference's ``feature_description``
    (``trainer_component.py:32-40``): it names the features to parse and
    their target types (long / double / string / binary or arrays thereof).
    """
    cols = [(f.name, f.dataType) for f in schema.fields]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in unframe_records(bytes(blob)):
                    ex = decode_example(rec)
                    row = {}
                    for name, dtype in cols:
                        vals = ex.get(name, [])
                        if isinstance(dtype, T.ArrayType):
                            row[name] = _coerce_list(vals, dtype.elementType)
                        else:
                            coerced = _coerce_list(vals, dtype)
                            row[name] = coerced[0] if coerced else None
                    rows.append(row)
            yield pd.DataFrame(rows, columns=[c for c, _ in cols])

    binary = spark.read.format("binaryFile").option("pathGlobFilter", "*.tfrecord").load(path).select("content")
    return binary.mapInPandas(_decode, schema)


def _coerce_list(vals: list, dtype: T.DataType) -> list:
    if isinstance(dtype, T.StringType):
        return [v.decode() if isinstance(v, bytes) else str(v) for v in vals]
    if isinstance(dtype, T.BinaryType):
        return [bytes(v) for v in vals]
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return [float(v) for v in vals]
    return [int(v) for v in vals]
