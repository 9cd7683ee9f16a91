"""Pure-Python protobuf WIRE-FORMAT codec for ``Hfp.Data`` — the decode leg
of every ingest path (file stream, backfill, pulsar/kafka frames), runnable
without the spark-protobuf jar or a compiled descriptor.

The reference's wire contract is ``Hfp.Data.parseFrom(message.getData())``
(/root/reference/src/main/java/fi/hsl/transitlog/hfp/MessageProcessor.java:119)
with Topic + Payload sub-messages consumed field-by-field
(QueueWriter.java:57-137). The message layout here follows the public HSL
hfp.proto (HSLdevcom/transitdata-common): Data{schema_version=1, topic=2,
payload=3}; Topic/Payload field numbers in declaration order with
proto-native scalar types (varint ints/enums, fixed64 doubles,
length-delimited strings). Fields the engine's decode contract keeps as
safe-parse strings (dir/tst/drst/oday/start/start_time — see
schema.HFP_PAYLOAD_SCHEMA) are length-delimited strings on the wire, so
every malformed-value path survives the roundtrip.

Deployment note: with the spark-protobuf connector jar available,
``sources.decode.decode_hfp_protobuf`` decodes the same bytes JVM-side
against the bundled descriptor. Encode -> decode here is bitwise lossless
(doubles travel as IEEE-754 fixed64), so the roundtrip query shares the
full 40-column oracle of hfp_vehicles_transform.

Scale shape: both codec directions are ``mapInArrow`` kernels — Arrow
batches in, Arrow batches out, reading and writing the nested
``topic``/``payload`` struct columns directly; no shuffle, all work on
the executors, parallel per input partition.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from transitlog_hfp_sink_spark.schema import (  # noqa: F401 - re-exported
    ENUM_DOMAINS,
    EVENT_TYPE_ENUM,
    JOURNEY_TYPE_ENUM,
    LOC_ENUM,
    TEMPORAL_TYPE_ENUM,
    TRANSPORT_MODE_ENUM,
)

# ---------------------------------------------------------------------------
# Message layout (field number, engine column, kind)
# kinds: i32/i64 varint ints, str, dbl fixed64, enum:<domain> varint, where
# <domain> keys schema.ENUM_DOMAINS
# ---------------------------------------------------------------------------

TOPIC_FIELDS: tuple[tuple[int, str, str], ...] = (
    (2, "received_at", "i64"),
    (3, "topic_prefix", "str"),
    (4, "topic_version", "str"),
    (5, "journey_type", "enum:journey_type"),
    (6, "temporal_type", "enum:temporal_type"),
    (7, "event_type", "enum:event_type"),
    (8, "transport_mode", "enum:transport_mode"),
    (9, "operator_id", "i32"),
    (10, "vehicle_number", "i32"),
    (11, "unique_vehicle_id", "str"),
    (12, "route_id", "str"),
    (13, "direction_id", "i32"),
    (14, "headsign", "str"),
    (15, "start_time", "str"),
    (16, "next_stop", "str"),
    (17, "geohash_level", "i32"),
    (18, "latitude", "dbl"),
    (19, "longitude", "dbl"),
)

PAYLOAD_FIELDS: tuple[tuple[int, str, str], ...] = (
    (2, "desi", "str"),
    (3, "dir", "str"),
    (4, "oper", "i32"),
    (5, "veh", "i32"),
    (6, "tst", "str"),
    (7, "tsi", "i64"),
    (8, "spd", "dbl"),
    (9, "hdg", "i32"),
    (10, "lat", "dbl"),
    (11, "long", "dbl"),
    (12, "acc", "dbl"),
    (13, "dl", "i32"),
    (14, "odo", "dbl"),
    (15, "drst", "str"),
    (16, "oday", "str"),
    (17, "jrn", "i32"),
    (18, "line", "i32"),
    (19, "start", "str"),
    (20, "loc", "enum:loc"),
    (21, "stop", "i32"),
    (22, "route", "str"),
    (23, "occu", "i32"),
)

_WT_VARINT, _WT_FIXED64, _WT_LEN = 0, 1, 2
_MASK64 = (1 << 64) - 1


# ---------------------------------------------------------------------------
# wire primitives
# ---------------------------------------------------------------------------

def _varint(n: int) -> bytes:
    n &= _MASK64  # negatives -> 64-bit two's complement (proto int32/int64)
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
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            if result >> 64:
                raise ValueError("varint overflows 64 bits")
            if result >> 63:  # sign-extend 64-bit two's complement
                result -= 1 << 64
            return result, pos
        shift += 7
        if shift >= 70:
            raise ValueError("varint too long")


def _tag(num: int, wt: int) -> bytes:
    return _varint((num << 3) | wt)


def _encode_msg(fields, row: dict) -> bytes:
    out = bytearray()
    out += _tag(1, _WT_VARINT) + _varint(1)  # schema_version = 1
    for num, name, kind in fields:
        v = row.get(name)
        if v is None or (isinstance(v, float) and v != v):
            continue  # optional field omitted
        if kind in ("i32", "i64"):
            out += _tag(num, _WT_VARINT) + _varint(int(v))
        elif kind == "dbl":
            out += _tag(num, _WT_FIXED64) + struct.pack("<d", float(v))
        elif kind == "str":
            b = str(v).encode("utf-8")
            out += _tag(num, _WT_LEN) + _varint(len(b)) + b
        else:  # enum
            domain = ENUM_DOMAINS[kind.split(":", 1)[1]]
            out += _tag(num, _WT_VARINT) + _varint(domain.index(v))
    return bytes(out)


def _layout(fields) -> dict[int, tuple]:
    """field number -> (slot, name, kind, expected wire type, enum domain),
    built once per message type so decoding does one dict probe per field."""
    out = {}
    for slot, (num, name, kind) in enumerate(fields):
        wt = _WT_LEN if kind == "str" else _WT_FIXED64 if kind == "dbl" else _WT_VARINT
        out[num] = (slot, name, kind, wt, ENUM_DOMAINS.get(kind.partition(":")[2]))
    return out


_TOPIC_LAYOUT = _layout(TOPIC_FIELDS)
_PAYLOAD_LAYOUT = _layout(PAYLOAD_FIELDS)
_I32_MIN, _I32_MAX = -(1 << 31), (1 << 31) - 1


def _decode_msg(layout: dict[int, tuple], buf: bytes) -> list:
    """One Topic/Payload sub-message -> its values in field-table order
    (None where a field is absent)."""
    vals: list = [None] * len(layout)
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        num, wt = key >> 3, key & 0x7
        if wt == _WT_VARINT:
            val, pos = _read_varint(buf, pos)
        elif wt == _WT_FIXED64:
            if pos + 8 > len(buf):
                raise ValueError("truncated fixed64")
            (val,) = struct.unpack_from("<d", buf, pos)
            pos += 8
        elif wt == _WT_LEN:
            ln, pos = _read_varint(buf, pos)
            if ln < 0 or pos + ln > len(buf):
                raise ValueError("truncated length-delimited field")
            val = buf[pos : pos + ln]
            pos += ln
        else:
            raise ValueError(f"unsupported wire type {wt}")
        field = layout.get(num)
        if field is None:
            continue  # schema_version (1) or unknown field (proto forward-compat)
        slot, name, kind, expected_wt, domain = field
        # a known field carried on the WRONG wire type is a corrupt/
        # mis-schema'd message and must surface as ValueError so the
        # dead-letter catch in decode_hfp_wire converts it to a
        # schema_valid=false row instead of a task-killing TypeError
        # (fuzz-tested in tests/test_protowire.py)
        if wt != expected_wt:
            raise ValueError(
                f"wire type {wt} != {expected_wt} expected for field "
                f"{name} ({kind})"
            )
        if kind == "str":
            val = val.decode("utf-8")
        elif domain is not None:
            if not 0 <= val < len(domain):
                raise ValueError(f"enum {name} out of range: {val}")
            val = domain[val]
        elif kind == "i32" and not _I32_MIN <= val <= _I32_MAX:
            raise ValueError(f"int32 {name} out of range: {val}")
        vals[slot] = val
    return vals


def encode_data(topic_row: dict, payload_row: dict) -> bytes:
    t = _encode_msg(TOPIC_FIELDS, topic_row)
    p = _encode_msg(PAYLOAD_FIELDS, payload_row)
    return (
        _tag(1, _WT_VARINT) + _varint(1)
        + _tag(2, _WT_LEN) + _varint(len(t)) + t
        + _tag(3, _WT_LEN) + _varint(len(p)) + p
    )


def _decode_values(buf: bytes) -> tuple[list, list]:
    """Data envelope -> (topic values, payload values) in field-table order."""
    topic = payload = None
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        num, wt = key >> 3, key & 0x7
        if wt == _WT_VARINT:
            _, pos = _read_varint(buf, pos)
        elif wt == _WT_LEN:
            ln, pos = _read_varint(buf, pos)
            if ln < 0 or pos + ln > len(buf):
                raise ValueError("truncated sub-message")
            sub = buf[pos : pos + ln]
            pos += ln
            if num == 2:
                topic = _decode_msg(_TOPIC_LAYOUT, sub)
            elif num == 3:
                payload = _decode_msg(_PAYLOAD_LAYOUT, sub)
        else:
            raise ValueError(f"unsupported wire type {wt} in Data")
    if topic is None or payload is None:
        raise ValueError("missing required Topic/Payload")
    return topic, payload


_T_COLS = [name for _, name, _ in TOPIC_FIELDS]
_P_COLS = [name for _, name, _ in PAYLOAD_FIELDS]


def decode_data(buf: bytes) -> tuple[dict, dict]:
    t, p = _decode_values(buf)
    return dict(zip(_T_COLS, t)), dict(zip(_P_COLS, p))


#: bytes that fail decode_data — stands in for a message whose Pulsar
#: properties carry the wrong protobuf schema (MessageProcessor.java:118)
INVALID_WIRE_BYTES = b"\xff\xff\xff"

#: what decode_data raises on malformed bytes; decode_hfp_wire turns each
#: into a schema_valid=false row
_MALFORMED = (ValueError, struct.error, UnicodeDecodeError)


# ---------------------------------------------------------------------------
# DataFrame surface (mapInArrow both directions)
# ---------------------------------------------------------------------------

_SPARK_TYPES = {
    "i32": T.IntegerType(), "i64": T.LongType(), "dbl": T.DoubleType(), "str": T.StringType(),
}


def _struct_type(fields) -> T.StructType:
    return T.StructType([
        T.StructField(name, _SPARK_TYPES.get(kind, T.StringType()), True)
        for _, name, kind in fields
    ])


#: decode_hfp_wire's output: HFP_RAW_SCHEMA's columns and types, with
#: non-null topic/payload structs whose fields are all nullable (a
#: dead-letter row carries all-NULL structs)
_WIRE_ROWS_SCHEMA = T.StructType([
    T.StructField("schema_valid", T.BooleanType(), True),
    T.StructField("topic", _struct_type(TOPIC_FIELDS), False),
    T.StructField("payload", _struct_type(PAYLOAD_FIELDS), False),
])
_WIRE_ROWS_ARROW = to_arrow_schema(_WIRE_ROWS_SCHEMA)


def _struct_array(rows: list, typ: pa.StructType) -> pa.StructArray:
    cols = list(zip(*rows)) if rows else [()] * typ.num_fields
    return pa.StructArray.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, typ)], fields=list(typ)
    )


def _decode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    dead = ([None] * len(TOPIC_FIELDS), [None] * len(PAYLOAD_FIELDS))
    t_type = _WIRE_ROWS_ARROW.field("topic").type
    p_type = _WIRE_ROWS_ARROW.field("payload").type
    for batch in batches:
        ok, topics, payloads = [], [], []
        for buf in batch.column(0).to_pylist():
            decoded = None
            if buf is not None:  # a NULL frame (e.g. a Kafka tombstone) is dead
                try:
                    decoded = _decode_values(buf)
                except _MALFORMED:
                    pass
            ok.append(decoded is not None)
            t, p = decoded or dead
            topics.append(t)
            payloads.append(p)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ok, type=pa.bool_()),
                _struct_array(topics, t_type),
                _struct_array(payloads, p_type),
            ],
            schema=_WIRE_ROWS_ARROW,
        )


def _encode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        vals = [
            encode_data(t or {}, p or {}) if ok else INVALID_WIRE_BYTES
            for ok, t, p in zip(*(c.to_pylist() for c in batch.columns))
        ]
        yield pa.RecordBatch.from_arrays([pa.array(vals, type=pa.binary())], ["value"])


def encode_hfp_wire(df: DataFrame) -> DataFrame:
    """(schema_valid, topic, payload) -> one binary ``value`` column.
    Rows with schema_valid=false are emitted as undecodable bytes, so the
    decoder exercises the invalid-schema dead-letter path end to end."""
    return df.select("schema_valid", "topic", "payload").mapInArrow(
        _encode_batches, "value binary"
    )


def decode_hfp_wire(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Binary protobuf ``value`` column -> (schema_valid, topic, payload)
    rows shaped like HFP_RAW_SCHEMA. Undecodable or NULL frames yield
    schema_valid=false with all-NULL structs (the F1 dead-letter contract)."""
    return df.select(F.col(value_col)).mapInArrow(_decode_batches, _WIRE_ROWS_SCHEMA)
