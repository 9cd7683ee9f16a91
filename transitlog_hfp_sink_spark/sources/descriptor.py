"""Compiled protobuf descriptor (FileDescriptorSet) for the HFP wire
contract — what ``protoc --descriptor_set_out`` would emit for the
engine's hfp.proto, generated with the repo's own wire primitives so no
protoc/google.protobuf is needed to build or verify it.

This closes the spark-protobuf leg (round-2 "What's missing" #1): the
reference decodes ``Hfp.Data`` with a compiled Java class
(MessageProcessor.java:119); Spark's JVM-side equivalent is
``from_protobuf(col, "Data", descFilePath=...)`` against this descriptor
set. The message/enum layout mirrors sources/protowire.py exactly —
field numbers, proto types (varint int32/int64, fixed64 double,
length-delimited string, varint enum), and 0-based enum value numbers —
which follows the public HSL hfp.proto layout
(HSLdevcom/transitdata-common). Field names are the engine's column
names so the decoded struct feeds transform.hfp_transform unchanged.

The canonical compiled bytes are checked in at
``resources/hfp.desc``; tests assert the checked-in file equals a fresh
build (no drift) and structurally re-parse it with the repo's own wire
reader. When the org.apache.spark:spark-protobuf jar is on the
classpath, tests/test_protowire.py's gated test decodes a protowire-
encoded fixture through from_protobuf and asserts equality with the
pure-Python decode; without the jar it skips cleanly.

descriptor.proto field numbers used below (public protobuf spec):
  FileDescriptorSet.file=1; FileDescriptorProto{name=1, package=2,
  message_type=4, enum_type=5, syntax=12}; DescriptorProto{name=1,
  field=2}; FieldDescriptorProto{name=1, number=3, label=4, type=5,
  type_name=6}; EnumDescriptorProto{name=1, value=2};
  EnumValueDescriptorProto{name=1, number=2}.
"""

from __future__ import annotations

import os

from transitlog_hfp_sink_spark.schema import ENUM_DOMAINS
from transitlog_hfp_sink_spark.sources.protowire import (
    _tag,
    _varint,
    _WT_LEN,
    _WT_VARINT,
    PAYLOAD_FIELDS,
    TOPIC_FIELDS,
)

#: FieldDescriptorProto.Type values (public descriptor.proto)
_TYPE_DOUBLE, _TYPE_INT64, _TYPE_INT32 = 1, 3, 5
_TYPE_STRING, _TYPE_MESSAGE, _TYPE_ENUM = 9, 11, 14
_LABEL_OPTIONAL, _LABEL_REQUIRED = 1, 2

PACKAGE = "proto"
RESOURCE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "hfp.desc",
)

#: engine field kind -> FieldDescriptorProto.Type
_KIND_TYPE = {"i32": _TYPE_INT32, "i64": _TYPE_INT64, "dbl": _TYPE_DOUBLE, "str": _TYPE_STRING}

#: proto enum type name per engine enum key
_ENUM_TYPE_NAMES = {
    "journey_type": "JourneyType",
    "temporal_type": "TemporalType",
    "event_type": "EventType",
    "transport_mode": "TransportMode",
    "loc": "LocationQualityMethod",
}


def _ld(num: int, payload: bytes) -> bytes:
    """Length-delimited submessage/string field."""
    return _tag(num, _WT_LEN) + _varint(len(payload)) + payload


def _vi(num: int, value: int) -> bytes:
    return _tag(num, _WT_VARINT) + _varint(value)


def _s(num: int, text: str) -> bytes:
    return _ld(num, text.encode("utf-8"))


def _field(name: str, number: int, ftype: int, label: int = _LABEL_OPTIONAL,
           type_name: str | None = None) -> bytes:
    out = _s(1, name) + _vi(3, number) + _vi(4, label) + _vi(5, ftype)
    if type_name is not None:
        out += _s(6, type_name)
    return _ld(2, out)  # DescriptorProto.field = 2


def _enum(name: str, values: tuple[str, ...]) -> bytes:
    body = _s(1, name)
    for i, v in enumerate(values):
        body += _ld(2, _s(1, v) + _vi(2, i))  # EnumValueDescriptorProto
    return body


def _message(name: str, fields: tuple[tuple[int, str, str], ...],
             schema_version: bool = True) -> bytes:
    body = _s(1, name)
    if schema_version:
        body += _field("schema_version", 1, _TYPE_INT32, _LABEL_REQUIRED)
    for num, fname, kind in fields:
        if kind.startswith("enum:"):
            ename = _ENUM_TYPE_NAMES[kind.split(":", 1)[1]]
            body += _field(fname, num, _TYPE_ENUM, type_name=f".{PACKAGE}.{ename}")
        else:
            body += _field(fname, num, _KIND_TYPE[kind])
    return body


def build_file_descriptor_set() -> bytes:
    """The FileDescriptorSet bytes for hfp.proto, derived from the SAME
    field tables the wire codec encodes with — the two cannot drift."""
    data_msg = (
        _s(1, "Data")
        + _ld(2, _s(1, "schema_version") + _vi(3, 1) + _vi(4, _LABEL_REQUIRED) + _vi(5, _TYPE_INT32))
        + _ld(2, _s(1, "topic") + _vi(3, 2) + _vi(4, _LABEL_OPTIONAL)
              + _vi(5, _TYPE_MESSAGE) + _s(6, f".{PACKAGE}.Topic"))
        + _ld(2, _s(1, "payload") + _vi(3, 3) + _vi(4, _LABEL_OPTIONAL)
              + _vi(5, _TYPE_MESSAGE) + _s(6, f".{PACKAGE}.Payload"))
    )
    file_body = _s(1, "hfp.proto") + _s(2, PACKAGE)
    file_body += _ld(4, data_msg)  # message_type = 4
    file_body += _ld(4, _message("Topic", TOPIC_FIELDS))
    file_body += _ld(4, _message("Payload", PAYLOAD_FIELDS))
    for key, ename in _ENUM_TYPE_NAMES.items():
        file_body += _ld(5, _enum(ename, ENUM_DOMAINS[key]))  # enum_type = 5
    file_body += _s(12, "proto2")  # syntax = 12
    return _ld(1, file_body)  # FileDescriptorSet.file = 1
