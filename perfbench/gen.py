"""Seeded HFP load generator for the product-path benchmark.

Runs as its own process, apart from the system under test, and writes the
only inputs the program sees:

* wire files: parquet with one ``value binary`` column, one protobuf-encoded
  ``Hfp.Data`` message per row (the shape of a Kafka/Pulsar record value);
* one reference file: the same rows as ``HFP_RAW_SCHEMA`` parquet, which the
  benchmark's correctness gate runs a batch ``hfp_transform`` over.

Every input carries the properties the program branches on: ~1% undecodable
messages, ~0.5% unparseable ``tst``, malformed ``dir``/``drst``/``oday``/
``start``/``start_time`` values, NULLs in nullable fields and a Zipf-skewed
``unique_vehicle_id``.  Each written file gets one manifest line (rows,
injected dead rows by reason, due time, write time).

Usage::

    python3 perfbench/gen.py stage --seed N --hours H --batches N \
        [--warm DIR --warm-files N --warm-rows N] [--ladder DIR] \
        [--files N --rows N --out DIR --ref FILE --manifest FILE]
    python3 perfbench/gen.py live --out DIR --ref FILE --seed N --rate 1000 \
        --files-per-s 25 --seconds S --start-at T --manifest FILE
"""

from __future__ import annotations

import argparse
import json
import os
import struct
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from transitlog_hfp_sink_spark.schema import HFP_RAW_SCHEMA  # noqa: E402
from transitlog_hfp_sink_spark.sources.protowire import (  # noqa: E402
    EVENT_TYPE_ENUM,
    JOURNEY_TYPE_ENUM,
    LOC_ENUM,
    PAYLOAD_FIELDS,
    TEMPORAL_TYPE_ENUM,
    TOPIC_FIELDS,
    TRANSPORT_MODE_ENUM,
)

#: bytes no protobuf decoder accepts (a truncated varint): stands in for a
#: message whose properties declare the wrong schema
INVALID_WIRE = b"\xff\xff\xff"
INVALID_SHARE = 0.01
BAD_TST_SHARE = 0.005
MALFORMED_SHARE = 0.01
N_VEHICLES = 400
N_ROUTES = 60
ZIPF_S = 1.1
#: event-time origin of every workload (a weekday morning)
BASE_MS = 1_710_482_400_000  # 2024-03-15 06:00:00 UTC
#: event-time origin of the live workload: 10:10, well inside one hour
LIVE_ORIGIN_MS = BASE_MS + 4 * 3_600_000 + 600_000
#: rows of the layer ladder's one batch, in 10 files
LADDER_ROWS = 10_000
#: the vehicle whose track the read queries look up (Zipf rank 10)
TRACK_VEHICLE = 9


def vehicle_id(idx: int) -> str:
    return f"{idx % 7 + 6:04d}/{idx + 100:05d}"


# ---------------------------------------------------------------------------
# rows (column-wise; None marks NULL)
# ---------------------------------------------------------------------------

def _vehicle_weights() -> np.ndarray:
    w = 1.0 / np.arange(1, N_VEHICLES + 1) ** ZIPF_S
    return w / w.sum()


def _pick(rng, n, values, probs=None):
    idx = rng.choice(len(values), size=n, p=probs)
    return [values[i] for i in idx]


def _nulls(rng, n, share, col):
    mask = rng.random(n) < share
    return [None if m else v for m, v in zip(mask.tolist(), col)]


def _malform(rng, n, col, bad):
    mask = rng.random(n) < MALFORMED_SHARE
    return [bad if m else v for m, v in zip(mask.tolist(), col)]


def _iso(ms: np.ndarray) -> list[str]:
    s = np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms")
    return [v + "Z" for v in s.tolist()]


def make_rows(rng: np.random.Generator, event_ms: np.ndarray) -> dict:
    """One row per event time (epoch ms); returns
    ``{"schema_valid": [...], "topic": {col: [...]}, "payload": {col: [...]},
    "invalid": k, "bad_tst": k}``."""
    n = len(event_ms)
    veh_idx = rng.choice(N_VEHICLES, size=n, p=_vehicle_weights())
    oper = (veh_idx % 7 + 6).astype(np.int64)
    vnum = (veh_idx + 100).astype(np.int64)
    uvid = [vehicle_id(i) for i in veh_idx.tolist()]
    route_no = (veh_idx * 7919) % N_ROUTES
    route = [f"2{r:03d}" for r in route_no.tolist()]
    direction = (rng.random(n) < 0.5).astype(np.int64) + 1
    received = event_ms + rng.integers(-500, 5000, size=n)
    hh = (event_ms // 3_600_000 + (veh_idx % 3)) % 24
    mm = rng.integers(0, 60, size=n)
    start = [f"{h:02d}:{m:02d}" for h, m in zip(hh.tolist(), mm.tolist())]
    lat = 60.15 + (veh_idx % 50) / 500.0 + rng.normal(0, 0.01, n)
    lon = 24.90 + (veh_idx % 40) / 400.0 + rng.normal(0, 0.01, n)
    oday = np.datetime_as_string(event_ms.astype("datetime64[ms]"), unit="D").tolist()

    invalid = rng.random(n) < INVALID_SHARE
    bad_tst = (rng.random(n) < BAD_TST_SHARE) & ~invalid
    tst = _iso(event_ms)
    tst = [("2024-13-45T99:99:99Z" if i % 2 else "not-a-timestamp") if b else t
           for i, (b, t) in enumerate(zip(bad_tst.tolist(), tst))]

    topic = {
        "received_at": received.tolist(),
        "topic_prefix": ["/hfp/"] * n,
        "topic_version": ["v2"] * n,
        "journey_type": _pick(rng, n, JOURNEY_TYPE_ENUM, [0.9, 0.07, 0.03]),
        "temporal_type": _pick(rng, n, TEMPORAL_TYPE_ENUM, [0.95, 0.05]),
        "event_type": _nulls(rng, n, 0.01, _pick(
            rng, n, EVENT_TYPE_ENUM, [0.83] + [0.01] * 17)),
        "transport_mode": _nulls(rng, n, 0.01, _pick(
            rng, n, TRANSPORT_MODE_ENUM, [0.7, 0.08, 0.12, 0.06, 0.04])),
        "operator_id": oper.tolist(),
        "vehicle_number": vnum.tolist(),
        "unique_vehicle_id": uvid,
        "route_id": _nulls(rng, n, 0.02, route),
        "direction_id": _nulls(rng, n, 0.02, direction.tolist()),
        "headsign": _nulls(rng, n, 0.02, [f"Stop {r}" for r in route_no.tolist()]),
        "start_time": _malform(rng, n, _nulls(rng, n, 0.02, start), "25:99"),
        "next_stop": _nulls(rng, n, 0.05, [str(1_000_000 + s) for s in
                                          rng.integers(0, 5000, n).tolist()]),
        "geohash_level": _nulls(rng, n, 0.05, rng.integers(0, 6, n).tolist()),
        "latitude": _nulls(rng, n, 0.02, lat.tolist()),
        "longitude": _nulls(rng, n, 0.02, lon.tolist()),
    }
    payload = {
        "desi": _nulls(rng, n, 0.02, [str(r) for r in route_no.tolist()]),
        "dir": _malform(rng, n, _nulls(rng, n, 0.02,
                                       [str(d) for d in direction.tolist()]), "X"),
        "oper": _nulls(rng, n, 0.01, oper.tolist()),
        "veh": vnum.tolist(),
        "tst": tst,
        "tsi": (event_ms // 1000).tolist(),
        "spd": _nulls(rng, n, 0.03, np.round(rng.random(n) * 25, 2).tolist()),
        "hdg": _nulls(rng, n, 0.03, rng.integers(0, 360, n).tolist()),
        "lat": _nulls(rng, n, 0.02, lat.tolist()),
        "long": _nulls(rng, n, 0.02, lon.tolist()),
        "acc": _nulls(rng, n, 0.03, np.round(rng.normal(0, 1, n), 2).tolist()),
        "dl": _nulls(rng, n, 0.03, rng.integers(-300, 300, n).tolist()),
        "odo": _nulls(rng, n, 0.03, (rng.random(n) * 100_000).round(1).tolist()),
        "drst": _malform(rng, n, _nulls(rng, n, 0.02, [
            str(b) for b in rng.integers(0, 2, n).tolist()]), "2"),
        "oday": _malform(rng, n, _nulls(rng, n, 0.02, oday), "2024-13-45"),
        "jrn": _nulls(rng, n, 0.02, rng.integers(1, 2000, n).tolist()),
        "line": _nulls(rng, n, 0.02, (route_no + 500).tolist()),
        "start": _malform(rng, n, _nulls(rng, n, 0.02, start), "99:99"),
        "loc": _nulls(rng, n, 0.02, _pick(rng, n, LOC_ENUM, [0.9, 0.04, 0.03, 0.03])),
        "stop": _nulls(rng, n, 0.05, rng.integers(1000, 6000, n).tolist()),
        "route": _nulls(rng, n, 0.02, route),
        "occu": _nulls(rng, n, 0.05, rng.integers(0, 101, n).tolist()),
    }
    return {
        "schema_valid": (~invalid).tolist(),
        "topic": topic,
        "payload": payload,
        "invalid": int(invalid.sum()),
        "bad_tst": int(bad_tst.sum()),
    }


# ---------------------------------------------------------------------------
# encodings
# ---------------------------------------------------------------------------

def _varint(n: int) -> bytes:
    n &= (1 << 64) - 1
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


_ENUM_DOMAINS = {
    "journey_type": JOURNEY_TYPE_ENUM, "temporal_type": TEMPORAL_TYPE_ENUM,
    "event_type": EVENT_TYPE_ENUM, "transport_mode": TRANSPORT_MODE_ENUM,
    "loc": LOC_ENUM,
}


def _field_bytes(num: int, kind: str, values: list) -> list[bytes]:
    """Encoded ``tag + value`` of one field for every row (b"" when NULL)."""
    if kind == "str":
        tag = _varint(num << 3 | 2)
        out = []
        for v in values:
            if v is None:
                out.append(b"")
            else:
                b = v.encode("utf-8")
                out.append(tag + _varint(len(b)) + b)
        return out
    if kind == "dbl":
        tag = _varint(num << 3 | 1)
        return [b"" if v is None else tag + struct.pack("<d", v) for v in values]
    tag = _varint(num << 3)
    if kind.startswith("enum:"):
        domain = _ENUM_DOMAINS[kind.split(":", 1)[1]]
        codes = {v: tag + _varint(i) for i, v in enumerate(domain)}
        return [b"" if v is None else codes[v] for v in values]
    return [b"" if v is None else tag + _varint(v) for v in values]


def _message(fields, cols: dict) -> list[bytes]:
    per_field = [_field_bytes(num, kind, cols[name]) for num, name, kind in fields]
    head = b"\x08\x01"  # schema_version = 1
    return [head + b"".join(parts) for parts in zip(*per_field)]


def wire_table(rows: dict) -> pa.Table:
    topics = _message(TOPIC_FIELDS, rows["topic"])
    payloads = _message(PAYLOAD_FIELDS, rows["payload"])
    values = [
        b"\x08\x01\x12" + _varint(len(t)) + t + b"\x1a" + _varint(len(p)) + p
        if ok else INVALID_WIRE
        for ok, t, p in zip(rows["schema_valid"], topics, payloads)
    ]
    return pa.table({"value": pa.array(values, pa.binary())})


_PA_TYPES = {"boolean": pa.bool_(), "int": pa.int32(), "bigint": pa.int64(),
             "string": pa.string(), "double": pa.float64()}


def _pa_struct(spark_struct) -> pa.StructType:
    return pa.struct([pa.field(f.name, _PA_TYPES[f.dataType.simpleString()], f.nullable)
                      for f in spark_struct.fields])


RAW_ARROW_SCHEMA = pa.schema([
    pa.field("schema_valid", pa.bool_(), False),
    pa.field("topic", _pa_struct(HFP_RAW_SCHEMA["topic"].dataType), False),
    pa.field("payload", _pa_struct(HFP_RAW_SCHEMA["payload"].dataType), False),
])


def struct_table(rows: dict) -> pa.Table:
    arrays = [pa.array(rows["schema_valid"], pa.bool_())]
    for name in ("topic", "payload"):
        st = RAW_ARROW_SCHEMA.field(name).type
        arrays.append(pa.StructArray.from_arrays(
            [pa.array(rows[name][f.name], f.type) for f in st], fields=list(st)))
    return pa.Table.from_arrays(arrays, schema=RAW_ARROW_SCHEMA)


def write_atomic(table: pa.Table, path: str) -> None:
    """Write beside the target under a hidden name, then rename: a file
    source never lists a half-written file."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, "." + base + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# modes
# ---------------------------------------------------------------------------

def _stage_files(rng, out, event_ms, n_files, prefix, manifest, ref=None) -> None:
    """``n_files`` wire files over ``event_ms``, one manifest line each; with
    ``ref``, the struct twin of every row goes into that one parquet file.  A
    manifest kept beside the files it lists is named ``_...`` so a file
    source skips it."""
    os.makedirs(out, exist_ok=True)
    twins = []
    with open(manifest, "w") as mf:
        for i, chunk in enumerate(np.array_split(event_ms, n_files)):
            rows = make_rows(rng, chunk)
            name = f"{prefix}-{i:05d}.parquet"
            write_atomic(wire_table(rows), os.path.join(out, name))
            if ref:
                twins.append(struct_table(rows))
            mf.write(json.dumps({
                "file": name, "rows": len(chunk), "invalid": rows["invalid"],
                "bad_tst": rows["bad_tst"], "due": None, "written": time.time(),
            }) + "\n")
    if ref:
        write_atomic(pa.concat_tables(twins), ref)


def stage(args) -> None:
    """Each part on its own random stream, so the parts may be staged by
    separate calls.  ``--warm`` gets ``--warm-files`` files of ``--warm-rows``
    rows to warm the pipeline with; ``--ladder`` gets one batch of
    LADDER_ROWS rows spanning one batch's share of the hours; with
    ``--files``, ``--out`` gets a backlog of that many wire files,
    ``--rows`` rows in total, event time ascending over ``--hours`` hours, so
    each batch spans a known slice, and ``--ref`` its struct twin."""
    span_ms = int(args.hours * 3_600_000)
    if args.warm:
        rng = np.random.default_rng([args.seed, 1])
        _stage_files(rng, args.warm,
                     BASE_MS + np.sort(rng.integers(0, span_ms,
                                                    args.warm_files * args.warm_rows)),
                     args.warm_files, "warm", os.path.join(args.warm, "_manifest.jsonl"))
    if args.ladder:
        rng = np.random.default_rng([args.seed, 2])
        per_batch_ms = max(1, span_ms // max(1, args.batches))
        _stage_files(rng, args.ladder,
                     BASE_MS + np.sort(rng.integers(0, per_batch_ms, LADDER_ROWS)),
                     10, "ladder", os.path.join(args.ladder, "_manifest.jsonl"))
    if args.files:
        rng = np.random.default_rng([args.seed, 0])
        event_ms = np.sort(BASE_MS + rng.integers(0, span_ms, size=args.rows))
        _stage_files(rng, args.out, event_ms, args.files, "part", args.manifest, args.ref)


def live(args) -> None:
    """Open loop: file k is due at ``start_at + k / files_per_s`` and is
    written then, however far the system under test has fallen behind.
    Event time tracks the schedule from a fixed origin, so the same seed
    gives the same rows.  The struct twins go to ``--ref`` at the end."""
    rng = np.random.default_rng([args.seed, 3])
    per_file = args.rate // args.files_per_s
    n_files = int(args.seconds * args.files_per_s)
    os.makedirs(args.out, exist_ok=True)
    twins = []
    with open(args.manifest, "w") as mf:
        for k in range(n_files):
            due = args.start_at + k / args.files_per_s
            offset_ms = int(k * 1000 / args.files_per_s)
            event_ms = LIVE_ORIGIN_MS + offset_ms + np.sort(
                rng.integers(0, int(1000 / args.files_per_s), per_file))
            rows = make_rows(rng, event_ms)
            wire = wire_table(rows)
            twins.append(struct_table(rows))
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            name = f"live-{k:06d}.parquet"
            write_atomic(wire, os.path.join(args.out, name))
            mf.write(json.dumps({
                "file": name, "rows": per_file, "invalid": rows["invalid"],
                "bad_tst": rows["bad_tst"], "due": due, "written": time.time(),
            }) + "\n")
            mf.flush()
    write_atomic(pa.concat_tables(twins), args.ref)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="mode", required=True)
    s = sub.add_parser("stage")
    s.add_argument("--rows", type=int, default=0)
    s.add_argument("--files", type=int, default=0)
    s.add_argument("--hours", type=float, required=True)
    s.add_argument("--batches", type=int, default=1,
                   help="batches the backlog drains in (sets the ladder's time span)")
    s.add_argument("--warm", default=None)
    s.add_argument("--warm-files", type=int, default=0)
    s.add_argument("--warm-rows", type=int, default=0)
    s.add_argument("--ladder", default=None)
    lv = sub.add_parser("live")
    lv.add_argument("--rate", type=int, required=True)
    lv.add_argument("--files-per-s", type=int, required=True)
    lv.add_argument("--seconds", type=float, required=True)
    lv.add_argument("--start-at", type=float, required=True)
    for sp in (s, lv):
        sp.add_argument("--out", required=sp is lv)
        sp.add_argument("--ref", required=sp is lv)
        sp.add_argument("--seed", type=int, required=True)
        sp.add_argument("--manifest", required=sp is lv)
    args = p.parse_args(argv)
    if args.mode == "stage" and args.files and not (args.out and args.ref and args.manifest):
        p.error("stage --files needs --out, --ref and --manifest")
    (stage if args.mode == "stage" else live)(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
