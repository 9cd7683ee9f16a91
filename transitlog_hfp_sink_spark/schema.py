"""Canonical schemas + enum domains for the HFP data model.

Derived from the reference DDL (/root/reference/run/init.sql:21-68) and the
input protobuf usage (/root/reference/src/main/java/fi/hsl/transitlog/hfp/
QueueWriter.java:57-137). One nested input schema (``HFP_RAW_SCHEMA``), one
flat 40-column output schema (``VEHICLES_SCHEMA``), enum value domains, the
natural dedup key, and the nullability contract.

TIME representation (SURVEY §1.2 hard part #1): Spark has no TIME type; the
reference's ``journey_start_time``/``start`` (PG TIME, init.sql:41,63) are
stored as canonical ``"HH:mm"`` strings. ``functions.timeparse`` owns the
parse; this module only declares the type (StringType).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Enum domains (init.sql:21-24), keyed by HFP input field. Spark has no enum
# type -> StringType. Tuple order is the protobuf ordinal order: the wire
# codec (sources/protowire.py) and the compiled descriptor number each value
# by its index, and the decoder rejects any ordinal outside the domain.
# ---------------------------------------------------------------------------

JOURNEY_TYPE_ENUM = ("journey", "deadrun", "signoff")
TEMPORAL_TYPE_ENUM = ("ongoing", "upcoming")
EVENT_TYPE_ENUM = (
    "VP", "DUE", "ARR", "ARS", "PDE", "DEP", "PAS", "WAIT", "DOO",
    "DOC", "TLR", "TLA", "DA", "DOUT", "BA", "BOUT", "VJA", "VJOUT",
)
TRANSPORT_MODE_ENUM = ("bus", "train", "tram", "metro", "ferry")
LOC_ENUM = ("GPS", "ODO", "MAN", "NA")

ENUM_DOMAINS = {
    "journey_type": JOURNEY_TYPE_ENUM,
    "temporal_type": TEMPORAL_TYPE_ENUM,
    "event_type": EVENT_TYPE_ENUM,
    "transport_mode": TRANSPORT_MODE_ENUM,
    "loc": LOC_ENUM,
}

# ---------------------------------------------------------------------------
# Input schema: decoded Hfp.Data protobuf (Topic + Payload sub-messages).
# Field list mirrors QueueWriter.java:57-137 getters; string-typed fields
# that the reference safe-parses stay strings here (dir, tst, drst, oday,
# start, start_time) — the transform owns the parse.
# ---------------------------------------------------------------------------

HFP_TOPIC_SCHEMA = T.StructType(
    [
        T.StructField("received_at", T.LongType(), False),  # epoch millis
        T.StructField("topic_prefix", T.StringType(), False),
        T.StructField("topic_version", T.StringType(), False),
        T.StructField("journey_type", T.StringType(), False),
        T.StructField("temporal_type", T.StringType(), False),  # ongoing/upcoming
        T.StructField("event_type", T.StringType(), True),
        T.StructField("transport_mode", T.StringType(), True),
        T.StructField("operator_id", T.IntegerType(), False),
        T.StructField("vehicle_number", T.IntegerType(), False),
        T.StructField("unique_vehicle_id", T.StringType(), False),
        T.StructField("route_id", T.StringType(), True),
        T.StructField("direction_id", T.IntegerType(), True),
        T.StructField("headsign", T.StringType(), True),
        T.StructField("start_time", T.StringType(), True),  # 'HH:mm', may be malformed
        T.StructField("next_stop", T.StringType(), True),
        T.StructField("geohash_level", T.IntegerType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
    ]
)

HFP_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("desi", T.StringType(), True),
        T.StructField("dir", T.StringType(), True),  # int-as-string, may be malformed
        T.StructField("oper", T.IntegerType(), True),
        T.StructField("veh", T.IntegerType(), False),
        T.StructField("tst", T.StringType(), False),  # ISO-8601, MUST parse (F3)
        T.StructField("tsi", T.LongType(), False),  # unix seconds
        T.StructField("spd", T.DoubleType(), True),
        T.StructField("hdg", T.IntegerType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("long", T.DoubleType(), True),
        T.StructField("acc", T.DoubleType(), True),
        T.StructField("dl", T.IntegerType(), True),
        T.StructField("odo", T.DoubleType(), True),
        T.StructField("drst", T.StringType(), True),  # '0'/'1', may be malformed
        T.StructField("oday", T.StringType(), True),  # 'YYYY-MM-DD', may be malformed
        T.StructField("jrn", T.IntegerType(), True),
        T.StructField("line", T.IntegerType(), True),
        T.StructField("start", T.StringType(), True),  # 'HH:mm', may be malformed
        T.StructField("loc", T.StringType(), True),
        T.StructField("stop", T.IntegerType(), True),
        T.StructField("route", T.StringType(), True),
        T.StructField("occu", T.IntegerType(), True),
    ]
)

HFP_RAW_SCHEMA = T.StructType(
    [
        # fixture/transport flag: false rows simulate a message whose Pulsar
        # properties declare the wrong protobuf schema (MessageProcessor.java:118)
        T.StructField("schema_valid", T.BooleanType(), False),
        T.StructField("topic", HFP_TOPIC_SCHEMA, False),
        T.StructField("payload", HFP_PAYLOAD_SCHEMA, False),
    ]
)

# ---------------------------------------------------------------------------
# Output schema: the flat 40-column `vehicles` table (init.sql:26-68).
# Column order matches the DDL / INSERT statement (QueueWriter.java:36-48).
# ---------------------------------------------------------------------------

VEHICLES_SCHEMA = T.StructType(
    [
        T.StructField("received_at", T.TimestampType(), False),
        T.StructField("topic_prefix", T.StringType(), False),
        T.StructField("topic_version", T.StringType(), False),
        T.StructField("journey_type", T.StringType(), False),
        T.StructField("is_ongoing", T.BooleanType(), False),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("mode", T.StringType(), True),
        T.StructField("owner_operator_id", T.IntegerType(), False),
        T.StructField("vehicle_number", T.IntegerType(), False),
        T.StructField("unique_vehicle_id", T.StringType(), False),
        T.StructField("route_id", T.StringType(), True),
        T.StructField("direction_id", T.IntegerType(), True),
        T.StructField("headsign", T.StringType(), True),
        T.StructField("journey_start_time", T.StringType(), True),  # TIME -> 'HH:mm'
        T.StructField("next_stop_id", T.StringType(), True),
        T.StructField("geohash_level", T.IntegerType(), True),
        T.StructField("topic_latitude", T.DoubleType(), True),
        T.StructField("topic_longitude", T.DoubleType(), True),
        T.StructField("desi", T.StringType(), True),
        T.StructField("dir", T.IntegerType(), True),
        T.StructField("oper", T.IntegerType(), True),
        T.StructField("veh", T.IntegerType(), False),
        T.StructField("tst", T.TimestampType(), False),
        T.StructField("tsi", T.LongType(), False),
        T.StructField("spd", T.DoubleType(), True),
        T.StructField("hdg", T.IntegerType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("long", T.DoubleType(), True),
        T.StructField("acc", T.DoubleType(), True),
        T.StructField("dl", T.IntegerType(), True),
        T.StructField("odo", T.DoubleType(), True),
        T.StructField("drst", T.BooleanType(), True),
        T.StructField("oday", T.DateType(), True),
        T.StructField("jrn", T.IntegerType(), True),
        T.StructField("line", T.IntegerType(), True),
        T.StructField("start", T.StringType(), True),  # TIME -> 'HH:mm'
        T.StructField("loc", T.StringType(), True),
        T.StructField("stop", T.IntegerType(), True),
        T.StructField("route", T.StringType(), True),
        T.StructField("occu", T.IntegerType(), True),
    ]
)

VEHICLES_COLUMNS = [f.name for f in VEHICLES_SCHEMA.fields]

#: NOT NULL columns per init.sql:26-68 (13 columns).
VEHICLES_NOT_NULL = tuple(f.name for f in VEHICLES_SCHEMA.fields if not f.nullable)

#: Natural idempotency key for at-least-once dedup (SURVEY §2.4 M3).
VEHICLES_DEDUP_KEY = ("unique_vehicle_id", "tst", "event_type", "journey_type")

#: Hypertable-equivalent partition layout (init.sql:70-73): time dimension
#: received_at in 1-hour chunks, space dimension unique_vehicle_id. On
#: parquet this becomes partitionBy(received_date, received_hour) — date
#: first keeps directory fanout sane at 100 TB (24 hour-dirs per date-dir
#: instead of one flat hour keyspace).
PARTITION_COLUMNS = ("received_date", "received_hour")
