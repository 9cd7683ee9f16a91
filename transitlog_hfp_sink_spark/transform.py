"""The HFP transform core: nested Hfp.Data -> flat 40-column vehicles row.

This is the reference's heart — QueueWriter.java:57-137 binds each protobuf
field into the 40-column INSERT with per-field safe parsing and null
handling (SURVEY §2.3 P1-P40). Here the same contract is one declarative
projection: a pure DataFrame -> DataFrame function, identical in batch and
streaming, fully inside whole-stage codegen (no UDFs).

Null-handling parity: the reference wraps protobuf hasX() presence into
Optional + JDBC setNull (QueueWriter.java:167-214, ~40 LoC of machinery).
Spark columns are natively nullable, so that apparatus is zero code here.
The safeParseX family (dir/drst/oday/start/journey_start_time) maps to
try_cast / regexp-guarded expressions: malformed -> NULL, never throw.

Validity split (SURVEY §2.2), one tagging projection (``hfp_tag``) with
the two sides as filters over it (``split_tagged``):
- F1 schema filter: messages not declaring protobuf schema HfpData are
  dropped with a warn (MessageProcessor.java:118,125-127) — here routed to
  a dead-letter DataFrame instead of only logging.
- F3 tst invariant: the reference CRASHES the batch on unparseable tst
  (`.get()` on empty Optional, QueueWriter.java:106). A poison message
  killing the pipeline is wrong at scale; the engine filters those rows to
  the dead-letter side and keeps the query alive (documented deviation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.functions.timeparse import safe_parse_time
from transitlog_hfp_sink_spark.schema import VEHICLES_DEDUP_KEY

# try_* expressions keep null-on-malformed semantics under ANSI mode
# (Spark 4 defaults spark.sql.ansi.enabled=true, where plain CAST throws).

#: the dead-letter reasons, in the order they are checked
REJECT_SCHEMA, REJECT_TST = "invalid_protobuf_schema", "unparseable_tst"
#: the tag columns hfp_tag appends after the 40 vehicles columns
TAG_COLUMNS = ("reject_reason", "raw")


def hfp_flatten(df: DataFrame, *keep: str) -> DataFrame:
    """The P1-P40 projection (QueueWriter.java:57-137), no filtering.

    Input: HFP_RAW_SCHEMA-shaped (nested topic/payload). Output: the flat
    40-column vehicles schema, column order per init.sql:26-68, then the
    input columns named in ``keep``.
    """
    t = lambda f: F.col(f"topic.{f}")  # noqa: E731
    p = lambda f: F.col(f"payload.{f}")  # noqa: E731
    return df.select(
        # P1: epoch millis -> timestamptz (QueueWriter.java:62)
        F.timestamp_millis(t("received_at")).alias("received_at"),
        t("topic_prefix").alias("topic_prefix"),  # P2
        t("topic_version").alias("topic_version"),  # P3
        t("journey_type").alias("journey_type"),  # P4
        # P5: temporal_type == ongoing (QueueWriter.java:66)
        (t("temporal_type") == F.lit("ongoing")).alias("is_ongoing"),
        t("event_type").alias("event_type"),  # P6
        t("transport_mode").alias("mode"),  # P7
        t("operator_id").cast("int").alias("owner_operator_id"),  # P8
        t("vehicle_number").cast("int").alias("vehicle_number"),  # P9
        t("unique_vehicle_id").alias("unique_vehicle_id"),  # P10
        t("route_id").alias("route_id"),  # P11
        t("direction_id").cast("int").alias("direction_id"),  # P12
        t("headsign").alias("headsign"),  # P13
        # P14: safeParseTime (QueueWriter.java:88-90) -> canonical 'HH:mm'
        safe_parse_time(t("start_time")).alias("journey_start_time"),
        t("next_stop").alias("next_stop_id"),  # P15
        t("geohash_level").cast("int").alias("geohash_level"),  # P16
        t("latitude").cast("double").alias("topic_latitude"),  # P17
        t("longitude").cast("double").alias("topic_longitude"),  # P18
        p("desi").alias("desi"),  # P19
        # P20: int-as-string, safeParseInt (QueueWriter.java:100-102)
        p("dir").try_cast("int").alias("dir"),
        p("oper").cast("int").alias("oper"),  # P21
        p("veh").cast("int").alias("veh"),  # P22
        # P23: ISO-8601 string -> timestamp; F3 invariant handled in split
        F.try_to_timestamp(p("tst")).alias("tst"),
        p("tsi").cast("bigint").alias("tsi"),  # P24
        p("spd").cast("double").alias("spd"),  # P25
        p("hdg").cast("int").alias("hdg"),  # P26
        p("lat").cast("double").alias("lat"),  # P27
        p("long").cast("double").alias("long"),  # P28
        p("acc").cast("double").alias("acc"),  # P29
        p("dl").cast("int").alias("dl"),  # P30
        p("odo").cast("double").alias("odo"),  # P31
        # P32: '0'/'1' -> bool, safeParseBoolean (QueueWriter.java:117-119);
        # anything outside {0,1} is malformed -> NULL, not False
        F.when(
            p("drst").try_cast("int").isin(0, 1), p("drst").try_cast("int") == F.lit(1)
        ).alias("drst"),
        # P33: safeParseDate (QueueWriter.java:121-123)
        p("oday").try_cast("date").alias("oday"),
        p("jrn").cast("int").alias("jrn"),  # P34
        p("line").cast("int").alias("line"),  # P35
        safe_parse_time(p("start")).alias("start"),  # P36
        p("loc").alias("loc"),  # P37
        p("stop").cast("int").alias("stop"),  # P38
        p("route").alias("route"),  # P39
        p("occu").cast("int").alias("occu"),  # P40
        *keep,
    )


def hfp_transform(df: DataFrame) -> DataFrame:
    """F1 schema filter + P1-P40 flatten + F3 tst invariant: the valid side.

    The one-call equivalent of the reference's handleMessage + write path
    for well-formed data.
    """
    valid, _ = hfp_split(df)
    return valid


def hfp_tag(df: DataFrame) -> DataFrame:
    """The whole split as one projection: the 40 vehicles columns, then
    ``reject_reason`` (NULL on valid rows; F1 is checked before F3) and
    ``raw`` (the input row as JSON, set only on rejected rows).

    A stream applies it once per query (``HfpPipeline.start``); each
    micro-batch then only takes the two filters of ``split_tagged``. The
    flatten also runs on rejected rows (``decode_hfp_wire`` leaves their
    fields NULL).
    """
    # a NULL schema flag counts as a wrong schema: every row lands on one side
    schema_ok = F.coalesce(F.col("schema_valid"), F.lit(False))
    reason = F.when(~schema_ok, F.lit(REJECT_SCHEMA)).when(
        F.try_to_timestamp(F.col("payload.tst")).isNull(), F.lit(REJECT_TST)
    )
    raw = F.when(reason.isNotNull(), F.to_json(F.struct("topic", "payload")))
    tagged = df.select("topic", "payload", reason.alias("reject_reason"), raw.alias("raw"))
    return hfp_flatten(tagged, *TAG_COLUMNS)


def split_tagged(tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, dead_letter) filters over an ``hfp_tag`` output."""
    reason = F.col("reject_reason")
    valid = tagged.where(reason.isNull()).drop(*TAG_COLUMNS)
    dead = tagged.where(reason.isNotNull()).select(
        # the filter keeps only non-NULL reasons; coalesce states that in
        # the schema, so the dead-letter reject_reason stays NOT NULL
        F.coalesce(reason, F.lit(REJECT_SCHEMA)).alias("reject_reason"),
        "raw",
    )
    return valid, dead


def hfp_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, dead_letter) pair.

    dead_letter carries the raw row plus a reject_reason so a downstream
    sink can count/inspect (replacing the reference's warn-log at
    MessageProcessor.java:125-127 and crash at QueueWriter.java:106).
    """
    return split_tagged(hfp_tag(df))


def with_partition_columns(df: DataFrame) -> DataFrame:
    """Append the hypertable-equivalent partition columns (init.sql:70-73):
    received_date + received_hour give 1-hour chunk pruning on parquet."""
    return df.withColumn("received_date", F.to_date("received_at")).withColumn(
        "received_hour", F.hour("received_at")
    )


def dedup_vehicles(df: DataFrame) -> DataFrame:
    """Idempotent view over at-least-once delivery (SURVEY §2.4 M3).

    The reference redelivers unacked messages after 300 s (ackTimeout,
    environment.conf:9) and relies on downstream tolerance. The engine
    offers exact dedup on the natural key; in streaming this pairs with a
    watermark to bound state.
    """
    return df.dropDuplicates(list(VEHICLES_DEDUP_KEY))
