"""Synthetic HFP generator — rate source -> HFP_RAW_SCHEMA rows.

Used for the streaming-throughput benchmark (BASELINE.md: the reference's
design ceiling is 250 000 msg/s = QUEUE_MAX_SIZE / dumpInterval,
MessageProcessor.java:28 + environment.conf:18). All columns are derived
deterministically from the rate source's (timestamp, value) with built-in
expressions, so generation itself runs at JVM speed and the measured cost
is the transform + sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _zpad(col, width: int):
    """format_string's %0Nd for 0 <= col < 10**width without a
    java.util.Formatter per row: one '0' for each power of ten col is
    below, then its digits."""
    zeros = [F.when(col < 10**k, F.lit("0")).otherwise(F.lit("")) for k in range(1, width)]
    return F.concat(*zeros, col.cast("string"))


def _hfp_columns(df: DataFrame) -> DataFrame:
    v = F.col("value")
    veh = (v % 1000).cast("int")
    oper = (v % 50).cast("int")
    hh_mm = F.concat(_zpad(v % 24, 2), F.lit(":"), _zpad(v % 60, 2))
    return df.select(
        F.lit(True).alias("schema_valid"),
        F.struct(
            (F.unix_millis(F.col("timestamp"))).alias("received_at"),
            F.lit("/hfp/").alias("topic_prefix"),
            F.lit("v2").alias("topic_version"),
            F.element_at(
                F.array(F.lit("journey"), F.lit("deadrun"), F.lit("signoff")),
                (v % 3 + 1).cast("int"),
            ).alias("journey_type"),
            F.when(v % 10 < 9, F.lit("ongoing")).otherwise(F.lit("upcoming")).alias(
                "temporal_type"
            ),
            F.lit("VP").alias("event_type"),
            F.lit("bus").alias("transport_mode"),
            oper.alias("operator_id"),
            veh.alias("vehicle_number"),
            F.concat(_zpad(oper, 4), F.lit("/"), _zpad(veh, 5)).alias("unique_vehicle_id"),
            F.concat(F.lit("2"), (v % 550).cast("string")).alias("route_id"),
            (v % 2 + 1).cast("int").alias("direction_id"),
            F.lit("Itäkeskus").alias("headsign"),
            hh_mm.alias("start_time"),
            (v % 9999).cast("string").alias("next_stop"),
            (v % 6).cast("int").alias("geohash_level"),
            (F.lit(60.0) + (v % 1000) / 2000.0).alias("latitude"),
            (F.lit(24.5) + (v % 1000) / 1000.0).alias("longitude"),
        ).alias("topic"),
        F.struct(
            (v % 550).cast("string").alias("desi"),
            (v % 2 + 1).cast("string").alias("dir"),
            oper.alias("oper"),
            veh.alias("veh"),
            F.date_format(F.col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSS").alias("tst"),
            F.unix_seconds(F.col("timestamp")).alias("tsi"),
            ((v % 250) / 10.0).alias("spd"),
            (v % 360).cast("int").alias("hdg"),
            (F.lit(60.0) + (v % 1000) / 2000.0).alias("lat"),
            (F.lit(24.5) + (v % 1000) / 1000.0).alias("long"),
            ((v % 50) / 10.0 - 2.5).alias("acc"),
            (v % 600 - 300).cast("int").alias("dl"),
            (v % 100000).cast("double").alias("odo"),
            (v % 2).cast("string").alias("drst"),
            F.date_format(F.col("timestamp"), "yyyy-MM-dd").alias("oday"),
            (v % 100000).cast("int").alias("jrn"),
            (v % 550).cast("int").alias("line"),
            hh_mm.alias("start"),
            F.lit("GPS").alias("loc"),
            (v % 9999).cast("int").alias("stop"),
            (v % 550).cast("string").alias("route"),
            (v % 101).cast("int").alias("occu"),
        ).alias("payload"),
    )


def synthetic_hfp_stream(spark: SparkSession, rows_per_second: int = 300_000) -> DataFrame:
    """Unbounded synthetic HFP stream at the requested rate."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .option("numPartitions", str(spark.sparkContext.defaultParallelism))
        .load()
    )
    return _hfp_columns(rate)


def synthetic_hfp_batch(spark: SparkSession, n_rows: int, partitions: int = 32) -> DataFrame:
    """Bounded synthetic HFP batch (throughput micro-bench, fixtures)."""
    df = spark.range(0, n_rows, 1, partitions).select(
        F.col("id").alias("value"),
        F.timestamp_millis(
            F.lit(1704067200000) + F.col("id") * 40  # 2024-01-01, 25k rows/s of event time
        ).alias("timestamp"),
    )
    return _hfp_columns(df)
