"""Sources: the HFP wire-frame stream, plus the testdata tables (TESTDATA.md).

The production source in the reference is a Pulsar consumer
(MessageProcessor.java:102, environment.conf:4-11). On Spark that is a
one-line swap: ``spark.readStream.format("pulsar")`` (StreamNative
connector) or ``format("kafka")`` — see ``read_hfp_stream(fmt=...)``.
Without the connector jars the file stream carries the same wire frames
(``value binary`` parquet), so every format runs the identical plan
(decode -> transform -> foreachBatch); offsets/acks live in the checkpoint
either way (SURVEY §2.4 M3 mapping).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from transitlog_hfp_sink_spark.sources.protowire import decode_hfp_wire

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: analyzed-plan memo (round 11): spark.read.parquet lists the directory
#: and reads the footer schema on the DRIVER every call, and the widen
#: probe adds an .rdd round-trip — ~0.1-0.2 s of py4j per query BUILD for
#: a plan that is identical every time (the driver testdata is
#: read-only). Keyed by (appId, sf_dir, name, widen) and cleared when the
#: session changes, exactly like queries/hfp.py's _SYNTH_CACHE (no
#: tz-sensitive expressions here: the ts conversion is integer math +
#: timestamp_micros). This memoizes a PLAN, never results — every
#: execution still scans the parquet.
_READ_CACHE: dict[tuple[str, str, str, bool], DataFrame] = {}


def read_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool = False
) -> DataFrame:
    """One driver testdata table (TESTDATA.md).

    events.parquet stores ts as TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; read it as raw int64 nanos (legacy conf) and convert
    with exact integer math (DIV 1000 -> micros), matching DuckDB's
    truncation semantics for TIMESTAMP_NS.

    widen=True: see _widen_small_scan — for compute-heavy consumers
    (tokenize/shingle/cosine over documents/embeddings) whose per-row
    cost dwarfs one small shuffle. Scan-light relational queries must
    NOT widen (measured: the extra exchange nearly doubled the TPC-H
    suite at sf0.1 for zero map-stage benefit).

    Plans are memoized per (session, sf_dir, table, widen) — see
    _READ_CACHE. Rewriting a table in place mid-session and re-reading
    it through read_table would serve the stale file listing; the driver
    testdata this function reads is immutable, and every other reader in
    the engine goes through spark.read directly.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name, widen)
    cached = _READ_CACHE.get(key)
    if cached is not None:
        return cached
    if _READ_CACHE and next(iter(_READ_CACHE))[0] != key[0]:
        _READ_CACHE.clear()  # new session: drop plans bound to the old one
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
            )
    else:
        df = spark.read.parquet(path)
    out = _widen_small_scan(spark, df) if widen else df
    _READ_CACHE[key] = out
    return out


def _widen_small_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Small-file inputs scan as ONE task (single-row-group parquet is
    unsplittable), so every compute-heavy map stage (tokenize, shingle,
    cosine) would run on one core until the first exchange. Round-robin
    the rows across the session's parallelism when the scan is far
    narrower than it — the repartition of a few MB is noise next to a
    32x map-stage win. At production scale inputs carry thousands of
    scan partitions and this branch never fires; results are unaffected
    either way (no operator depends on partition layout: keys are
    hash-derived, orderings explicit)."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 4 <= target:
        return df.repartition(target)
    return df


def read_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: read_table(spark, sf_dir, t) for t in TABLES}


#: per connector: the option naming the topic, and the per-trigger rate
#: limit that replaces the reference's queue-full drop (SURVEY §2.2 F2)
_TOPIC_OPTION = {"pulsar": "topic", "kafka": "subscribe"}
_RATE_OPTION = {"pulsar": "maxEntriesPerTrigger", "kafka": "maxOffsetsPerTrigger"}


def read_hfp_stream(
    spark: SparkSession,
    path_or_topic: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    max_rows_per_trigger: int | None = None,
    **options: str,
) -> DataFrame:
    """Streaming read of ``Hfp.Data`` wire frames, decoded by
    ``decode_hfp_wire`` into HFP_RAW_SCHEMA-shaped rows, so every source
    feeds ``hfp_split`` the same way.

    fmt="parquet": file-drop stream of ``value binary`` parquet files, one
      message per row; ``max_files_per_trigger`` bounds each batch.
    fmt="pulsar": StreamNative connector — options should carry
      ``service.url`` and ``subscriptionName`` (environment.conf:4-11);
      ``max_rows_per_trigger`` becomes ``maxEntriesPerTrigger``.
    fmt="kafka": options carry ``kafka.bootstrap.servers``;
      ``max_rows_per_trigger`` becomes ``maxOffsetsPerTrigger``.
    """
    if fmt == "parquet":
        reader = spark.readStream.schema("value binary").format(fmt)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    else:
        reader = spark.readStream.format(fmt).option(_TOPIC_OPTION[fmt], path_or_topic)
        if max_rows_per_trigger:
            reader = reader.option(_RATE_OPTION[fmt], str(max_rows_per_trigger))
    for k, v in options.items():
        reader = reader.option(k, v)
    return decode_hfp_wire(reader.load(path_or_topic if fmt == "parquet" else None))
