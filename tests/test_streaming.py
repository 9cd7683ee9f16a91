"""Streaming pipeline: end-to-end micro-batching, dead-letter routing,
checkpoint recovery (at-least-once, SURVEY §2.4 M3), and the throughput
target from BASELINE.md (>=250k rows/s through the transform)."""

import time

import pytest
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.schema import HFP_RAW_SCHEMA
from transitlog_hfp_sink_spark.sources import read_hfp_stream
from transitlog_hfp_sink_spark.sources.protowire import decode_hfp_wire, encode_hfp_wire
from transitlog_hfp_sink_spark.streaming import HfpPipeline
from tests.hfp_fixtures import make_hfp_rows


def _wait(predicate, timeout_s=90.0, poll=0.3):
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if predicate():
            return True
        time.sleep(poll)
    return False


def _write_wire_drops(spark, rows, path, n_files):
    """Fixture rows as ``value binary`` wire files, one message per row."""
    raw = spark.createDataFrame(rows, schema=HFP_RAW_SCHEMA).repartition(n_files)
    encode_hfp_wire(raw).write.mode("append").parquet(path)


@pytest.fixture()
def drops_dir(spark, tmp_path):
    path = str(tmp_path / "drops")
    _write_wire_drops(spark, make_hfp_rows(400), path, 8)
    return path


def test_stream_end_to_end_with_dead_letter(spark, tmp_path, drops_dir):
    out = str(tmp_path / "out")
    dead = str(tmp_path / "dead")

    def sink(df, batch_id):
        df.write.mode("append").parquet(out)

    pipe = HfpPipeline(
        sink=sink, checkpoint=str(tmp_path / "ckpt"), trigger_seconds=0.5,
        dead_letter_path=dead, dedup=True,
    )
    q = pipe.start(read_hfp_stream(spark, drops_dir, max_files_per_trigger=3))
    try:
        assert _wait(
            lambda: q.lastProgress is not None
            and sum(p["numInputRows"] for p in q.recentProgress) >= 400
        )
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert len(got.columns) == 40
    assert got.where(F.col("tst").isNull()).count() == 0
    reasons = {r[0] for r in spark.read.parquet(dead).select("reject_reason").distinct().collect()}
    assert "invalid_protobuf_schema" in reasons


def test_stream_checkpoint_recovery_no_reprocess(spark, tmp_path, drops_dir):
    """Stop the query, restart from the same checkpoint with MORE input:
    only the new files are processed (offsets persisted — the engine-side
    equivalent of ack-after-commit)."""
    out = str(tmp_path / "out")
    counts = []

    def sink(df, batch_id):
        n = df.count()
        df.write.mode("append").parquet(out)
        # count recorded only after the write commits — stopping the query
        # right after _wait must not interrupt an in-flight batch write
        counts.append((batch_id, n))

    ckpt = str(tmp_path / "ckpt")
    pipe = HfpPipeline(sink=sink, checkpoint=ckpt, trigger_seconds=0.3)
    stream = read_hfp_stream(spark, drops_dir, max_files_per_trigger=8)
    q = pipe.start(stream)
    try:
        assert _wait(lambda: sum(n for _, n in counts) >= 390)
    finally:
        q.stop()
    first_total = spark.read.parquet(out).count()

    # add new input, restart from the same checkpoint
    _write_wire_drops(spark, make_hfp_rows(100, seed=99), drops_dir, 1)
    q2 = pipe.start(read_hfp_stream(spark, drops_dir, max_files_per_trigger=8))
    try:
        assert _wait(lambda: spark.read.parquet(out).count() > first_total)
        time.sleep(1.0)
    finally:
        q2.stop()
    final_total = spark.read.parquet(out).count()
    # At-least-once, NOT reprocess-everything: stopping a 0.3 s-trigger
    # query can strand one in-flight batch (written but not committed to
    # the offset log), so up to one batch of replay duplicates is legal —
    # a full restart-from-zero would re-add ~first_total rows. And the
    # dedup view must land exactly on the batch-computed truth, replays
    # and all (SURVEY §2.4 M3).
    assert final_total - first_total < first_total
    from transitlog_hfp_sink_spark.transform import dedup_vehicles, hfp_split

    all_raw = decode_hfp_wire(spark.read.parquet(drops_dir))
    expected = dedup_vehicles(hfp_split(all_raw)[0]).count()
    assert dedup_vehicles(spark.read.parquet(out)).count() == expected


def test_pipeline_builds_split_plan_once_per_query(spark, tmp_path, drops_dir, monkeypatch):
    """The validate/flatten/dead-letter plan is built once when the query
    starts, not once per micro-batch: building it costs ~2k py4j calls."""
    from transitlog_hfp_sink_spark import transform

    calls = []
    flatten = transform.hfp_flatten

    def counting_flatten(*args, **kwargs):
        calls.append(1)
        return flatten(*args, **kwargs)

    monkeypatch.setattr(transform, "hfp_flatten", counting_flatten)
    out, dead = str(tmp_path / "out"), str(tmp_path / "dead")
    pipe = HfpPipeline(
        sink=lambda df, bid: df.write.mode("append").parquet(out),
        checkpoint=str(tmp_path / "ckpt"), trigger_seconds=0.1, dead_letter_path=dead,
    )
    q = pipe.start(read_hfp_stream(spark, drops_dir, max_files_per_trigger=2))
    try:
        q.processAllAvailable()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert len(batches) >= 3
    assert len(calls) == 1
    n_in = sum(p["numInputRows"] for p in batches)
    assert spark.read.parquet(out).count() + spark.read.parquet(dead).count() == n_in


def test_local_master_lists_files_on_driver(spark):
    """Local masters list a file stream batch's files on the driver; any
    other master keeps Spark's distributed-listing default."""
    from transitlog_hfp_sink_spark.session import LISTING_THRESHOLD_CONF, master_conf

    assert int(spark.conf.get(LISTING_THRESHOLD_CONF)) >= 2**31 - 1
    for master in ("local", "local[4]", "local[*]", "local[2,3]"):
        assert master_conf(master) == {LISTING_THRESHOLD_CONF: str(2**31 - 1)}, master
    for master in ("spark://host:7077", "yarn", "k8s://https://h:443", "local-cluster[2,1,1024]"):
        assert master_conf(master) == {}, master


def test_transform_throughput_meets_reference_ceiling(spark):
    """BASELINE.md: the reference's design ceiling is 250k msg/s. The
    engine's transform must sustain that on this box (steady state)."""
    from transitlog_hfp_sink_spark.sources.synthetic import synthetic_hfp_batch
    from transitlog_hfp_sink_spark.transform import hfp_transform

    n = 1_000_000
    batch = synthetic_hfp_batch(spark, n, partitions=8)
    hfp_transform(batch).write.format("noop").mode("overwrite").save()  # warmup
    t0 = time.time()
    hfp_transform(batch).write.format("noop").mode("overwrite").save()
    rate = n / (time.time() - t0)
    assert rate >= 250_000, f"{rate:,.0f} rows/s"


def test_stateful_sessionize_state_spans_micro_batches(spark, tmp_path):
    """A session crossing a micro-batch boundary must stay ONE session:
    per-user state carries (start, last_ts, n, sum) across batches."""
    import datetime as dt

    from transitlog_hfp_sink_spark.streaming.stateful import streaming_sessionize

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    d = str(tmp_path / "drops")
    schema = "user_id long, ts timestamp, value double"
    # batch 1: two events 10:00, 10:10 (open session)
    spark.createDataFrame(
        [(1, base, 1.0), (1, base + dt.timedelta(minutes=10), 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(d)
    # batch 2: 10:20 (continues session), 11:30 (new session after gap)
    spark.createDataFrame(
        [
            (1, base + dt.timedelta(minutes=20), 3.0),
            (1, base + dt.timedelta(minutes=90), 4.0),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    # flush_final=False: unbounded semantics — only sessions CLOSED by a
    # gap are emitted; the session spanning the two files must come out as
    # one row (state carried across batches), the 11:30 one stays open
    q = (
        streaming_sessionize(stream, gap_seconds=1800, flush_final=False)
        .writeStream.format("memory")
        .queryName("span_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("span_test").collect()
    assert len(rows) == 1
    (s1,) = rows
    assert s1["n_events"] == 3 and s1["total_value"] == 6.0  # spans both files
    assert str(s1["session_end"]) == "2024-01-01 10:20:00"


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data handling (absent in the reference, SURVEY §2.4 end note):
    a watermarked windowed count must exclude an event arriving after the
    watermark passed its window."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    d = str(tmp_path / "drops")
    schema = "user_id long, ts timestamp, value double"
    # batch 1: two rows in window 10:00 + one at 12:00 (watermark -> 11:50)
    spark.createDataFrame(
        [(1, base, 1.0), (1, base + dt.timedelta(minutes=5), 1.0),
         (1, base + dt.timedelta(hours=2), 1.0)],
        schema,
    ).coalesce(1).write.mode("append").parquet(d)

    stream = spark.readStream.schema(schema).parquet(d)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("bucket"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0.5 seconds")
        .start()
    )
    try:
        # wait until the first file is consumed (watermark now 11:50)
        assert _wait(
            lambda: q.lastProgress is not None
            and sum(p["numInputRows"] for p in q.recentProgress) >= 3
        )
        # NOW drop the late row for window 10:00 — beyond the watermark
        spark.createDataFrame(
            [(1, base + dt.timedelta(minutes=2), 1.0)], schema
        ).coalesce(1).write.mode("append").parquet(d)
        assert _wait(
            lambda: q.lastProgress is not None
            and sum(p["numInputRows"] for p in q.recentProgress) >= 4
        )
        assert _wait(
            lambda: any(
                str(r["bucket"]) == "2024-01-01 10:00:00"
                for r in spark.table("wm_test").collect()
            )
        )
    finally:
        q.stop()
    got = {str(r["bucket"]): r["n"] for r in spark.table("wm_test").collect()}
    # the 10:00 window was finalized with its 2 on-time rows; the late
    # third row was dropped, not re-emitted
    assert got.get("2024-01-01 10:00:00") == 2


def test_rate_logging_listener_captures_progress(
    spark, tmp_path, drops_dir, monkeypatch
):
    """M6 parity: the listener must record per-batch input rows/rates,
    and its history stays at a fixed cap however many batches run."""
    from types import SimpleNamespace

    from transitlog_hfp_sink_spark.streaming import RateLoggingListener, pipeline

    listener = RateLoggingListener()
    spark.streams.addListener(listener)
    try:
        out = str(tmp_path / "out")
        pipe = HfpPipeline(
            sink=lambda df, bid: df.write.mode("append").parquet(out),
            checkpoint=str(tmp_path / "ckpt"),
            trigger_seconds=0.3,
        )
        q = pipe.start(read_hfp_stream(spark, drops_dir, max_files_per_trigger=8))
        try:
            assert _wait(lambda: sum(p["numInputRows"] for p in listener.progress) >= 400)
        finally:
            q.stop()
        assert any(p["numInputRows"] > 0 for p in listener.progress)
        assert all("batchId" in p for p in listener.progress)
    finally:
        spark.streams.removeListener(listener)

    monkeypatch.setattr(pipeline, "PROGRESS_HISTORY", 3)
    capped = RateLoggingListener()
    for bid in range(10):
        capped.onQueryProgress(SimpleNamespace(progress=SimpleNamespace(
            batchId=bid, numInputRows=1, inputRowsPerSecond=1.0,
            processedRowsPerSecond=1.0,
        )))
    assert [p["batchId"] for p in capped.progress] == [7, 8, 9]


def test_connector_stream_frames_are_decoded(spark, tmp_path):
    """read_hfp_stream's connector branch (pulsar/kafka) must hand
    HfpPipeline decoded HFP rows, not raw connector frames. The connector
    jars are not on the classpath, so a test-only stream source registered
    as format "pulsar" stands in: it emits Pulsar-shaped frames whose
    binary value column carries Hfp.Data wire bytes, one per fixture row
    (undecodable bytes for the invalid-schema rows), plus one NULL frame,
    which must dead-letter rather than fail the batch. The reader also
    checks that the F2 rate limit reaches the connector."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    from transitlog_hfp_sink_spark.app import make_sink
    from transitlog_hfp_sink_spark.config import PipelineConfig
    from transitlog_hfp_sink_spark.sources.protowire import (
        INVALID_WIRE_BYTES,
        encode_data,
    )
    from transitlog_hfp_sink_spark.transform import hfp_split

    rows = make_hfp_rows()
    frames = [
        encode_data(dict(r["topic"]), dict(r["payload"]))
        if r["schema_valid"] else INVALID_WIRE_BYTES
        for r in rows
    ] + [None]  # a NULL frame, e.g. a Kafka tombstone
    rate_limit = PipelineConfig().max_rows_per_trigger

    class FakePulsarReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            assert options.get("topic") == "hfp-data", options
            assert options.get("maxEntriesPerTrigger") == str(rate_limit), options

        def initialOffset(self):  # noqa: N802
            return {"entry": 0}

        def _frames(self, lo, hi):
            return iter([
                (frames[i], b"key", "hfp-data", i.to_bytes(8, "big"))
                for i in range(lo, hi)
            ])

        def read(self, start):
            return self._frames(start["entry"], len(frames)), {"entry": len(frames)}

        def readBetweenOffsets(self, start, end):  # noqa: N802
            return self._frames(start["entry"], end["entry"])

    class FakePulsar(DataSource):
        @classmethod
        def name(cls):
            return "pulsar"

        def schema(self):
            return "value binary, __key binary, __topic string, __messageId binary"

        def simpleStreamReader(self, schema):  # noqa: N802
            return FakePulsarReader(self.options)

    try:
        spark.dataSource.register(FakePulsar)
    except AnalysisException as e:
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
            raise
        pytest.skip("a real pulsar connector is on the classpath")
    want_valid, want_dead = (
        df.count()
        for df in hfp_split(spark.createDataFrame(rows, schema=HFP_RAW_SCHEMA))
    )
    assert want_valid > 0 and want_dead > 0

    sink, dead = str(tmp_path / "sink"), str(tmp_path / "dead")
    pipe = HfpPipeline(
        sink=make_sink(f"parquet:{sink}"), checkpoint=str(tmp_path / "ckpt"),
        trigger_seconds=0.3, dead_letter_path=dead,
    )
    q = pipe.start(read_hfp_stream(
        spark, "hfp-data", fmt="pulsar", max_rows_per_trigger=rate_limit
    ))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(sink).count() == want_valid
    assert spark.read.parquet(dead).count() == want_dead + 1  # + the NULL frame


def test_cross_batch_dedup_within_watermark(spark, tmp_path):
    """At-least-once -> effectively-once across micro-batches: a replayed
    row in a LATER batch is dropped by dropDuplicatesWithinWatermark
    (state bounded by the watermark — the scalable form of M3 dedup)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    d = str(tmp_path / "drops")
    schema = "user_id long, ts timestamp, value double"
    spark.createDataFrame(
        [(1, base, 1.0), (2, base + dt.timedelta(minutes=1), 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(d)

    stream = spark.readStream.schema(schema).parquet(d)
    deduped = stream.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["user_id", "ts"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("xdedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0.5 seconds")
        .start()
    )
    try:
        assert _wait(lambda: spark.table("xdedup").count() >= 2)
        # replay row (1, base) in a NEW file/batch + one genuinely new row
        spark.createDataFrame(
            [(1, base, 1.0), (3, base + dt.timedelta(minutes=2), 3.0)], schema
        ).coalesce(1).write.mode("append").parquet(d)
        assert _wait(lambda: spark.table("xdedup").count() >= 3)
        time.sleep(2.0)  # allow any (wrong) duplicate to surface
    finally:
        q.stop()
    rows = [(r["user_id"], str(r["ts"])) for r in spark.table("xdedup").collect()]
    assert len(rows) == 3  # the replayed (1, base) did NOT appear twice
    assert len(set(rows)) == 3


def test_stream_static_broadcast_enrichment(spark, sf_dir, tmp_path):
    """Stream-STATIC enrichment: the streaming side joins a small static
    dimension that is broadcast per micro-batch — the standard pattern
    for decorating a 100 TB stream with reference data (no state store,
    no watermark needed; the static side never shuffles the stream)."""
    import uuid

    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select("event_id", "user_id", "event_type")
    )
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    enriched = stream.join(F.broadcast(dim), on="event_type", how="left")
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table(name)
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "event_type")
        .join(dim, on="event_type", how="left")
    )
    assert got.count() == batch.count()
    assert got.where(F.col("weight").isNull()).count() == batch.where(
        F.col("weight").isNull()
    ).count()
    # spot-check a few rows against the batch twin
    sample = {r["event_id"]: r for r in got.limit(50).collect()}
    want = {
        r["event_id"]: r
        for r in batch.where(F.col("event_id").isin(list(sample))).collect()
    }
    for eid, r in sample.items():
        assert r["weight"] == want[eid]["weight"]
        assert r["event_type"] == want[eid]["event_type"]
