"""Continuous-aggregate sink: incremental maintenance must converge to the
batch rollup, including when later batches revisit old hours (the case
that forces partial-merge rather than blind append)."""

import time

import pytest
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.sources.files import read_table
from transitlog_hfp_sink_spark.streaming.rollup_sink import ContinuousRollupSink


def test_incremental_rollup_converges_to_batch(spark, sf_dir, tmp_path):
    ev = read_table(spark, sf_dir, "events").cache()
    # split in a way that makes batch 2 revisit batch 1's hours
    b1 = ev.where(F.col("event_id") % 2 == 0)
    b2 = ev.where(F.col("event_id") % 2 == 1)

    sink = ContinuousRollupSink(
        spark=spark, path=str(tmp_path / "rollup"),
        ts_col="ts", value_col="value", dims=["event_type"],
    )
    sink(b1, 0)
    mid = sink.read()
    assert mid.agg(F.sum("n")).first()[0] == b1.count()
    sink(b2, 1)

    got = sink.read()
    expected = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(30,12)")).cast("double").alias("sum_value"),
    )
    g = {
        (str(r["bucket"]), r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in got.collect()
    }
    e = {
        (str(r["bucket"]), r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in expected.collect()
    }
    assert g == e


def test_rollup_sink_streaming_end_to_end(spark, sf_dir, tmp_path):
    """Drive it as a real foreachBatch sink over a 2-batch file stream."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
    sink = ContinuousRollupSink(
        spark=spark, path=str(tmp_path / "rollup"),
        ts_col="ts", value_col="value", dims=["event_type"],
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    total = sink.read().agg(F.sum("n")).first()[0]
    assert total == read_table(spark, sf_dir, "events").count()


def test_rollup_replay_guard(spark, sf_dir, tmp_path):
    """Re-delivering a batch id (checkpoint replay after failure) must NOT
    double-count."""
    ev = read_table(spark, sf_dir, "events")
    sink = ContinuousRollupSink(
        spark=spark, path=str(tmp_path / "rollup"),
        ts_col="ts", value_col="value", dims=["event_type"],
    )
    sink(ev, 0)
    before = sink.read().agg(F.sum("n")).first()[0]
    sink(ev, 0)  # replay of the same batch id
    after = sink.read().agg(F.sum("n")).first()[0]
    assert before == after == ev.count()


def test_replay_after_lost_meta_does_not_double_count(spark, sf_dir, tmp_path):
    """Crash window: partition overwrite committed but the meta high-water
    write was lost. The replayed batch (same id) must detect its own
    last_batch_id stamp in the data and skip the merge."""
    import os

    ev = read_table(spark, sf_dir, "events").cache()
    b1 = ev.where(F.col("event_id") % 2 == 0)
    sink = ContinuousRollupSink(
        spark=spark, path=str(tmp_path / "rollup"),
        ts_col="ts", value_col="value", dims=["event_type"],
    )
    sink(b1, 0)
    total = sink.read().agg(F.sum("n")).first()[0]
    # simulate the crash-between-steps: data committed, meta lost
    os.remove(sink._meta_path())
    sink(b1, 0)  # replay with the same batch_id
    assert sink.read().agg(F.sum("n")).first()[0] == total
    # and the high-water mark was re-established
    assert sink._last_committed() == 0
    ev.unpersist()


def test_replay_after_refresh_does_not_double_count(spark, sf_dir, tmp_path):
    """ADVICE r4: crash window where a batch's DATA committed but its meta
    write was lost, and a refresh then recomputes (only) the partitions
    that batch touched. The refresh stamps the store with the current
    high-water mark (not -1), so the replayed batch id still trips the
    step-2 per-partition guard instead of re-merging rows the refresh
    already recomputed from base."""
    import os

    ev = read_table(spark, sf_dir, "events").cache()
    sink = ContinuousRollupSink(
        spark=spark, path=str(tmp_path / "rollup"),
        ts_col="ts", value_col="value", dims=["event_type"],
    )
    sink(ev, 0)
    total = sink.read().agg(F.sum("n")).first()[0]
    assert total == ev.count()
    # crash between data write and meta write of batch 0
    os.remove(sink._meta_path())
    # a refresh over the whole touched range recomputes from base
    bounds = ev.agg(
        F.date_format(F.date_trunc("hour", F.min("ts")), "yyyy-MM-dd HH:00:00"),
        F.date_format(
            F.date_trunc("hour", F.max("ts")) + F.expr("INTERVAL 1 HOUR"),
            "yyyy-MM-dd HH:00:00",
        ),
    ).first()
    sink.refresh(ev, bounds[0], bounds[1])
    assert sink.read().agg(F.sum("n")).first()[0] == total
    sink(ev, 0)  # checkpoint replay of the lost-meta batch
    assert sink.read().agg(F.sum("n")).first()[0] == total  # no double count
    ev.unpersist()


def _parquet_files_by_dir(root):
    """{partition dir: sorted parquet file names} under a local store."""
    import os

    out = {}
    for dirpath, _, files in os.walk(root):
        names = sorted(f for f in files if f.endswith(".parquet"))
        if names:
            out[os.path.relpath(dirpath, root)] = names
    return out


def test_conf_restored_after_write(spark, sf_dir, tmp_path):
    """The read-modify-overwrite writers (rollup sink, upsert,
    compaction) replace only the partitions they touch without relying
    on the session-wide partitionOverwriteMode: under "static" they
    still leave every other partition's files alone, and they leave the
    conf at "static"."""
    from transitlog_hfp_sink_spark.sinks.compact import compact_partitioned
    from transitlog_hfp_sink_spark.sinks.merge import upsert_partitioned

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(conf_key, "static")
    try:
        # rollup sink: batch 1 revisits only the first hour of batch 0
        ev = read_table(spark, sf_dir, "events").orderBy("ts").limit(30).cache()
        first_hour = ev.select(
            F.date_format(F.min(F.date_trunc("hour", "ts")), "yyyy-MM-dd HH:00:00")
        ).first()[0]
        b1 = ev.where(
            F.date_trunc("hour", "ts") == F.lit(first_hour).cast("timestamp")
        )
        root = str(tmp_path / "rollup")
        sink = ContinuousRollupSink(
            spark=spark, path=root,
            ts_col="ts", value_col="value", dims=["event_type"],
        )
        sink(ev, 0)
        before = _parquet_files_by_dir(root)
        sink(b1, 1)
        after = _parquet_files_by_dir(root)
        assert before.keys() == after.keys() and len(before) > 1
        assert [d for d in before if before[d] != after[d]] == [
            f"bucket_date={first_hour[:10]}/bucket_hour={int(first_hour[11:13])}"
        ]
        assert sink.read().agg(F.sum("n")).first()[0] == 30 + b1.count()
        assert spark.conf.get(conf_key) == "static"
        ev.unpersist()

        # upsert: only the updated key's partition is rewritten
        schema = "k long, day string, v string"
        store = str(tmp_path / "tbl")
        seed = [(1, "d1", "a"), (2, "d2", "b"), (3, "d3", "c")]
        upsert_partitioned(
            spark, store, spark.createDataFrame(seed, schema),
            key_cols=["k"], partition_cols=["day"],
        )
        before = _parquet_files_by_dir(store)
        upsert_partitioned(
            spark, store, spark.createDataFrame([(2, "d2", "b2")], schema),
            key_cols=["k"], partition_cols=["day"],
        )
        after = _parquet_files_by_dir(store)
        assert before.keys() == after.keys()
        assert [d for d in before if before[d] != after[d]] == ["day=d2"]
        assert sorted(
            (r["k"], r["day"], r["v"]) for r in spark.read.parquet(store).collect()
        ) == [(1, "d1", "a"), (2, "d2", "b2"), (3, "d3", "c")]
        assert spark.conf.get(conf_key) == "static"

        # compaction: only the fragmented partition is rewritten
        frag = str(tmp_path / "frag")
        for i in range(3):
            spark.range(i * 10, (i + 1) * 10).select(
                "id", F.lit(0).alias("p")
            ).repartition(2).write.mode("append").partitionBy("p").parquet(frag)
        spark.range(100, 110).select("id", F.lit(1).alias("p")).coalesce(
            1
        ).write.mode("append").partitionBy("p").parquet(frag)
        before = _parquet_files_by_dir(frag)
        report = compact_partitioned(spark, frag, ["p"], max_files_per_partition=2)
        assert report["partitions_compacted"] == 1
        after = _parquet_files_by_dir(frag)
        assert after["p=1"] == before["p=1"]
        assert len(after["p=0"]) == 1
        assert spark.read.parquet(frag).count() == 40
        assert spark.conf.get(conf_key) == "static"
    finally:
        spark.conf.unset(conf_key)


def test_rollup_sink_on_uri_store(spark, sf_dir, tmp_path):
    """A scheme-qualified store URI: the batch high-water mark goes
    through the store's Hadoop FileSystem like the data does, so both
    batches commit, the mark advances and a replay is skipped."""
    ev = read_table(spark, sf_dir, "events").orderBy("ts").limit(30).cache()
    sink = ContinuousRollupSink(
        spark=spark, path=f"file://{tmp_path}/rollup",
        ts_col="ts", value_col="value", dims=["event_type"],
    )
    sink(ev.where(F.col("event_id") % 2 == 0), 0)
    sink(ev.where(F.col("event_id") % 2 == 1), 1)
    sink(ev, 1)  # checkpoint replay of the last batch id
    assert sink.read().agg(F.sum("n")).first()[0] == ev.count()
    assert sink._last_committed() == 1
    ev.unpersist()


@pytest.mark.parametrize("granularity", ["hour", "date"])
def test_semi_join_branch_matches_listed_branch(
    spark, sf_dir, tmp_path, monkeypatch, granularity
):
    """Above MAX_TOUCHED_LIST touched partitions the store is restricted
    by a broadcast semi-join instead of a listed partition filter; both
    must merge the same partials, at both granularities (a date-dir
    overwrite must read every hour of a touched date)."""
    from transitlog_hfp_sink_spark.sinks import merge

    ev = read_table(spark, sf_dir, "events").orderBy("ts").limit(30).cache()
    b0 = ev.where(F.col("event_id") % 2 == 0)
    b1 = ev.where(F.col("event_id") % 3 == 0)  # revisits some of b0's hours

    def run(name):
        sink = ContinuousRollupSink(
            spark=spark, path=str(tmp_path / name),
            ts_col="ts", value_col="value", dims=["event_type"],
            granularity=granularity,
        )
        sink(b0, 0)
        sink(b1, 1)
        return {
            (str(r["bucket"]), r["event_type"]): (r["n"], round(r["sum_value"], 6))
            for r in sink.read().collect()
        }

    listed = run("listed")
    monkeypatch.setattr(merge, "MAX_TOUCHED_LIST", 0)
    assert run("semi") == listed
    assert sum(n for n, _ in listed.values()) == b0.count() + b1.count()
    ev.unpersist()


def test_refresh_range_repairs_damage_and_drops_stale(spark, sf_dir, tmp_path):
    """refresh_continuous_aggregate parity (round 4): after arbitrary
    store damage inside a bucket range — corrupted partials AND a stale
    bucket whose base rows vanished — refresh(start, end) converges the
    range to the batch truth and leaves everything outside untouched."""
    import glob
    import shutil

    ev = read_table(spark, sf_dir, "events").cache()
    sink = ContinuousRollupSink(
        spark=spark, path=str(tmp_path / "rollup"),
        ts_col="ts", value_col="value", dims=["event_type"],
    )
    sink(ev, 0)
    truth = {
        (str(r["bucket"]), r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in sink.read().collect()
    }

    # damage: double-write one partition's files (double counts) and keep
    # a partition whose base data will be filtered away (stale bucket)
    parts = sorted(glob.glob(str(tmp_path / "rollup" / "bucket_date=*/bucket_hour=*")))
    assert len(parts) > 30
    victim = parts[5]
    for f in glob.glob(victim + "/part-*.parquet"):
        shutil.copy(f, f.replace("part-", "dup-part-"))
    damaged = {
        (str(r["bucket"]), r["event_type"])
        for r in sink.read().collect()
    }
    assert damaged  # still readable, but counts in the victim doubled

    # refresh one full day covering the victim partition
    date = victim.split("bucket_date=")[1].split("/")[0]
    start, end_excl = f"{date} 00:00:00", None
    import datetime as dt

    end_excl = (
        dt.date.fromisoformat(date) + dt.timedelta(days=1)
    ).isoformat() + " 00:00:00"
    report = sink.refresh(ev, start, end_excl)
    assert report["refreshed_buckets"] > 0

    got = {
        (str(r["bucket"]), r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in sink.read().collect()
    }
    assert got == truth

    # mid-hour bounds are refused (bucket-boundary alignment)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hour boundary"):
        sink.refresh(ev, f"{date} 00:30:00", end_excl)


def test_refresh_with_empty_base_drops_range_buckets(spark, sf_dir, tmp_path):
    """A refreshed range whose base rows vanished ends up EMPTY in the
    store (delete-then-rewrite, not merge) — the late-delete repair path."""
    ev = read_table(spark, sf_dir, "events").cache()
    sink = ContinuousRollupSink(
        spark=spark, path=str(tmp_path / "rollup"),
        ts_col="ts", value_col="value", dims=["event_type"],
    )
    sink(ev, 0)
    first_day = str(sink.read().agg(F.min("bucket")).first()[0])[:10]
    import datetime as dt

    nxt = (dt.date.fromisoformat(first_day) + dt.timedelta(days=1)).isoformat()
    before = sink.read().where(F.to_date("bucket") == first_day).count()
    assert before > 0
    sink.refresh(ev.limit(0), f"{first_day} 00:00:00", f"{nxt} 00:00:00")
    after = sink.read().where(F.to_date("bucket") == first_day).count()
    assert after == 0
    # everything outside the range untouched
    assert sink.read().where(F.to_date("bucket") != first_day).count() > 0


def test_date_granularity_store_converges_and_refreshes(spark, sf_dir, tmp_path):
    """granularity='date' (round 4 — for replay/backfill batches that
    touch every hour): one directory level, same merge semantics; refresh
    requires day-aligned bounds and converges after damage."""
    import datetime as dt
    import glob
    import shutil

    ev = read_table(spark, sf_dir, "events").cache()
    sink = ContinuousRollupSink(
        spark=spark, path=str(tmp_path / "rollup"),
        ts_col="ts", value_col="value", dims=["event_type"],
        granularity="date",
    )
    b1 = ev.where(F.col("event_id") % 2 == 0)
    b2 = ev.where(F.col("event_id") % 2 == 1)
    sink(b1, 0)
    sink(b2, 1)
    assert not glob.glob(str(tmp_path / "rollup" / "bucket_date=*/bucket_hour=*"))
    assert glob.glob(str(tmp_path / "rollup" / "bucket_date=*"))
    truth = {
        (str(r["bucket"]), r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in sink.read().collect()
    }
    expected_n = ev.count()
    assert sum(v[0] for v in truth.values()) == expected_n

    victim = sorted(glob.glob(str(tmp_path / "rollup" / "bucket_date=*")))[2]
    for f in glob.glob(victim + "/part-*.parquet"):
        shutil.copy(f, f.replace("part-", "dup-part-"))
    date = victim.split("bucket_date=")[1].rstrip("/")
    nxt = (dt.date.fromisoformat(date) + dt.timedelta(days=1)).isoformat()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="day boundary"):
        sink.refresh(ev, f"{date} 05:00:00", f"{nxt} 00:00:00")
    sink.refresh(ev, f"{date} 00:00:00", f"{nxt} 00:00:00")
    got = {
        (str(r["bucket"]), r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in sink.read().collect()
    }
    assert got == truth
