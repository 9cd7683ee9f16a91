"""Incrementally-maintained rollups — TimescaleDB continuous-aggregate
parity (the reference's data model exists to feed hourly/daily aggregates
over the vehicles hypertable; Timescale materializes them incrementally).

Spark-native formulation: a foreachBatch sink that keeps a partitioned
parquet aggregate table current by re-aggregating ONLY the hour partitions
the incoming micro-batch touches — merge existing partials with the
batch's partials and overwrite just those partitions, through
sinks/merge.py's restrict_to_touched and overwrite_partitions. Cost per
trigger is O(touched hours), not O(history), which is what makes the
aggregate maintainable when history is 100 TB. The batch high-water mark
(`_last_committed_batch`, a JSON integer) goes through fs.py's atomic
fs_write_json, so the sink works on any Hadoop-supported store URI.

Aggregates maintained as mergeable partials: count + decimal sum (avg is
derived at read time), so merging old+new partials is exact.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.fs import fs_read_json, fs_write_json, path_exists
from transitlog_hfp_sink_spark.sinks.merge import (
    overwrite_partitions,
    restrict_to_touched,
)

_DEC = "decimal(30,12)"


def detect_granularity(spark: SparkSession, path: str) -> str | None:
    """The physical granularity an existing rollup store was written
    with: "hour" (bucket_date/bucket_hour directories), "date"
    (bucket_date only), or None when the store doesn't exist / has no
    partitions yet. One driver-side FS listing — the same walk the
    compaction/retention jobs do."""
    from transitlog_hfp_sink_spark.sinks.compact import partition_file_stats

    if not path_exists(spark, path):
        return None
    parts = [s["partition"] for s in partition_file_stats(spark, path)]
    parts = [p for p in parts if "bucket_date=" in p]
    if not parts:
        return None
    return "hour" if any("bucket_hour=" in p for p in parts) else "date"


def _aggregate_partials(df: DataFrame, dims: list[str], value: str) -> DataFrame:
    return df.groupBy("bucket", *dims).agg(
        F.count("*").alias("n"),
        F.sum(F.col(value).cast(_DEC)).alias("sum_value_dec"),
    )


def _with_partition_columns(partials: DataFrame) -> DataFrame:
    return partials.withColumn("bucket_date", F.to_date("bucket")).withColumn(
        "bucket_hour", F.hour("bucket")
    )


@dataclass
class ContinuousRollupSink:
    """foreachBatch sink maintaining an hourly rollup table.

    path: rollup store (parquet, partitioned by bucket_date/bucket_hour).
    dims: extra group keys beside the time bucket.
    ts_col/value_col: event-time + measure in the incoming batch.
    """

    spark: SparkSession
    path: str
    ts_col: str
    value_col: str
    dims: list[str]
    #: physical partition granularity of the store: "hour" (default —
    #: hypertable 1 h chunk parity; bucket_date/bucket_hour directories)
    #: or "date" (bucket_date only; hour stays a data column, pruned via
    #: row-group stats). Use "date" when batches routinely touch MANY
    #: hours (historical replays/backfills): the per-partition commit is
    #: driver-side and measured ~9 s per 720 hour-dirs locally, 24x fewer
    #: dirs under "date". Streaming micro-batches touch 1-2 hours and are
    #: unaffected either way.
    granularity: str = "hour"

    def __post_init__(self) -> None:
        if self.granularity not in ("hour", "date"):
            raise ValueError(f"granularity must be hour|date, got {self.granularity!r}")

    def _part_cols(self) -> list[str]:
        return (
            ["bucket_date"]
            if self.granularity == "date"
            else ["bucket_date", "bucket_hour"]
        )

    def _check_layout(self) -> None:
        """Refuse to touch a store whose on-disk granularity differs from
        this sink's: an hour-configured sink against a date store would
        skip every stale partition in refresh() (no bucket_hour key to
        match) and then append a NESTED bucket_date/bucket_hour layout
        into flat date dirs — double counts plus a store Spark can no
        longer read. Checked once per sink instance (one FS listing);
        the layout of an existing store can't change underneath us."""
        if getattr(self, "_layout_ok", False):
            return
        found = detect_granularity(self.spark, self.path)
        if found is not None and found != self.granularity:
            raise ValueError(
                f"rollup store {self.path} is partitioned at "
                f"granularity={found!r} but this sink is configured "
                f"granularity={self.granularity!r}"
            )
        self._layout_ok = True

    def _meta_path(self) -> str:
        return f"{self.path}/_last_committed_batch"

    def _last_committed(self) -> int:
        meta = self._meta_path()
        if not path_exists(self.spark, meta):
            return -1
        try:
            return int(fs_read_json(self.spark, meta))
        except (TypeError, ValueError):
            return -1

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # replay guard, step 1 (fast path): after a failure/restart,
        # Structured Streaming re-delivers the last uncommitted batch with
        # the SAME batch_id; skip ids at or below the high-water mark
        if batch_id <= self._last_committed():
            return
        self._check_layout()
        part_cols = self._part_cols()
        batch_df.persist()
        try:
            batch = batch_df.withColumn(
                "bucket", F.date_trunc("hour", F.col(self.ts_col))
            )
            new_partials = _aggregate_partials(batch, self.dims, self.value_col)
            merged = new_partials
            if path_exists(self.spark, self.path):
                # the partition columns are computed JVM-side with the
                # same to_date/hour expressions that wrote the store, so
                # the touched values match its directories under any
                # session time zone
                existing = restrict_to_touched(
                    self.spark.read.parquet(self.path),
                    _with_partition_columns(new_partials)
                    .select(*part_cols)
                    .distinct(),
                    part_cols,
                )
                if existing is None:
                    return
                # replay guard, step 2 (crash-safe): the partition
                # overwrite below and the meta-file write are two steps; if
                # we crashed between them, the data already carries this
                # batch (every row written in a batch is stamped with
                # last_batch_id, and the partition overwrite commits as one
                # job) — merging again would double-count, so only bump the
                # high-water mark and stop.
                if "last_batch_id" in existing.columns:
                    prev_max = existing.agg(F.max("last_batch_id")).first()[0]
                    if prev_max is not None and prev_max >= batch_id:
                        fs_write_json(self.spark, self._meta_path(), batch_id)
                        return
                merged = (
                    existing.select("bucket", *self.dims, "n", "sum_value_dec")
                    .unionByName(new_partials)
                    .groupBy("bucket", *self.dims)
                    .agg(
                        F.sum("n").alias("n"),
                        F.sum("sum_value_dec").alias("sum_value_dec"),
                    )
                )
            elif new_partials.isEmpty():
                return
            # under "date" granularity the overwrite unit is a date dir:
            # restrict_to_touched read every hour of a touched date into
            # the merge, so no untouched hour is lost with it
            overwrite_partitions(
                _with_partition_columns(merged).withColumn(
                    "last_batch_id", F.lit(batch_id)
                ),
                self.path,
                part_cols,
            )
            fs_write_json(self.spark, self._meta_path(), batch_id)
        finally:
            batch_df.unpersist()

    def read(self) -> DataFrame:
        """The user-facing aggregate view (avg derived from partials)."""
        df = self.spark.read.parquet(self.path)
        return df.select(
            "bucket",
            *self.dims,
            "n",
            F.col("sum_value_dec").cast("double").alias("sum_value"),
            (F.col("sum_value_dec").cast("double") / F.col("n")).alias("avg_value"),
        )

    def refresh(self, base: DataFrame, start: str, end: str) -> dict:
        """``refresh_continuous_aggregate(start, end)`` parity: recompute
        the hour buckets in [start, end) FROM THE BASE TABLE and overwrite
        exactly those partitions — the repair path for late rewrites or a
        corrupted range, O(range) not O(history). start/end are timestamp
        strings compared against the event time column.

        The recomputed partials replace (not merge with) whatever the
        store holds for the range, so a refresh after arbitrary store
        damage converges to the batch truth. Buckets inside the range
        with NO base rows are dropped (their partitions overwritten only
        if the range recompute yields rows for them — fully-empty buckets
        are removed via the retention-style delete below)."""
        from transitlog_hfp_sink_spark.sinks.retention import (
            drop_partitions_older_than,
        )

        self._check_layout()
        for label, v in (("start", start), ("end", end)):
            # TimescaleDB aligns refresh windows to bucket boundaries;
            # an unaligned bound would drop a whole partition while
            # recomputing only part of it — refuse instead. Alignment
            # follows the STORE granularity: hour dirs need hour-aligned
            # bounds, date dirs need day-aligned bounds.
            tail_from = 13 if self.granularity == "hour" else 10
            tail = v.replace("T", " ")[tail_from:]
            if tail.strip(":0 "):
                unit = "an hour" if self.granularity == "hour" else "a day"
                raise ValueError(f"{label}={v!r} is not on {unit} boundary")
        ts = F.col(self.ts_col)
        ts_type = dict(base.dtypes).get(self.ts_col, "timestamp")
        cast_to = ts_type if ts_type.startswith("timestamp") else "timestamp"
        lo, hi = F.lit(start).cast(cast_to), F.lit(end).cast(cast_to)
        ranged = base.where((ts >= lo) & (ts < hi)).withColumn(
            "bucket", F.date_trunc("hour", F.col(self.ts_col))
        )
        partials = _aggregate_partials(ranged, self.dims, self.value_col)
        # Stamp refreshed partitions with the batch high-water mark, NOT a
        # -1 sentinel (ADVICE r4): the recompute-from-base already contains
        # every batch's contribution, so a crash-replayed batch must still
        # trip the step-2 per-partition guard in __call__ or it re-merges
        # rows the refresh covered (double count). The mark is the max of
        # the meta file AND the pre-refresh store stamps in the range —
        # the latter matters in the exact crash window the guard exists
        # for (batch N data written, meta still at N-1: the data stamps
        # carry N, the meta does not).
        stamp = self._last_committed()
        if path_exists(self.spark, self.path):
            store = self.spark.read.parquet(self.path)
            if "last_batch_id" in store.columns:
                btype = dict(store.dtypes).get("bucket", "timestamp")
                blo = F.lit(start).cast(btype)
                bhi = F.lit(end).cast(btype)
                prev = (
                    store.where((F.col("bucket") >= blo) & (F.col("bucket") < bhi))
                    .agg(F.max("last_batch_id"))
                    .first()[0]
                )
                if prev is not None:
                    stamp = max(stamp, prev)
        out = _with_partition_columns(partials).withColumn(
            "last_batch_id", F.lit(stamp)
        )
        # the ranged base scan + aggregation feeds BOTH the bucket count
        # and the append below — persist so the repair path pays for the
        # (dominant) base-table recompute once, not twice (same reasoning
        # as sinks/merge.py's fresh.persist())
        out.persist()
        # drop every store partition inside the range first: dynamic
        # overwrite only replaces partitions present in the output, so a
        # bucket that lost ALL its base rows would otherwise survive stale
        if path_exists(self.spark, self.path):

            def _key(ts_str: str) -> tuple[str, int]:
                t = ts_str.replace("T", " ")
                hour = int(t[11:13]) if len(t) >= 13 else 0
                return t[:10], hour

            k_lo, k_hi = _key(start), _key(end)

            def _in_range(values: dict[str, str]) -> bool:
                d = values.get("bucket_date", "")
                if not d:
                    return False
                if self.granularity == "date":
                    return k_lo[0] <= d < k_hi[0]
                h = values.get("bucket_hour", "")
                if not h.isdigit():
                    return False
                return k_lo <= (d, int(h)) < k_hi

            report = drop_partitions_older_than(
                self.spark, self.path, older_than=_in_range
            )
            if report.get("failed"):
                # appending over a partition we failed to clear would
                # double-count; surface the problem instead
                raise RuntimeError(
                    f"refresh aborted: could not clear partitions "
                    f"{report['failed']}"
                )
        try:
            n_buckets = out.select("bucket").distinct().count()
            # plain append: the range's partitions were cleared above (the
            # delete is the replace step — partitionOverwriteMode only
            # affects mode("overwrite") and has no business here)
            out.write.mode("append").partitionBy(*self._part_cols()).parquet(
                self.path
            )
        finally:
            out.unpersist()
        return {"refreshed_buckets": n_buckets, "start": start, "end": end}
