"""Small-file compaction for partitioned parquet sinks.

A 1-second micro-batch sink (streaming/pipeline.py, the reference's dump
interval — MessageProcessor.java's 1 s cadence) writes at least one file
per trigger per partition: a day of HFP traffic leaves ~86k files per
hour-partition, and at 100 TB the NameNode/object-store listing and the
per-file scan-open cost dominate query latency long before data size
does (TimescaleDB's chunk-compaction job exists for the same reason —
this is the engine-side equivalent for the parquet hypertable layout).

Shape:
- inspect file counts per partition via ONE Hadoop FS recursive listing
  (driver-side metadata only, no data read);
- rewrite ONLY partitions whose file count exceeds the threshold, each
  coalesced to ceil(partition_bytes / target_file_bytes) files;
- commit each through sinks/merge.py's overwrite_partitions (dynamic
  partition overwrite): file replacement defers to job commit, so a
  mid-job crash leaves the old files in place;
- untouched partitions are never listed by the writer, never rewritten,
  never at risk.

Cost per call is O(oversized partitions), not O(table): run it behind
the streaming sink on a timer (or per N triggers) and the table
converges to target-size files while the stream keeps appending to the
current hour.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.fs import hadoop_fs, path_exists
from transitlog_hfp_sink_spark.sinks.merge import overwrite_partitions

#: 128 MiB — the classic HDFS-block-aligned parquet target
DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def partition_file_stats(spark: SparkSession, path: str) -> list[dict]:
    """One row per leaf partition directory: {partition (relative dir
    string, '' for unpartitioned), n_files, bytes}. Driver-side Hadoop FS
    listing — metadata only, works on file://, hdfs://, s3a://."""
    fs, jpath = hadoop_fs(spark, path)
    root = fs.getFileStatus(jpath).getPath().toString()
    stats: dict[str, dict] = {}
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        name = p.rsplit("/", 1)[1]
        if name.startswith("_") or name.startswith("."):
            continue  # committer metadata, hidden files
        rel = p[len(root) :].lstrip("/")
        part = rel.rsplit("/", 1)[0] if "/" in rel else ""
        s = stats.setdefault(part, {"partition": part, "n_files": 0, "bytes": 0})
        s["n_files"] += 1
        s["bytes"] += int(st.getLen())
    return sorted(stats.values(), key=lambda s: s["partition"])


def _partition_predicate(partition: str):
    """'received_date=2024-01-01/received_hour=3' -> a Column filter."""
    cond = None
    for piece in partition.split("/"):
        k, v = piece.split("=", 1)
        c = F.col(k).cast("string") == F.lit(v)
        cond = c if cond is None else (cond & c)
    return cond


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    max_files_per_partition: int = 4,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> dict:
    """Compact every partition holding more than max_files_per_partition
    files down to ceil(bytes / target_file_bytes) files. Row content is
    untouched (pure rewrite); returns
    {partitions_seen, partitions_compacted, files_before, files_after_target}.
    """
    if not path_exists(spark, path):
        return {
            "partitions_seen": 0,
            "partitions_compacted": 0,
            "files_before": 0,
            "files_after_target": 0,
        }
    stats = partition_file_stats(spark, path)
    oversized = [s for s in stats if s["n_files"] > max_files_per_partition]
    report = {
        "partitions_seen": len(stats),
        "partitions_compacted": len(oversized),
        "files_before": sum(s["n_files"] for s in oversized),
        "files_after_target": 0,
    }
    if not oversized:
        return report
    table = spark.read.parquet(path)
    for s in oversized:
        n_files = max(1, math.ceil(s["bytes"] / target_file_bytes))
        report["files_after_target"] += n_files
        part_df: DataFrame = (
            table.where(_partition_predicate(s["partition"]))
            if s["partition"]
            else table
        )
        overwrite_partitions(part_df.repartition(n_files), path, partition_cols)
    return report
