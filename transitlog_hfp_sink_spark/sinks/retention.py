"""Time-based retention for partitioned parquet sinks — the engine-side
equivalent of TimescaleDB's ``drop_chunks`` retention policy.

The reference lands HFP rows in a hypertable chunked by 1-hour time
intervals (SURVEY Q1; ``create_hypertable`` in run/init.sql); production
TimescaleDB deployments pair that with ``add_retention_policy`` so old
chunks are DROPPED (an O(1) metadata operation) instead of row-deleted.
The parquet-hypertable layout (sinks/parquet.py: partitionBy
received_date/received_hour) gets the same property here: expiring a
time range is a per-partition DIRECTORY DELETE — metadata-only, no data
rewrite, no tombstones — exactly why the sink partitions on time in the
first place.

Shape:
- ONE driver-side Hadoop FS listing (shared with sinks/compact.py)
  finds leaf partitions; the partition KEY VALUES are parsed from the
  directory names, so no data file is opened;
- partitions strictly older than the cutoff are deleted recursively,
  newest-first ordering is irrelevant (deletes are independent);
- the cutoff compares the named time columns lexicographically on their
  Hive directory encoding — dates as yyyy-MM-dd and zero-padded hours
  sort correctly as strings; a custom `older_than` predicate overrides
  for other layouts;
- a dry_run mode reports what WOULD be dropped (the observability a
  retention job needs before it is trusted).

Cost per call is O(partitions), not O(rows). Crash-safety: a partition
delete is atomic per directory on HDFS (rename-based stores) and
prefix-delete on object stores; a crash mid-job leaves some expired
partitions present — the next run re-drops them (idempotent).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import SparkSession

from transitlog_hfp_sink_spark.fs import hadoop_fs, path_exists
from transitlog_hfp_sink_spark.sinks.compact import partition_file_stats


def parse_partition(partition: str) -> dict[str, str]:
    """'received_date=2024-01-01/received_hour=3' -> {'received_date':
    '2024-01-01', 'received_hour': '3'} (Hive directory encoding)."""
    out: dict[str, str] = {}
    for piece in partition.split("/"):
        if "=" in piece:
            k, v = piece.split("=", 1)
            out[k] = v
    return out


def drop_partitions_older_than(
    spark: SparkSession,
    path: str,
    cutoff: dict[str, str] | None = None,
    older_than: Callable[[dict[str, str]], bool] | None = None,
    dry_run: bool = False,
) -> dict:
    """Drop leaf partitions older than the cutoff.

    cutoff: partition-column values, compared in the dict's key order
    against each partition's parsed values — e.g.
    {"received_date": "2024-01-05"} drops date partitions before Jan 5;
    {"received_date": "2024-01-05", "received_hour": "3"} everything
    before that hour. Each component compares NUMERICALLY when both
    sides parse as integers and lexicographically otherwise (dates in
    yyyy-MM-dd sort lexically; hours are integers) — so the default
    sink's UNPADDED hour directories are safe by construction: a plain
    string compare would call hour "12" < "2" and delete newer data.
    Mixed forms of the same component (one side numeric, one not) never
    match and therefore never drop (fail-safe).

    older_than: custom predicate over the parsed partition values —
    overrides `cutoff` entirely for layouts these rules don't fit.

    Returns {partitions_seen, partitions_dropped, files_dropped,
    bytes_dropped, dropped, failed} — `failed` lists partitions whose
    delete returned false (permissions, concurrent removal); those are
    NOT counted as dropped, so the report never claims data expired
    that is still on disk.
    """
    if (cutoff is None) == (older_than is None):
        raise ValueError("provide exactly one of cutoff / older_than")
    if older_than is None:
        keys = list(cutoff)

        def _component(v: str) -> tuple[int, int | str]:
            try:
                return (0, int(v))
            except ValueError:
                return (1, v)

        bound = tuple(_component(cutoff[k]) for k in keys)

        def older_than(values: dict[str, str]) -> bool:
            try:
                got = tuple(_component(values[k]) for k in keys)
            except KeyError:
                return False  # unknown layout: never drop
            for g, b in zip(got, bound):
                if g[0] != b[0]:
                    return False  # numeric vs non-numeric: fail-safe
                if g != b:
                    return g < b
            return False  # equal = not older

    report = {
        "partitions_seen": 0,
        "partitions_dropped": 0,
        "files_dropped": 0,
        "bytes_dropped": 0,
        "dropped": [],
        "failed": [],
    }
    if not path_exists(spark, path):
        return report
    stats = partition_file_stats(spark, path)
    for s in stats:
        part = s["partition"]
        if not part:
            continue  # unpartitioned root files are never retention targets
        report["partitions_seen"] += 1
        if not older_than(parse_partition(part)):
            continue
        if not dry_run:
            # deleting leaf dirs is always safe and leaves empty parents,
            # which the FS listing ignores — delete the leaf. Hadoop
            # delete() reports failure as FALSE, not an exception; a
            # partition that would not delete must not be reported
            # expired (auditing/compliance).
            fs, part_path = hadoop_fs(spark, f"{path}/{part}")
            ok = fs.delete(part_path, True)
            if not ok:
                report["failed"].append(part)
                continue
        report["partitions_dropped"] += 1
        report["files_dropped"] += s["n_files"]
        report["bytes_dropped"] += s["bytes"]
        report["dropped"].append(part)
    report["dropped"].sort()
    report["failed"].sort()
    return report
