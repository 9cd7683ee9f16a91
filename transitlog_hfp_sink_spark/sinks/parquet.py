"""Hypertable-equivalent parquet layout.

The reference materializes into a TimescaleDB hypertable partitioned on
received_at (1-hour chunks) with space dimension unique_vehicle_id
(/root/reference/run/init.sql:70-73), plus 8 secondary indexes (:78-85) for
the downstream query workload (SURVEY §2.5 Q1-Q5).

Parquet mapping, chosen for 100 TB:
- Q1 time pruning  -> partitionBy(received_date, received_hour): Catalyst
  partition pruning on any received_at predicate.
- Q2 space dim     -> repartition by unique_vehicle_id WITHIN each hour
  before write: each file holds few vehicles, so parquet row-group min/max
  stats on unique_vehicle_id prune file scans (poor-man's space dimension
  without a second directory level, which would explode file counts).
- Q3-Q5 indexes    -> parquet column stats + dictionary pushdown are the
  moral equivalent of the btrees/BRIN; sorting within partitions by
  (unique_vehicle_id, tst) makes per-vehicle trajectory scans sequential.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from transitlog_hfp_sink_spark.schema import PARTITION_COLUMNS
from transitlog_hfp_sink_spark.transform import with_partition_columns


def write_vehicles_parquet(
    df: DataFrame,
    path: str,
    mode: str = "append",
) -> None:
    """Write the flat vehicles DataFrame as partitioned parquet, one
    write task per call, so each hour partition gains at most one file.

    The file count per partition is compaction's job
    (sinks/compact.compact_partitioned rewrites the hours the 1 s
    micro-batches fragmented into ~128 MB files), not the writer's.
    """
    out = with_partition_columns(df)
    out = out.repartition(1, *PARTITION_COLUMNS, "unique_vehicle_id")
    out = out.sortWithinPartitions(*PARTITION_COLUMNS, "unique_vehicle_id", "tst")
    out.write.mode(mode).partitionBy(*PARTITION_COLUMNS).parquet(path)
