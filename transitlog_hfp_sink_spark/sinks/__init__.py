"""Sinks: partitioned parquet (analytics tier), JDBC (reference parity),
keyed upsert and the shared partition-overwrite step (merge.py),
deterministic JSONL training export (export.py),
WebDataset-style tar-shard multimodal export (wds.py)."""

from transitlog_hfp_sink_spark.sinks.parquet import write_vehicles_parquet
from transitlog_hfp_sink_spark.sinks.jdbc import JdbcVehiclesSink
from transitlog_hfp_sink_spark.sinks.export import write_jsonl_shards
from transitlog_hfp_sink_spark.sinks.wds import write_wds_shards

__all__ = [
    "write_vehicles_parquet",
    "JdbcVehiclesSink",
    "write_jsonl_shards",
    "write_wds_shards",
]
