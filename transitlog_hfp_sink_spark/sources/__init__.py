"""Sources: batch + streaming readers for the HFP pipeline and the
analytics tables."""

from transitlog_hfp_sink_spark.sources.files import (
    read_hfp_stream,
    read_table,
    read_tables,
)
from transitlog_hfp_sink_spark.sources.synthetic import synthetic_hfp_stream

__all__ = [
    "read_hfp_stream",
    "read_table",
    "read_tables",
    "synthetic_hfp_stream",
]
