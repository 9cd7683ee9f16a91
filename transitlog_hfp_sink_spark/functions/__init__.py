"""Scalar helper functions (all Catalyst built-ins — no Python UDFs).

The reference's ``safeParseX`` family (fi.hsl:transitdata-common, used at
QueueWriter.java:88-129) has exactly Spark ``try_cast`` semantics: malformed
input degrades to NULL, never throws. Everything here composes built-in
expressions so the whole transform stays inside whole-stage codegen.
"""

from transitlog_hfp_sink_spark.functions.timeparse import (
    safe_parse_time,
    time_to_seconds,
)

__all__ = ["safe_parse_time", "time_to_seconds"]
