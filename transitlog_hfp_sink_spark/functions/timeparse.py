"""Time-of-day parsing — the TIME-type gap (SURVEY §1.2).

PostgreSQL TIME columns ``journey_start_time`` and ``start``
(/root/reference/run/init.sql:41,63) are parsed by the reference via
``HfpParser.safeParseTime`` (QueueWriter.java:88-90, 127-129): a valid
"H:mm"/"HH:mm" wall-clock string, NULL on malformed. Spark has no TIME type,
so the engine canonicalizes to a zero-padded ``"HH:mm"`` string (sortable,
groupable, hashable) and offers a seconds-since-midnight integer view for
arithmetic.

Pure Column expressions — codegen-friendly, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: hour 0-23 (one or two digits), minute 00-59; optional :ss tolerated and
#: truncated (PG TIME accepts seconds; the HFP feed sends HH:mm).
_TIME_RE = r"^([01]?\d|2[0-3]):([0-5]\d)(:[0-5]\d)?$"


def safe_parse_time(col: Column | str) -> Column:
    """Canonical 'HH:mm' string, or NULL when malformed.

    Matches safeParseTime null-on-malformed semantics: '25:99', '', 'x'
    and NULL all yield NULL; '7:05' -> '07:05'.
    """
    c = F.col(col) if isinstance(col, str) else col
    # one regex match per row: once it matches, the hour is everything
    # before the first ':' and the minute the two characters after it, so
    # plain string slicing extracts both (the regex is the dominant cost
    # of the P1-P40 projection; three matches per call tripled it)
    hh = F.lpad(F.substring_index(c, ":", 1), 2, "0")
    mm = F.substring(F.substring_index(F.substring_index(c, ":", 2), ":", -1), 1, 2)
    return F.when(c.rlike(_TIME_RE), F.concat_ws(":", hh, mm)).otherwise(
        F.lit(None).cast("string")
    )


def time_to_seconds(col: Column | str) -> Column:
    """Seconds since midnight (int) from a canonical 'HH:mm' string."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.split(c, ":").getItem(0).cast("int") * 3600
        + F.split(c, ":").getItem(1).cast("int") * 60
    )
