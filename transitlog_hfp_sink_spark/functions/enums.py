"""Enum-domain validation.

PostgreSQL enforces the four enum domains at insert time
(/root/reference/run/init.sql:21-24, cast at QueueWriter.java:45-46). Spark
has no enum type; the engine stores StringType and validates against the
frozen domains from ``schema.ENUM_DOMAINS``.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def validate_enum(col: Column | str, domain: Iterable[str]) -> Column:
    """Pass the value through when in-domain, else NULL.

    CHECK-constraint-as-expression: an out-of-domain value degrades to NULL
    (consistent with the engine-wide try_cast policy) instead of failing the
    row the way a PG enum cast would.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isin(*sorted(domain)), c).otherwise(F.lit(None).cast("string"))
