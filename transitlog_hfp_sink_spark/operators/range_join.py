"""Range join (interval containment) with a scale-safe physical strategy.

A plain ``l.join(r, (l.t >= r.lo) & (l.t < r.hi))`` with no equi-key is
planned as broadcast-nested-loop / cartesian — quadratic. The standard
distributed fix is interval bucketing: assign each point to one coarse
time bucket, explode each interval across the buckets it overlaps, then
EQUI-join on the bucket (hash shuffle, sort-merge/broadcast-able) and
re-apply the exact range predicate as a post-filter.

When an equi-key already exists (e.g. orderkey), pass it via ``on`` and
the bucket column simply rides along — the join stays a single hash join
on (key) with the range as a pushed filter condition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    on: list[str] | None = None,
    bucket_seconds: int = 86_400,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to interval rows with lo <= point < hi.

    on: optional extra equi-keys (joined exactly; makes the bucket
    machinery unnecessary but harmless — it is skipped in that case).
    bucket_seconds: coarse bucket width for the keyless case; pick it
    near the TYPICAL interval length so intervals explode into O(1)
    buckets each.
    """
    cond = (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    if on:
        return points.join(intervals, on=on, how=how).where(cond)

    pb = points.withColumn(
        "__bucket", (F.unix_timestamp(point_col) / bucket_seconds).cast("bigint")
    )
    ib = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (F.unix_timestamp(lo_col) / bucket_seconds).cast("bigint"),
                (F.unix_timestamp(hi_col) / bucket_seconds).cast("bigint"),
            )
        ),
    )
    out = pb.join(ib, on="__bucket", how=how).where(cond).drop("__bucket")
    return out
