"""Keyed upsert (MERGE) into a partitioned parquet table, and the one
read-modify-overwrite step every partitioned parquet store shares.

The step is two helpers, used by upsert_partitioned here, by the
continuous aggregate (streaming/rollup_sink.py) and by compaction
(sinks/compact.py):

- restrict_to_touched: the store's rows in ONLY the partitions an
  update touches (a driver-side partition filter up to
  MAX_TOUCHED_LIST partitions, a broadcast semi-join above it);
- overwrite_partitions: dynamic-partition-overwrite of exactly the
  partitions the output holds, as a writer option (the session's
  ``partitionOverwriteMode`` is never touched). File deletion defers to
  job commit, so the write may read its own target, and a mid-job crash
  leaves the old data in place (write-then-swap, never update-in-place).

The reference sink is INSERT-only (QueueWriter.java:36-48) — correction
feeds, late re-sends, and dimension maintenance all need upsert
semantics downstream (TimescaleDB users reach for INSERT ... ON CONFLICT
DO UPDATE). Plain parquet has no MERGE, so upsert_partitioned restricts
the store to the touched partitions, anti-joins their rows against the
update keys (drops the old versions), unions the new rows and overwrites
the touched partitions. Cost per call is O(touched partitions), not
O(table) — the property that keeps upserts usable when the table is
100 TB. Last-writer-wins within a batch is resolved deterministically
(greatest version column, then arbitrary-but-stable key order).
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.fs import path_exists

#: above this many touched partitions the restrict step stops collecting
#: them to the driver and semi-joins instead (a replay of a huge
#: historical batch must not blow the driver or the filter expression)
MAX_TOUCHED_LIST = 4096


def restrict_to_touched(
    store: DataFrame, touched: DataFrame, partition_cols: list[str]
) -> DataFrame | None:
    """The rows of `store` in the partitions `touched` names, or None
    when `touched` is empty.

    touched: the distinct `partition_cols` values of the update, one row
    per partition. Up to MAX_TOUCHED_LIST of them become a partition
    filter, so the scan lists only the touched directories; above that
    a broadcast left-semi join on the partition columns restricts the
    store. Matching is null-safe: a NULL partition value is a partition
    like any other, and its old rows must reach the merge or the
    overwrite drops them."""
    rows = touched.limit(MAX_TOUCHED_LIST + 1).collect()
    if not rows:
        return None
    if len(rows) > MAX_TOUCHED_LIST:
        keys = touched.select(
            *[F.col(c).alias(f"__t_{c}") for c in partition_cols]
        )
        on = reduce(
            and_,
            [F.col(c).eqNullSafe(F.col(f"__t_{c}")) for c in partition_cols],
        )
        return store.join(F.broadcast(keys), on=on, how="left_semi")
    conds = [
        reduce(and_, [F.col(c).eqNullSafe(F.lit(r[c])) for c in partition_cols])
        for r in rows
    ]
    # OR them as a balanced tree: a left-deep chain of a few hundred
    # clauses overflows the JVM stack when Spark converts the Column
    while len(conds) > 1:
        conds = [reduce(or_, conds[i : i + 2]) for i in range(0, len(conds), 2)]
    return store.where(conds[0])


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Replace the partitions `df` holds under `path`; every other
    partition stays as it is."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    version_col: str | None = None,
    count_rows: bool = False,
) -> dict | None:
    """MERGE `updates` into the parquet table at `path`.

    key_cols: row identity (conflict target).
    partition_cols: the table's partitionBy layout; updates must carry
      them. A key's partition values must be stable across versions
      (enforced by the anti-join being within-partition only — same as
      hypertable chunks, where the partition key is part of identity).
    version_col: when several update rows share a key, the row with the
      GREATEST version wins; None keeps an arbitrary-but-deterministic
      single row per key (max of a stable row hash).
    count_rows: when True, return {"rows_upserted": n} — the POST-dedup
      row count actually merged (the number an ops report should print).
      The count reads the persisted `fresh`, not the raw source, so it
      costs one cached pass, not a recompute.
    """
    # no version column: order by a hash of the WHOLE row (hashing only
    # the key would tie for every conflicting row and leave the winner to
    # partition luck)
    dedup_order = (
        F.col(version_col).desc()
        if version_col
        else F.xxhash64(*updates.columns).asc()
    )
    w = Window.partitionBy(*key_cols).orderBy(
        dedup_order, *[F.col(c).asc() for c in key_cols]
    )
    fresh = (
        updates.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    # fresh feeds 2-4 actions below (touched collect, write, optional
    # count); without the persist each one re-runs the source read +
    # transform — a 3-4x I/O tax on what is by definition a bulk path
    fresh = fresh.persist()
    try:
        return _upsert_body(
            spark, path, fresh, key_cols, partition_cols, count_rows
        )
    finally:
        fresh.unpersist()


def _upsert_body(
    spark: SparkSession,
    path: str,
    fresh: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    count_rows: bool,
) -> dict | None:
    stats = {"rows_upserted": fresh.count()} if count_rows else None
    if not path_exists(spark, path):
        fresh.write.partitionBy(*partition_cols).parquet(path)
        return stats
    existing = restrict_to_touched(
        spark.read.parquet(path),
        fresh.select(*partition_cols).distinct(),
        partition_cols,
    )
    if existing is None:
        return stats  # empty update batch: nothing to merge
    # NULL-SAFE key matching (NULLS NOT DISTINCT, matching
    # transform.dedup_vehicles' dropDuplicates semantics): a plain
    # equi-anti-join never matches a NULL key component, so a store row
    # with e.g. NULL journey_type would survive every merge AND be
    # re-inserted by fresh — duplicating once per backfill run (round-4
    # fix, caught by the app-backfill idempotency test).
    fresh_keys = fresh.select(
        *[F.col(c).alias(f"__k_{c}") for c in key_cols]
    ).distinct()
    null_safe = reduce(
        and_, [F.col(c).eqNullSafe(F.col(f"__k_{c}")) for c in key_cols]
    )
    kept = existing.join(F.broadcast(fresh_keys), on=null_safe, how="left_anti")
    overwrite_partitions(
        kept.select(*fresh.columns).unionByName(fresh), path, partition_cols
    )
    return stats
