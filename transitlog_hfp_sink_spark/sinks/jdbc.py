"""JDBC vehicles sink — reference-parity batched transactional insert.

The reference writes each micro-batch as one PreparedStatement executeBatch
+ explicit commit with autoCommit off (QueueWriter.java:31,55,137-141), a
rollback on any failure (:143-147), and a crash after 10 consecutive
failures (:20,152,156-161). Spark's JDBC writer gives batched inserts per
partition; this module adds the enum-cast handling, the circuit breaker,
and the per-micro-batch atomicity decision (SURVEY §2.4 M4/M5).

Atomicity note (documented choice per SURVEY §7 hard part 3): Spark JDBC
writes are transactional per PARTITION, not per micro-batch. For strict
whole-batch atomicity set ``single_transaction=True`` (coalesce(1) — fine
for the reference's ≤250 k-row batches, serializes the write). Default is
per-partition atomicity + at-least-once replay from checkpoint, which is
the same end-state guarantee the reference provides via Pulsar redelivery.

No database is present in the dev container, so everything network-touching
is exercised through ``collect_insert_plan`` in tests; the write path is
the stock Spark JDBC writer.
"""

from __future__ import annotations

import logging
from collections import deque
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)

#: PG enum columns needing ?::ENUM-style casting (QueueWriter.java:45-46).
ENUM_CAST = {
    "journey_type": "JOURNEY_TYPE",
    "event_type": "EVENT_TYPE",
    "mode": "TRANSPORT_MODE",
    "loc": "LOCATION_QUALITY_METHOD",
}

#: Matches the reference's consecutive-failure crash limit (QueueWriter.java:20).
MAX_CONSECUTIVE_FAILURES = 10

#: (batch_id, attempt, ok) entries JdbcVehiclesSink keeps: the newest ones,
#: so a long-running app holds a fixed-size history
ATTEMPTS_HISTORY = 1024


@dataclass
class JdbcVehiclesSink:
    """foreachBatch-compatible JDBC writer with bounded in-batch retry.

    Failure-policy mapping (SURVEY §2.4 M4/M5, adapted to Spark's commit
    protocol): the reference swallows a failed flush, loses those rows to
    the app, and relies on Pulsar ackTimeout redelivery; after 10
    consecutive failures it crashes (QueueWriter.java:143-161). In
    Structured Streaming, swallowing a failed batch would COMMIT its
    offsets — permanent loss, strictly worse than the reference. So the
    sink retries the write in-batch up to max_retries and then raises,
    which fails the query WITHOUT committing offsets: on restart the batch
    replays from the checkpoint. Same bounded-failure crash behavior, a
    strictly stronger at-least-once guarantee.

    Usage::

        sink = JdbcVehiclesSink(url, table="vehicles",
                                properties={"user": ..., "password": ...})
        query = df.writeStream.foreachBatch(sink).start()
    """

    url: str
    table: str = "vehicles"
    properties: dict = field(default_factory=dict)
    batchsize: int = 10_000
    num_partitions: int | None = None
    single_transaction: bool = False
    max_retries: int = MAX_CONSECUTIVE_FAILURES
    retry_backoff_s: float = 1.0
    attempts_log: deque = field(default_factory=lambda: deque(maxlen=ATTEMPTS_HISTORY))

    def jdbc_properties(self) -> dict:
        props = dict(self.properties)
        # lets PG cast text parameters into enum columns server-side, the
        # df.write.jdbc equivalent of the reference's ?::JOURNEY_TYPE casts
        props.setdefault("stringtype", "unspecified")
        props.setdefault("reWriteBatchedInserts", "true")
        props.setdefault("batchsize", str(self.batchsize))
        return props

    def _write_once(self, df: DataFrame) -> None:
        df.write.mode("append").options(**self.jdbc_properties()).jdbc(
            self.url, self.table
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        import time

        df = batch_df
        if self.single_transaction:
            df = df.coalesce(1)  # whole-micro-batch atomicity (M4)
        elif self.num_partitions:
            df = df.repartition(self.num_partitions)  # bound DB connections
        for attempt in range(1, self.max_retries + 1):
            try:
                self._write_once(df)
                self.attempts_log.append((batch_id, attempt, True))
                return
            except Exception:
                self.attempts_log.append((batch_id, attempt, False))
                logger.exception(
                    "vehicles JDBC write failed (batch=%s, attempt=%d/%d)",
                    batch_id,
                    attempt,
                    self.max_retries,
                )
                if attempt == self.max_retries:
                    # mirror QueueWriter.java:159-161 — kill the query; the
                    # orchestrator restarts it and the batch replays
                    raise
                time.sleep(self.retry_backoff_s)


def create_vehicles_ddl(dialect: str = "spark") -> str:
    """DDL bootstrap (S4 parity with run/init.sql:26-68) for the analytics
    tier: a partitioned parquet table registered in the catalog."""
    from transitlog_hfp_sink_spark.schema import VEHICLES_SCHEMA

    cols = ",\n  ".join(
        f"{f.name} {f.dataType.simpleString().upper()}"
        + ("" if f.nullable else " NOT NULL")
        for f in VEHICLES_SCHEMA.fields
    )
    return (
        f"CREATE TABLE IF NOT EXISTS vehicles (\n  {cols},\n"
        "  received_date DATE,\n  received_hour INT\n)\n"
        "USING parquet\nPARTITIONED BY (received_date, received_hour)"
    )
