"""Custom stateful streaming operators (applyInPandasWithState).

The reference has NO stateful operators (SURVEY §2.4 end note) — this is
north-star surface: per-key state kept by the engine's state store,
checkpointed with the query, scaling horizontally by key hash.

`streaming_sessionize` implements gap-based sessionization as a custom
stateful op: per user, an open session (start, last_ts, n, sum) lives in
state; an event past the gap closes the session and emits it. The batch
twin is operators.sessionize (lag + cumsum) — same semantics, so the
DuckDB session oracle checks this operator too when input order per key
is deterministic (availableNow over a sorted file).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_id", T.LongType(), False),
        T.StructField("session_start", T.TimestampType(), False),
        T.StructField("session_end", T.TimestampType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
    ]
)

#: state tuple: (session_id, start_us, last_us, n, value_sum)
STATE_SCHEMA = "session_id LONG, start_us LONG, last_us LONG, n LONG, vsum DOUBLE"


def _sessionize_group(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_seconds: int,
    flush: bool,
) -> Iterator[pd.DataFrame]:
    user_id = key[0]
    if state.exists:
        sid, start_us, last_us, n, vsum = state.get
    else:
        sid, start_us, last_us, n, vsum = 0, None, None, 0, 0.0

    out: list[tuple] = []
    # a group may span multiple Arrow chunks with no cross-chunk order
    # guarantee — materialize and sort the WHOLE group before walking it
    # (per-chunk sorts would mis-sessionize out-of-order input). State per
    # key is bounded (one open session), and a single key's micro-batch
    # slice fits an executor by the same assumption every per-key
    # applyInPandas op makes.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        whole = pd.concat(chunks, ignore_index=True).sort_values("ts")
        for ts, value in zip(whole["ts"], whole["value"]):
            ts_us = int(ts.value // 1000)  # pandas ns -> us
            if start_us is None:
                sid, start_us, last_us, n, vsum = sid + 1, ts_us, ts_us, 1, float(value)
            # gap = difference of second-truncated epochs — matches the
            # batch twin's unix_timestamp() and the SQL oracle's
            # floor(epoch()) exactly (a floored microsecond DIFFERENCE
            # disagrees when the gap straddles second boundaries)
            elif (ts_us // 1_000_000) - (last_us // 1_000_000) > gap_seconds:
                out.append((user_id, sid, start_us, last_us, n, vsum))
                sid, start_us, last_us, n, vsum = sid + 1, ts_us, ts_us, 1, float(value)
            else:
                last_us, n, vsum = ts_us, n + 1, vsum + float(value)

    if flush and start_us is not None:
        # bounded input (availableNow): emit the open session at the end
        out.append((user_id, sid, start_us, last_us, n, vsum))
        state.remove()
    else:
        state.update((sid, start_us, last_us, n, vsum))

    if out:
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in out],
                "session_id": [r[1] for r in out],
                "session_start": [pd.Timestamp(r[2], unit="us") for r in out],
                "session_end": [pd.Timestamp(r[3], unit="us") for r in out],
                "n_events": [r[4] for r in out],
                "total_value": [r[5] for r in out],
            }
        )


def streaming_sessionize(
    stream: DataFrame,
    gap_seconds: int = 1800,
    flush_final: bool = True,
) -> DataFrame:
    """Gap-sessionize a stream of (user_id, ts, value) with per-user state.

    flush_final=True emits the group's still-open session at the end of
    EVERY group invocation — correct ONLY when the bounded input arrives
    in a single micro-batch (one availableNow batch, as in the oracle
    query), since a later batch would then wrongly restart the session.
    For unbounded / multi-batch streams set False: open sessions stay in
    state until the gap closes them (pair with a ProcessingTimeTimeout
    close policy if bounded-latency emission is needed).

    Scale: state is per-user (a few longs), partitioned by key hash across
    executors; the Arrow batches keep the Python cost per-group-batch.
    """

    def fn(key, pdfs, state):
        return _sessionize_group(key, pdfs, state, gap_seconds, flush_final)

    return stream.select("user_id", "ts", "value").groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
