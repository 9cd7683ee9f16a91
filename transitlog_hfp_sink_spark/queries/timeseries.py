"""Time-series surface over the events stream table: the query workload
the reference's hypertable exists for (SURVEY §2.5), plus the streaming
semantics the reference lacks (§2.4 end note): windows, sessions, as-of
joins, and a real Structured Streaming rollup.
"""

from __future__ import annotations

import contextlib
import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.operators.asof import asof_join
from transitlog_hfp_sink_spark.operators.range_join import range_join
from transitlog_hfp_sink_spark.operators.sessionize import session_stats
from transitlog_hfp_sink_spark.sources.files import read_table

_DEC = "decimal(30,12)"


def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket('1 hour') continuous-aggregate workload (Q1 pruning +
    partial agg; group keys align with the storage partition layout)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
        (F.sum(F.col("value").cast(_DEC)).cast("double") / F.count("*")).alias("avg_value"),
    )


ORACLE_HOURLY = """
SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n,
  CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) AS sum_value,
  CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS avg_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def q_gapfill_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB ``time_bucket_gapfill`` + ``locf`` + ``interpolate``
    parity (operators/gapfill.py) over a deliberately SPARSE subset of
    events (event_id % 53 == 0 — ~95% of hour buckets are gaps at
    sf0.01), the chart-ready rollup shape Timescale users run over the
    hypertable: every hour bucket present per series, counts zero-filled,
    the sum carried forward (locf), the average linearly interpolated
    between observed buckets. All fills are pure window expressions; the
    oracle replays the identical window+arithmetic in DuckDB, so the raw
    interpolated doubles are bit-identical and stay UNROUNDED (round 6:
    round() itself diverges at repr-tie boundaries — Spark rounds the
    shortest decimal repr, DuckDB the binary value)."""
    from transitlog_hfp_sink_spark.operators.gapfill import gapfill_buckets

    ev = read_table(spark, sf_dir, "events").where(F.col("event_id") % 53 == 0)
    bucketed = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
        (F.sum(F.col("value").cast(_DEC)).cast("double") / F.count("*")).alias(
            "avg_value"
        ),
    )
    return gapfill_buckets(
        bucketed,
        bucket_col="bucket",
        width_s=3600,
        series_cols=["event_type"],
        fill={"n": "zero", "sum_value": "locf", "avg_value": "interpolate"},
    ).select("bucket", "event_type", "n", "sum_value", "avg_value")


ORACLE_GAPFILL = """
WITH src AS (SELECT * FROM events WHERE event_id % 53 = 0),
agg AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n,
    CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) AS sum_value,
    CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS avg_value
  FROM src GROUP BY 1, 2
),
spine AS (
  SELECT event_type,
    unnest(generate_series(min(bucket), max(bucket), INTERVAL 3600 SECONDS))
      AS bucket
  FROM agg GROUP BY event_type
),
g AS (
  SELECT s.event_type, s.bucket, a.n, a.sum_value, a.avg_value,
         epoch_us(s.bucket) AS t
  FROM spine s LEFT JOIN agg a
    ON a.event_type IS NOT DISTINCT FROM s.event_type
   AND a.bucket = s.bucket
),
f AS (
  SELECT event_type, bucket, coalesce(n, 0) AS n,
    last_value(sum_value IGNORE NULLS) OVER w_prev AS sum_locf,
    avg_value,
    last_value(avg_value IGNORE NULLS) OVER w_prev AS pv,
    last_value(CASE WHEN avg_value IS NOT NULL THEN t END IGNORE NULLS)
      OVER w_prev AS pt,
    first_value(avg_value IGNORE NULLS) OVER w_next AS nv,
    first_value(CASE WHEN avg_value IS NOT NULL THEN t END IGNORE NULLS)
      OVER w_next AS nt,
    t
  FROM g
  WINDOW
    w_prev AS (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT bucket, event_type, n, sum_locf AS sum_value,
  CASE WHEN avg_value IS NOT NULL THEN avg_value
       ELSE CAST(pv AS DOUBLE)
            + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
            * (CAST(t AS DOUBLE) - CAST(pt AS DOUBLE))
            / (CAST(nt AS DOUBLE) - CAST(pt AS DOUBLE)) END AS avg_value
FROM f
"""


def q_hourly_rollup_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly rollup through FOUR engines/shapes in one entry
    (registry consolidation, round 2; gapfill arm round 5): plain batch,
    a real Structured Streaming run (availableNow file stream -> windowed
    agg -> memory sink), the incremental ContinuousRollupSink (TimescaleDB
    continuous-aggregate parity), and the time_bucket_gapfill + locf +
    interpolate chart shape over a sparse subset, tagged by ``engine``.
    The first three converge to the same rows, so their oracle is the
    batch rollup repeated with tags — any divergence in the streaming/
    incremental machinery flips the entry red; the gapfill arm has its
    own window-replay oracle."""
    batch = q_hourly_rollup(spark, sf_dir).select(
        F.lit("batch").alias("engine"), "bucket", "event_type", "n",
        "sum_value", "avg_value",
    )
    streamed = q_streaming_rollup(spark, sf_dir).select(
        F.lit("streaming").alias("engine"), "bucket", "event_type", "n",
        "sum_value",
        # same double op as the batch leg: (decimal-sum cast double) / count
        (F.col("sum_value") / F.col("n")).alias("avg_value"),
    )
    continuous = q_continuous_rollup(spark, sf_dir).select(
        F.lit("continuous").alias("engine"), "bucket", "event_type", "n",
        "sum_value", "avg_value",
    )
    gapfilled = q_gapfill_rollup(spark, sf_dir).select(
        F.lit("gapfill").alias("engine"), "bucket", "event_type", "n",
        "sum_value", "avg_value",
    )
    return (
        batch.unionByName(streamed).unionByName(continuous).unionByName(gapfilled)
    )


ORACLE_HOURLY_ALL = "\nUNION ALL\n".join(
    [
        f"SELECT '{tag}' AS engine, * FROM ({ORACLE_HOURLY}) AS t_{tag}"
        for tag in ("batch", "streaming", "continuous")
    ]
    + [f"SELECT 'gapfill' AS engine, * FROM ({ORACLE_GAPFILL}) AS t_gapfill"]
)


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cumulative sum + row_number — trajectory-style windowing
    (same shuffle shape as per-vehicle odometer analysis on vehicles)."""
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.row_number().over(wn).alias("seq"),
        F.sum(F.col("value").cast(_DEC)).over(w).cast("double").alias("running_value"),
    )




def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS and RANGE window frames in ONE per-event pass (registry
    consolidation, round 2 — formerly window_running_total +
    window_moving_1h): per-user running sum / row_number (ROWS frame) and
    trailing-1h count/sum (event-time RANGE frame). Both frames partition
    on user_id, so Catalyst plans a single exchange; the two sort orders
    (ts,event_id vs unix(ts)) are per-partition sorts, no extra shuffle."""
    ev = read_table(spark, sf_dir, "events")
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    w_range = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.row_number().over(wn).alias("seq"),
        F.sum(F.col("value").cast(_DEC)).over(w_rows).cast("double").alias("running_value"),
        F.count("*").over(w_range).alias("n_trailing_1h"),
        F.sum(F.col("value").cast(_DEC)).over(w_range).cast("double").alias("sum_trailing_1h"),
    )


ORACLE_WINDOW_FRAMES = """
SELECT user_id, event_id, ts,
  CAST(row_number() OVER wo AS INTEGER) AS seq,
  CAST(sum(CAST(value AS DECIMAL(30,12))) OVER wr AS DOUBLE) AS running_value,
  count(*) OVER wt AS n_trailing_1h,
  CAST(sum(CAST(value AS DECIMAL(30,12))) OVER wt AS DOUBLE) AS sum_trailing_1h
FROM events
WINDOW
  wo AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
  wr AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  wt AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


def q_top3_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/top-k per group with deterministic tie-break."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("event_type", "rnk", "event_id", "value")
    )


ORACLE_TOP3 = """
SELECT event_type, CAST(rnk AS INTEGER) AS rnk, event_id, value FROM (
  SELECT event_type, event_id, value,
    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rnk
  FROM events
) WHERE rnk <= 3
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min), BOTH batch implementations in one
    entry (registry consolidation, round 2): the lag+cumsum plan
    (operators/sessionize.py) tagged ``manual`` and Spark's native
    ``session_window`` aggregation tagged ``native``, unioned. Each leg
    keeps its own semantics (manual: session_end = last event, second
    resolution; native: session_end = last event + gap, microsecond
    resolution) and its own oracle leg. session_id is the per-user ordinal
    in both (native derives it with a row_number over session_start —
    negligible: runs on the already-aggregated session rows)."""
    ev = read_table(spark, sf_dir, "events")
    manual = session_stats(
        ev, key="user_id", ts="ts", gap_seconds=1800, value="value"
    ).select(
        F.lit("manual").alias("impl"),
        "user_id",
        "session_id",
        "session_start",
        "session_end",
        "n_events",
        "total_value",
    )
    wn = Window.partitionBy("user_id").orderBy(F.col("session_start").asc())
    native = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast(_DEC)).cast("double"), 4
            ).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .withColumn("session_id", F.row_number().over(wn).cast("bigint"))
        .select(
            F.lit("native").alias("impl"),
            "user_id",
            "session_id",
            "session_start",
            "session_end",
            "n_events",
            "total_value",
        )
    )
    return manual.unionByName(native)


ORACLE_SESSIONS = """
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
),
sessions AS (
  SELECT user_id, ts, value,
    -- DuckDB types windowed sum(int) as HUGEINT (arrow decimal128); Spark
    -- emits BIGINT — the driver hash is type-sensitive, so cast here.
    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE), 4) AS total_value
FROM sessions
GROUP BY user_id, session_id
"""


ORACLE_SESSIONS_BOTH = """
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
),
sessions AS (
  SELECT user_id, ts, value,
    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
),
flagged_us AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
),
sessions_us AS (
  SELECT user_id, ts, value,
    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged_us
)
SELECT 'manual' AS impl, user_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE), 4) AS total_value
FROM sessions
GROUP BY user_id, session_id
UNION ALL
SELECT 'native' AS impl, user_id, session_id,
       min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE), 4) AS total_value
FROM sessions_us
GROUP BY user_id, session_id
"""


def q_asof_error_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each 'error' event, the latest prior-or-equal
    'click' by the same user (point-in-time enrichment — the stop/schedule
    enrichment pattern for HFP trajectories)."""
    ev = read_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        errors, clicks, on="user_id", left_time="ts", right_time="click_ts",
        direction="backward", suffix="",
    )
    return joined.select("event_id", "user_id", "ts", "click_ts")


ORACLE_ASOF = """
SELECT e.event_id, e.user_id, e.ts, c.click_ts
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id AND e.ts >= c.click_ts
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi+range join: lineitems shipped within [orderdate, orderdate+90d)
    of their own order, aggregated per priority."""
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_orderdate",
        "o_orderpriority",
        F.timestamp_add("DAY", F.lit(90), F.col("o_orderdate")).alias("o_cutoff"),
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate", "l_quantity")
    joined = range_join(
        li, orders, point_col="l_shipdate", lo_col="o_orderdate", hi_col="o_cutoff",
        on=["l_orderkey"],
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


ORACLE_RANGE = """
SELECT o_orderpriority, count(*) AS n_items,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderpriority
"""


def q_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safe-parse workload on a string payload column (the events analog of
    the HFP dir/drst/oday parses): extract k from the JSON-ish props,
    malformed/missing -> NULL, aggregate."""
    ev = read_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).try_cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_parsed"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.round(F.sum("k") / F.count("k"), 6).alias("avg_k"),
        )
    )


ORACLE_PROPS = """
SELECT event_type,
  count(k) AS n_parsed,
  CAST(sum(k) AS BIGINT) AS sum_k,
  round(CAST(sum(k) AS DOUBLE) / count(k), 6) AS avg_k
FROM (
  SELECT event_type,
         TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER) AS k
  FROM events
)
GROUP BY event_type
"""


#: events.parquet footer schema per (session, sf_dir) — a PLAN-level
#: memo (round 11, the read_table _READ_CACHE pattern): every bounded
#: streaming entry re-read the parquet footer on each construction,
#: ~0.1-0.2 s of driver/py4j work for a schema that is immutable for
#: the life of the session. Caches a schema, never data — each stream
#: run still reads every input file.
_EVENTS_SCHEMA_MEMO: dict[tuple[str, str], object] = {}


def _events_raw_schema(spark: SparkSession, sf_dir: str):
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _EVENTS_SCHEMA_MEMO.get(key)
    if cached is not None:
        return cached
    if _EVENTS_SCHEMA_MEMO and next(iter(_EVENTS_SCHEMA_MEMO))[0] != key[0]:
        _EVENTS_SCHEMA_MEMO.clear()  # new session: drop stale entries
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    _EVENTS_SCHEMA_MEMO[key] = schema
    return schema


@contextlib.contextmanager
def _pinned_stream_confs(spark: SparkSession, timezone: str = "UTC"):
    """Pin the session confs a bounded streaming run depends on, restoring
    the caller's values afterwards.

    Round-3 hardening (VERDICT r3 #1): the streaming legs previously SET
    ``spark.sql.legacy.parquet.nanosAsLong`` and never restored it — a conf
    leak into every subsequently-run query — and relied on the session
    factory's UTC pin (session.py) for timestamp determinism, which a host
    environment with a different session timezone silently breaks (the
    NTZ<->LTZ casts inside the stream go through session-local time).
    Streaming queries capture conf values at ``start()``, so pinning for the
    duration of start+awaitTermination makes the run deterministic under any
    caller timezone.

    Concurrency note: overlapping runs in one session pin the SAME values,
    so races only affect which saved value is restored last — harmless when
    the session already runs the pinned values (the driver's profile; the
    4-way concurrent test exercises exactly this), and the per-run results
    are unaffected either way because each query captures the pinned confs
    at its own start()."""
    pins = {
        "spark.sql.session.timeZone": timezone,
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    saved: dict[str, str | None] = {}
    for key, val in pins.items():
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None
        spark.conf.set(key, val)
    try:
        yield
    finally:
        for key, prev in saved.items():
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


def _await_bounded(spark: SparkSession, query, name: str, timeout: float = 420.0):
    """Wait for an availableNow streaming query to COMMIT, then return the
    memory-sink table.

    Root cause of the round-3 driver-red ``hfp_dedup_replay`` row (VERDICT
    r3 #1): ``q.awaitTermination(120)`` returned False under a loaded driver
    and the boolean was ignored, so the not-yet-committed memory sink was
    read as the result — right row keys, wrong counts/checksums. Here a
    timeout raises instead of silently returning partial data, and a failed
    query re-raises its streaming exception. availableNow guarantees that a
    clean termination means every input file was processed and committed,
    so a successful return is a complete, exact result."""
    try:
        finished = query.awaitTermination(timeout)
    except Exception:
        # surface the real streaming error, not a partial-read hash mismatch
        query.stop()
        raise
    if not finished:
        progress = query.lastProgress
        query.stop()
        raise TimeoutError(
            f"bounded streaming query {name!r} did not commit within "
            f"{timeout}s; refusing to read a partial memory sink "
            f"(lastProgress={progress!r})"
        )
    exc = query.exception()
    if exc is not None:
        raise exc
    return spark.table(name)


def q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly rollup executed as a REAL Structured Streaming query:
    file-stream the events parquet (availableNow), windowed agg into a
    memory sink, return the result table. Deterministic -> shares the
    batch oracle. Demonstrates that the engine's transforms are
    batch/stream agnostic."""
    import tempfile
    import uuid

    name = f"stream_rollup_{uuid.uuid4().hex[:8]}"
    with _pinned_stream_confs(spark):
        # raw on-disk schema (ts = int64 nanos under the legacy conf);
        # convert exactly as the batch reader does so stream and batch align
        raw_schema = _events_raw_schema(spark, sf_dir)
        # file-stream sources need a directory; layout-aware (round 8)
        _rs, _path = _events_stream_reader(spark, sf_dir, raw_schema)
        stream = _rs.option("maxFilesPerTrigger", "1").parquet(_path)
        if dict(stream.dtypes).get("ts") == "bigint":
            stream = stream.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
            )
        agg = stream.groupBy(
            F.window("ts", "1 hour").getField("start").alias("bucket"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt-"))
            .trigger(availableNow=True)
            .start()
        )
        return _await_bounded(spark, q, name)




def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    gap-sessionization with per-user state in the engine's state store,
    run bounded (availableNow) so it is deterministic and shares the batch
    session oracle. The reference has no stateful operators at all
    (SURVEY §2.4) — this is north-star surface."""
    import tempfile
    import uuid

    from transitlog_hfp_sink_spark.streaming.stateful import streaming_sessionize

    name = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    with _pinned_stream_confs(spark):
        raw_schema = _events_raw_schema(spark, sf_dir)
        _rs, _path = _events_stream_reader(spark, sf_dir, raw_schema)
        stream = _rs.parquet(_path)
        if dict(stream.dtypes).get("ts") == "bigint":
            stream = stream.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
            )
        sessions = streaming_sessionize(stream, gap_seconds=1800, flush_final=True)
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt-"))
            .trigger(availableNow=True)
            .start()
        )
        _await_bounded(spark, q, name)
    return spark.table(name).select(
        "user_id",
        "session_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


def q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join (the Structured Streaming
    capability the reference's single-stream sink never needed): clicks
    joined to the errors that follow within 6 h for the same user, both
    sides watermarked so state is bounded — at scale the join keeps only
    6 h + 1 h watermark of per-key state, not the full history. Run
    bounded (availableNow) so it is deterministic and shares a batch
    self-join oracle."""
    import tempfile
    import uuid

    name = f"stream_join_{uuid.uuid4().hex[:8]}"
    with _pinned_stream_confs(spark):
        return _run_stream_join(spark, sf_dir, name)


def _run_stream_join(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    import tempfile

    raw_schema = _events_raw_schema(spark, sf_dir)

    def _stream():
        _rs, _path = _events_stream_reader(spark, sf_dir, raw_schema)
        s = _rs.parquet(_path)
        if dict(s.dtypes).get("ts") == "bigint":
            s = s.withColumn(
                "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
            )
        return s

    clicks = (
        _stream()
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            # watermarks require LTZ TIMESTAMP; testdata ts is tz-naive
            # (TIMESTAMP_NTZ). Cast under the UTC session tz (face value
            # preserved), cast back to NTZ in the output projection.
            F.col("ts").cast("timestamp").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    errors = (
        _stream()
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").cast("timestamp").alias("error_ts"),
        )
        .withWatermark("error_ts", "1 hour")
    )
    joined = clicks.join(
        errors,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") <= F.col("click_ts") + F.expr("INTERVAL 6 HOURS")),
    ).select(
        "click_id",
        "error_id",
        F.col("c_user").alias("user_id"),
        # back to NTZ so the output type matches DuckDB's naive timestamps
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("error_ts").cast("timestamp_ntz").alias("error_ts"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    return _await_bounded(spark, q, name)


ORACLE_STREAM_JOIN = """
SELECT l.event_id AS click_id, r.event_id AS error_id, l.user_id,
       l.ts AS click_ts, r.ts AS error_ts
FROM events l
JOIN events r ON l.user_id = r.user_id
  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
WHERE l.event_type = 'click' AND r.event_type = 'error'
"""


def _events_stream_reader(spark: SparkSession, sf_dir: str, raw_schema):
    """File-stream reader over the events table for BOTH input layouts
    (round 8): the driver testdata ships events.parquet as a FLAT FILE
    (file-stream sources need a directory, so stream sf_dir with a name
    glob), while tool-synthesized inputs (tools/stress_sf1.py) are Spark
    DIRECTORY outputs whose part files the name glob would silently
    exclude — the sf1 sweep caught every streaming entry reading 0 rows.
    Returns (reader, path) so callers can add their own options before
    applying .parquet(path) themselves."""
    import os

    rs = spark.readStream.schema(raw_schema)
    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):
        return rs, path
    return rs.option("pathGlobFilter", "events.parquet"), sf_dir


def run_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT DEDUP with bounded state
    (dropDuplicatesWithinWatermark): the events stream unioned with a
    full duplicate of itself — every event arrives twice — deduped on
    event_id. State holds only a watermark's worth of keys (here 1 h of
    event-time), which is what makes at-least-once upstream + exactly-once
    emission tractable at 100 TB: the M3 dedup-view idea (transform.py:
    dedup_vehicles) in its streaming-native form, where the key set never
    has to fit in a static table. Run bounded (availableNow) so the
    result is deterministic: dedup must restore exactly one copy of each
    unique event. Driver-checked as the 'stream_watermark' leg of
    hfp_dedup_replay (round-3 consolidation to hold the 50-entry cap).

    Output carries ``ts_micros`` (BIGINT epoch micros, face value as UTC)
    instead of a timestamp so every downstream digest is independent of the
    caller's session timezone (VERDICT r3 #1 hardening): the only tz-
    sensitive step (NTZ->LTZ for the watermark) happens inside the stream
    under the pinned-UTC confs captured at ``start()``."""
    import tempfile
    import uuid

    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    with _pinned_stream_confs(spark):
        raw_schema = _events_raw_schema(spark, sf_dir)

        def _stream():
            _rs, _path = _events_stream_reader(spark, sf_dir, raw_schema)
            s = _rs.parquet(_path)
            if dict(s.dtypes).get("ts") == "bigint":
                s = s.withColumn(
                    "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
                )
            # the cast runs under the pinned UTC session tz, so unix_micros
            # of the LTZ value == face-value-as-UTC micros, matching the
            # oracle's epoch_us(ts) on the naive timestamp
            ltz = F.col("ts").cast("timestamp")
            return s.select(
                "event_id",
                "user_id",
                "event_type",
                ltz.alias("ts"),
                F.unix_micros(ltz).alias("ts_micros"),
            )

        doubled = _stream().unionByName(_stream()).withWatermark("ts", "1 hour")
        deduped = doubled.dropDuplicatesWithinWatermark(["event_id"]).select(
            "event_id", "user_id", "event_type", "ts_micros"
        )
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt-"))
            .trigger(availableNow=True)
            .start()
        )
        return _await_bounded(spark, q, name)


def q_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB continuous-aggregate parity: the hourly rollup
    maintained INCREMENTALLY over three overlapping micro-batches (each
    revisits existing hours, forcing partial-merge + targeted partition
    overwrite), then read back. Converges to the plain batch rollup, so
    it shares that oracle."""
    import tempfile

    from transitlog_hfp_sink_spark.streaming.rollup_sink import ContinuousRollupSink

    ev = read_table(spark, sf_dir, "events")
    sink = ContinuousRollupSink(
        spark=spark,
        path=tempfile.mkdtemp(prefix="rollup-") + "/store",
        ts_col="ts",
        value_col="value",
        dims=["event_type"],
        # the replay batches here touch EVERY hour of the month; date
        # granularity keeps the per-partition commit count sane (24x
        # fewer dirs, ~3x faster entry) while hour granularity remains
        # the streaming default (micro-batches touch 1-2 hours)
        granularity="date",
    )
    for i in range(3):
        sink(ev.where(F.col("event_id") % 3 == i), i)
    # refresh-repair leg (driver-visible check of
    # refresh_continuous_aggregate parity): double-merge a subset of one
    # mid-range day as a 4th batch — the store now DOUBLE-COUNTS those
    # rows — then repair exactly that day from the base table. The entry
    # stays on the plain batch oracle, so it is hash-green only if
    # refresh() truly recomputes the damaged range rather than merging.
    day = ev.agg(F.date_add(F.to_date(F.min("ts")), 14)).first()[0]
    lo, hi = f"{day} 00:00:00", f"{day + datetime.timedelta(days=1)} 00:00:00"
    corrupt = ev.where(
        (F.col("ts") >= F.lit(lo).cast("timestamp"))
        & (F.col("ts") < F.lit(hi).cast("timestamp"))
        & (F.col("event_id") % 5 == 0)
    )
    sink(corrupt, 3)
    sink.refresh(ev, lo, hi)
    return sink.read().select(
        "bucket", "event_type", "n", "sum_value", "avg_value"
    )


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (plans/skew.py) over the hot
    event_type keys — must be RESULT-IDENTICAL to a plain GROUP BY (the
    oracle is the unsalted SQL). Decimal partials merge exactly, so the
    salt only changes the shuffle shape, never the values."""
    from transitlog_hfp_sink_spark.plans.skew import salted_agg

    ev = read_table(spark, sf_dir, "events").withColumn(
        "v_dec", F.col("value").cast(_DEC)
    )
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={"v_dec": "sum", "event_id": "count", "value": "max"},
        salt=16,
    )
    return out.select(
        "event_type",
        F.col("sum_v_dec").cast("double").alias("total_value"),
        F.col("count_event_id").alias("n_events"),
        F.col("max_value").alias("max_value"),
    )


ORACLE_SALTED = """
SELECT event_type,
  CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) AS total_value,
  CAST(count(event_id) AS BIGINT) AS n_events,
  max(value) AS max_value
FROM events
GROUP BY event_type
"""


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): parse_json once into a
    VARIANT column, variant_get typed extraction — the engine's schema-
    on-read surface for evolving JSON payloads (vs the fixed-schema
    from_json in sources/decode.py). At scale this beats repeated
    regexp/JSON string parsing: one parse, binary-encoded traversal."""
    ev = read_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select(k.alias("k"), "value")
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
        )
    )


ORACLE_VARIANT = """
SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
  count(*) AS n,
  CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) AS sum_value
FROM events
GROUP BY k_bucket
"""


def q_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both semi-structured extraction surfaces over the props payload in
    one entry (registry consolidation, round 2 — formerly
    variant_extract_agg + props_parse_agg): the Spark-4 VARIANT path
    (parse_json once, binary traversal via variant_get) tagged
    ``variant``, and the regexp + try_cast safe-parse path tagged
    ``regexp``. Harmonized schema (impl, key, n, sum_value); each leg
    keeps its own grouping semantics and oracle leg."""
    variant = q_variant_extract(spark, sf_dir).select(
        F.lit("variant").alias("impl"),
        F.col("k_bucket").cast("string").alias("key"),
        "n",
        "sum_value",
    )
    rex = q_props_parse(spark, sf_dir).select(
        F.lit("regexp").alias("impl"),
        F.col("event_type").alias("key"),
        F.col("n_parsed").alias("n"),
        F.col("sum_k").cast("double").alias("sum_value"),
    )
    return variant.unionByName(rex)


ORACLE_SEMISTRUCTURED = f"""
SELECT 'variant' AS impl, CAST(k_bucket AS VARCHAR) AS key, n, sum_value
FROM ({ORACLE_VARIANT}) AS v_t
UNION ALL
SELECT 'regexp' AS impl, event_type AS key, n_parsed AS n,
       CAST(sum_k AS DOUBLE) AS sum_value
FROM ({ORACLE_PROPS}) AS p_t
"""


def q_resample_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key grid resampling with time-weighted linear interpolation
    (operators/resample.py, grouped-map applyInPandas) — new driver row
    (round-2 directive #6; previously test-only).

    A deterministic GPS-ish track is derived from events (8 vehicles,
    lat/long affine in value), pre-deduped on (key, ts) so the pandas
    stage's sort/dedupe is order-independent, then resampled onto an
    hourly grid. The oracle replays np.interp's exact arithmetic —
    slope*(x-x0)+y0 over float64 epoch-nanoseconds — per grid point, so
    the hash checks the interpolation math, the grid construction
    (ceil/floor to the hour), and the per-key spans."""
    from transitlog_hfp_sink_spark.operators.resample import resample_trajectories

    ev = read_table(spark, sf_dir, "events")
    pts = (
        ev.select(
            (F.col("user_id") % 8).cast("string").alias("vehicle_id"),
            "ts",
            (F.lit(60.0) + F.col("value") / 1000.0).alias("lat"),
            (F.lit(24.0) + F.col("value") / 500.0).alias("long"),
        )
        .groupBy("vehicle_id", "ts")
        .agg(F.min("lat").alias("lat"), F.min("long").alias("long"))
    )
    out = resample_trajectories(pts, "vehicle_id", "ts", freq="3600s")
    return out.select(
        "key",
        "grid_ts",
        F.round("lat", 6).alias("lat"),
        F.round("long", 6).alias("long"),
        "n_source_points",
    )


ORACLE_RESAMPLE = """
WITH pts AS (
  SELECT CAST(user_id % 8 AS VARCHAR) AS key, ts,
         min(60.0 + value / 1000.0) AS lat,
         min(24.0 + value / 500.0) AS long
  FROM events GROUP BY 1, 2
),
b AS (
  SELECT key, min(ts) AS mn, max(ts) AS mx, CAST(count(*) AS INTEGER) AS n_src
  FROM pts GROUP BY key HAVING count(*) >= 2
),
grid AS (
  SELECT key, n_src,
    unnest(generate_series(
      CASE WHEN time_bucket(INTERVAL 3600 SECONDS, mn) = mn THEN mn
           ELSE time_bucket(INTERVAL 3600 SECONDS, mn) + INTERVAL 3600 SECONDS END,
      time_bucket(INTERVAL 3600 SECONDS, mx),
      INTERVAL 3600 SECONDS)) AS grid_ts
  FROM b
),
seg AS (
  SELECT g.key, g.grid_ts, g.n_src,
    (SELECT max(p.ts) FROM pts p WHERE p.key = g.key AND p.ts <= g.grid_ts) AS t0,
    (SELECT min(p.ts) FROM pts p WHERE p.key = g.key AND p.ts >= g.grid_ts) AS t1
  FROM grid g
),
j AS (
  SELECT s.key, s.grid_ts, s.n_src,
    CAST(epoch_ns(s.grid_ts) AS DOUBLE) AS xg,
    CAST(epoch_ns(s.t0) AS DOUBLE) AS x0,
    CAST(epoch_ns(s.t1) AS DOUBLE) AS x1,
    p0.lat AS lat0, p0.long AS lon0, p1.lat AS lat1, p1.long AS lon1
  FROM seg s
  JOIN pts p0 ON p0.key = s.key AND p0.ts = s.t0
  JOIN pts p1 ON p1.key = s.key AND p1.ts = s.t1
)
SELECT key, grid_ts,
  round(CASE WHEN x1 = x0 THEN lat0
             ELSE (lat1 - lat0) / (x1 - x0) * (xg - x0) + lat0 END, 6) AS lat,
  round(CASE WHEN x1 = x0 THEN lon0
             ELSE (lon1 - lon0) / (x1 - x0) * (xg - x0) + lon0 END, 6) AS long,
  n_src AS n_source_points
FROM j
"""


QUERIES = {
    "resample_trajectory": q_resample_trajectory,
    "semistructured_extract": q_semistructured,
    "salted_skew_agg": q_salted_agg,
    "streaming_stream_join": q_streaming_stream_join,
    "streaming_sessionize_state": q_streaming_sessionize,
    "events_hourly_rollup": q_hourly_rollup_all,
    "window_frames": q_window_frames,
    "window_top3_per_type": q_top3_per_type,
    "sessionize_events": q_sessionize,
    "asof_error_click": q_asof_error_click,
    "range_join_ship_window": q_range_join,
}

ORACLES = {
    "resample_trajectory": ORACLE_RESAMPLE,
    "semistructured_extract": ORACLE_SEMISTRUCTURED,
    "salted_skew_agg": ORACLE_SALTED,
    "streaming_stream_join": ORACLE_STREAM_JOIN,
    "streaming_sessionize_state": ORACLE_SESSIONS,
    "events_hourly_rollup": ORACLE_HOURLY_ALL,
    "window_frames": ORACLE_WINDOW_FRAMES,
    "window_top3_per_type": ORACLE_TOP3,
    "sessionize_events": ORACLE_SESSIONS_BOTH,
    "asof_error_click": ORACLE_ASOF,
    "range_join_ship_window": ORACLE_RANGE,
}
