"""Product-path benchmark: wire bytes -> ``sources.protowire`` decode ->
``transform`` validate/flatten split -> ``sinks.parquet`` write ->
``streaming.pipeline`` checkpoint commit -> read back through ``catalog``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload wire_drain --seed 1 --seconds 10 --trace 0

Workloads (the seed only shapes the generated files the program reads):

* ``wire_drain`` a staged backlog of protobuf wire files over 24 h of event
  time, drained in large batches (catch-up after an outage), then read back
  by one closed-loop SQL client through ``register_catalog``.
* ``wire_live``  an open-loop generator writes wire files at 1,000 events/s
  under the reference's 1 s trigger (the fixed cost per micro-batch), then
  the same read-back over the small-file store that cadence leaves.

Every run checks the sink against the generator: row and dead-letter counts
by reason, and an order-independent digest of the sink (partition columns
included) against a batch ``hfp_transform`` of the same rows.  The last
stdout line is one JSON object.  ``--trace 1`` measures untraced, then again
with spans and the Spark event log, runs the layer ladder, then untraced once
more; it also checks every read answer against the same query over the
reference rows, and reports per-layer metrics; the spans go to
``.perfbench/traces/``.
"""

from __future__ import annotations

import os
import sys
import time


def _process_start() -> float:
    """Wall time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402

import stats  # noqa: E402
from probes import (  # noqa: E402
    SPAN_PROPERTY,
    EventLog,
    MemorySampler,
    event_log_file,
    tree_cpu_s,
    wait_for,
)

WORKLOADS = {
    # the backlog is 10 files per second of --seconds, at least 200 so ten
    # latency samples lie beyond the p95; it drains in batches of
    # files_per_batch * file_rows rows, after the warm-up drain (warm_up)
    "wire_drain": {"file_rows": 150, "files_per_batch": 50, "files_per_s": 10,
                   "hours": 24},
    # an open loop of --seconds after warmup_s; 25 files/s, so each second
    # adds 25 latency samples
    "wire_live": {"rate": 1_000, "files_per_s": 25, "warmup_s": 2.0, "hours": 1},
}
#: a live run whose generator wrote any file later than this after it was due
#: measured the generator, not the program, and is reported as invalid
MAX_GEN_LATE_S = 1.0
#: the warm-up drain: one batch of WARM_FILES files of WARM_ROWS rows, the
#: size of a wire_drain batch
WARM_FILES, WARM_ROWS = 50, 150
LADDER_REPEATS = 2
#: rounds of the read queries, the first READ_WARM_ROUNDS untimed.  A fixed
#: count, not a time box: the early rounds run slower as the JIT warms, so a
#: time box would make the figure depend on the machine's speed twice
READ_ROUNDS, READ_WARM_ROUNDS = 4, 1
E2E_UNITS = {"setup_s": "s", "ingest_rows_per_s": "rows/s",
             "commit_latency_p50_s": "s", "commit_latency_p95_s": "s",
             "read_lookup_s": "s", "read_analytics_s": "s", "peak_rss_mb": "MB"}


def _phase(label: str) -> None:
    print(f"[perfbench {time.time() - T_PROCESS:7.2f}s] {label}", file=sys.stderr)


class RunFailed(Exception):
    """The program failed an operation the benchmark cannot measure around."""


class Ops:
    """Attempted and failed operations: batches, queries, correctness checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {what}: {detail}", file=sys.stderr)
        return ok


class Spans:
    """In-memory spans (name, start, end, parent, batch), written at the end."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def add(self, name, start, end, parent=None, batch=None) -> int:
        self.rows.append({"id": len(self.rows), "name": name, "start": start,
                          "end": end, "parent": parent, "batch": batch})
        return len(self.rows) - 1


# ---------------------------------------------------------------------------
# environment, session, generator
# ---------------------------------------------------------------------------

def _prepare_env(work: str) -> None:
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the program's own driver-heap setting (session.build_session), capped;
    # see DRIVER_MEMORY
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # neither the launcher JVM nor the driver JVM writes a perf file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers unpickle the program's functions by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


#: The driver heap, committed whole from the start (-Xms), not pre-touched.
#: The garbage collector fills the committed heap before it collects, so the
#: heap's resident size is its committed size, which the collector's own
#: heuristics set: under the program's default 8g cap it grew to 1.1 GB in
#: one run and 2.2 GB in the next, which moved peak_rss_mb by a quarter
#: between seeds.  A fixed heap keeps peak_rss_mb steady, at the cost that
#: it excludes heap growth: it measures the JVM's other memory, the Python
#: driver and workers, plus a constant heap.  The live heap is 130-270 MB;
#: a change needing far more shows as garbage-collection time or an
#: OutOfMemoryError instead.
DRIVER_MEMORY = "1g"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def build(work: str, event_log: str | None = None):
    from transitlog_hfp_sink_spark.session import build_session

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                                             f"-Xms{DRIVER_MEMORY}",
            "spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = build_session(app_name="perfbench", master=f"local[{_cpus()}]",
                          shuffle_partitions=_cpus(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _gen(args: list[str]) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"), *args],
                            stdout=subprocess.DEVNULL)


def _wait_gen(proc: subprocess.Popen, timeout_s: float) -> None:
    try:
        code = proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RunFailed("generator timed out")
    if code != 0:
        raise RunFailed(f"generator exited with {code}")


def _manifest(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


# ---------------------------------------------------------------------------
# the product path
# ---------------------------------------------------------------------------

def start_pipeline(spark, src, out, files_per_trigger=None, spans=None):
    """Wire file stream -> ``decode_hfp_wire`` -> ``HfpPipeline`` with the
    shipped parquet sink (``app.make_sink``) and a dead-letter path, as
    ``app`` wires it.  With ``spans``, the sink callable is wrapped to time
    each call and tag the jobs it starts."""
    from transitlog_hfp_sink_spark.app import make_sink
    from transitlog_hfp_sink_spark.sources.protowire import decode_hfp_wire
    from transitlog_hfp_sink_spark.streaming.pipeline import HfpPipeline

    sink = make_sink("parquet:" + os.path.join(out, "sink"))
    if spans is not None:
        sc, inner = spark.sparkContext, sink

        def sink(df, batch_id):  # noqa: F811 - the traced twin of the sink
            sc.setLocalProperty(SPAN_PROPERTY, f"sink:{batch_id}")
            t0 = time.time()
            try:
                inner(df, batch_id)
            finally:
                spans.add("sinks.parquet.write", t0, time.time(), batch=batch_id)
                sc.setLocalProperty(SPAN_PROPERTY, None)

    reader = spark.readStream.schema("value binary")
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    pipe = HfpPipeline(sink=sink, checkpoint=os.path.join(out, "ckpt"),
                       dead_letter_path=os.path.join(out, "dead"))
    return pipe.start(decode_hfp_wire(reader.parquet(src)))


def wait_committed(query, ckpt: str, names: set[str], timeout_s: float) -> None:
    """Block until every named input file is in a committed batch."""
    src_log, commits = os.path.join(ckpt, "sources", "0"), os.path.join(ckpt, "commits")

    def done() -> bool:
        if query.exception() is not None:
            raise RunFailed(f"stream failed: {query.exception()}")
        if not os.path.isdir(src_log) or not os.path.isdir(commits):
            return False
        batch_of = stats.file_batches(src_log)
        committed = stats.commit_times(commits)
        return all(batch_of.get(n) in committed for n in names)

    if not wait_for(done, timeout_s, 0.1):
        raise RunFailed(f"stream did not commit {len(names)} files in {timeout_s}s")


def warm_up(spark, work: str, tag: str) -> None:
    """Drain WARM_FILES staged files through a throwaway pipeline in one
    batch, so Python workers, generated code and the JIT are warm before
    anything is timed: the first batch of a fresh session takes about four
    times as long as the ones after it."""
    out, src = os.path.join(work, tag), os.path.join(work, "warm")
    q = start_pipeline(spark, src, out, WARM_FILES)
    try:
        wait_committed(q, os.path.join(out, "ckpt"),
                       {f["file"] for f in _manifest(os.path.join(src, "_manifest.jsonl"))}, 120)
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# read back through the catalog
# ---------------------------------------------------------------------------

def read_queries(live: bool) -> dict[str, tuple[str, str]]:
    """name -> (kind, SQL): two selective lookups and three full scans."""
    import gen

    hour_ms = gen.LIVE_ORIGIN_MS if live else gen.BASE_MS + 12 * 3_600_000
    day, hour = time.strftime("%Y-%m-%d %H", time.gmtime(hour_ms / 1000)).split()
    vehicle = gen.vehicle_id(gen.TRACK_VEHICLE)
    return {
        # partition pruning to one hour
        "hour_routes": ("lookup", "SELECT route_id, count(*) AS n FROM vehicles "
                        f"WHERE received_date = DATE'{day}' AND received_hour = {int(hour)} "
                        "GROUP BY route_id"),
        # the unique_vehicle_id space dimension
        "vehicle_track": ("lookup", "SELECT tst, event_type, lat, long, spd FROM vehicles "
                          f"WHERE unique_vehicle_id = '{vehicle}' ORDER BY tst"),
        "vp_per_route": ("analytics", "SELECT route_id, oday, count(*) AS n_events, "
                         "count(DISTINCT unique_vehicle_id) AS n_vehicles FROM vehicles "
                         "WHERE event_type = 'VP' AND is_ongoing GROUP BY route_id, oday"),
        "vehicles_latest": ("analytics", "SELECT * FROM vehicles_latest"),
        "vehicles_headways": ("analytics", "SELECT * FROM vehicles_headways"),
    }


def digests(*frames) -> list[tuple[int, int, int]]:
    """The program's order-independent content digest of each frame (row
    count and two sums of md5 slices), in one Spark job.  Every column is
    hashed in its plain string form: both sides of a comparison are Spark
    frames, so that form is exact, including the fraction of a second the
    digest's "timestamp" form drops."""
    from functools import reduce

    from transitlog_hfp_sink_spark.queries.power import agg_digest_spark

    aggs = [agg_digest_spark(df, [(c, "string") for c in df.columns]) for df in frames]
    row = reduce(lambda a, b: a.crossJoin(b), aggs).first()
    return [tuple(row[3 * i:3 * i + 3]) for i in range(len(frames))]


def reference_answers(spark, ref_vehicles, queries) -> dict[str, tuple]:
    """Each read query over the reference rows, through the same view SQL
    the catalog registers."""
    from transitlog_hfp_sink_spark.catalog import (
        register_headway_views,
        register_latest_view,
    )
    from transitlog_hfp_sink_spark.transform import dedup_vehicles

    ref_vehicles.createOrReplaceTempView("vehicles")
    dedup_vehicles(ref_vehicles).createOrReplaceTempView("vehicles_dedup")
    register_headway_views(spark)
    register_latest_view(spark)
    names = list(queries)
    return dict(zip(names, digests(*[spark.sql(queries[n][1]) for n in names])))


def read_back(spark, store, queries, ops, expected=None, spans=None) -> dict:
    """One closed-loop client: ``register_catalog`` over the store, then
    READ_ROUNDS rounds of the queries.  The first READ_WARM_ROUNDS are the
    warm-up; the first round's answers are checked against ``expected`` when
    given.  Returns per-query
    times of the timed rounds and the registration time."""
    from transitlog_hfp_sink_spark.catalog import register_catalog

    sc = spark.sparkContext
    t0 = time.time()
    register_catalog(spark, vehicles_path=store)
    register_s = time.time() - t0
    times: dict[str, list[float]] = {n: [] for n in queries}
    for r in range(READ_ROUNDS):
        for name, (_, sql) in queries.items():
            if spans is not None:
                sc.setLocalProperty(SPAN_PROPERTY, f"query:{name}")
            t = time.time()
            try:
                spark.sql(sql).collect()
            except Exception as e:  # noqa: BLE001 - counted, then the run fails
                ops.check(f"query {name}", False, repr(e)[:300])
                raise RunFailed(f"query {name} failed") from e
            finally:
                if spans is not None:
                    sc.setLocalProperty(SPAN_PROPERTY, None)
            dt = time.time() - t
            if r == 0 and expected is not None:
                got, = digests(spark.sql(sql))
                ops.check(f"answer {name}", got == expected[name],
                          f"{got} != {expected[name]}")
            else:
                ops.attempted += 1
            if r < READ_WARM_ROUNDS:
                continue
            times[name].append(dt)
            if spans is not None:
                spans.add(f"catalog.query.{name}", t, t + dt)
    return {"register_s": register_s, "times": times}


# ---------------------------------------------------------------------------
# correctness gate
# ---------------------------------------------------------------------------

def check_sink(spark, out, ref_file, files: list[dict], ops: Ops) -> dict:
    """Sink rows and dead letters by reason equal what the generator injected;
    the sink's digest, partition columns included, equals that of a batch
    ``hfp_transform`` of the reference rows.  Returns the counts found."""
    import pyarrow.parquet as pq

    from transitlog_hfp_sink_spark.schema import (
        HFP_RAW_SCHEMA,
        PARTITION_COLUMNS,
        VEHICLES_COLUMNS,
    )
    from transitlog_hfp_sink_spark.transform import hfp_transform, with_partition_columns

    cols = [*VEHICLES_COLUMNS, *PARTITION_COLUMNS]
    invalid = sum(f["invalid"] for f in files)
    bad_tst = sum(f["bad_tst"] for f in files)
    valid = sum(f["rows"] for f in files) - invalid - bad_tst
    ref = hfp_transform(spark.read.schema(HFP_RAW_SCHEMA).parquet(ref_file))
    sink, want = digests(spark.read.parquet(os.path.join(out, "sink")).select(*cols),
                         with_partition_columns(ref).select(*cols))
    ops.check("sink rows", sink[0] == valid, f"{sink[0]} != {valid}")
    ops.check("sink digest", sink == want, f"{sink} != {want}")
    reasons = pq.read_table(os.path.join(out, "dead"), columns=["reject_reason"])
    dead = {r["values"]: r["counts"] for r in reasons.column(0).value_counts().to_pylist()}
    ops.check("dead invalid_protobuf_schema", dead.get("invalid_protobuf_schema", 0) == invalid,
              f"{dead} vs {invalid}")
    ops.check("dead unparseable_tst", dead.get("unparseable_tst", 0) == bad_tst,
              f"{dead} vs {bad_tst}")
    return {"valid": sink[0], **dead}


# ---------------------------------------------------------------------------
# one measured pass of a workload
# ---------------------------------------------------------------------------

def stream_pass(spark, wl, work, out, seed, ops, exclude, spans=None) -> dict:
    """Drain the staged backlog, or run the live generator, into a fresh sink
    and checkpoint under ``out``.  Each generated file is one latency sample:
    from when it was due (the stream's start, for a staged backlog) to when
    its batch's ``commits/<id>`` entry was written."""
    ckpt = os.path.join(out, "ckpt")
    if "rate" not in wl:
        files = _manifest(os.path.join(work, "staged.jsonl"))
        ref_file = os.path.join(work, "ref.parquet")
        t_start = time.time()
        q = start_pipeline(spark, os.path.join(work, "src"), out, wl["files_per_batch"], spans)
        try:
            wait_committed(q, ckpt, {f["file"] for f in files}, 150)
        finally:
            q.stop()
        timed = [dict(f, due=t_start) for f in files]
        late = max(f["written"] for f in files) - t_start  # negative: staged early
        window_start = None
    else:
        src, ref_file = os.path.join(out, "live-src"), os.path.join(out, "ref.parquet")
        os.makedirs(src)
        q = start_pipeline(spark, src, out, None, spans)
        try:
            start_at = time.time() + 0.5
            manifest = os.path.join(out, "live.jsonl")
            proc = _gen(["live", "--out", src, "--ref", ref_file, "--seed", str(seed),
                         "--rate", str(wl["rate"]), "--files-per-s", str(wl["files_per_s"]),
                         "--seconds", str(wl["warmup_s"] + wl["seconds"]),
                         "--start-at", str(start_at), "--manifest", manifest])
            exclude.add(proc.pid)
            _wait_gen(proc, wl["warmup_s"] + wl["seconds"] + 60)
            files = _manifest(manifest)
            wait_committed(q, ckpt, {f["file"] for f in files}, 60)
        finally:
            q.stop()
        late = max(f["written"] - f["due"] for f in files)
        window_start = start_at + wl["warmup_s"]
        timed = [f for f in files if f["due"] >= window_start]
    batch_of = stats.file_batches(os.path.join(ckpt, "sources", "0"))
    committed = stats.commit_times(os.path.join(ckpt, "commits"))
    prog = {p["batchId"]: p for p in q.recentProgress if p["numInputRows"] > 0}
    for b in sorted(prog):
        ops.check(f"batch {b} committed", b in committed, "no commit entry")
    if window_start is None:
        # the warm-up batches ran before (warm_up), so the whole drain counts:
        # every row over the time from the first trigger to the last commit
        ids = sorted(prog)
        rows = sum(prog[b]["numInputRows"] for b in ids)
        ingest = rows / (committed[ids[-1]] - _ts(prog[ids[0]]["timestamp"]))
    else:
        # live: rows of the window's batches after its first, over the time
        # between their commits
        ids = [b for b in sorted(prog) if committed[b] >= window_start]
        if len(ids) < 2:
            raise RunFailed(f"{len(ids)} batches committed in the live window")
        rows = sum(prog[b]["numInputRows"] for b in ids[1:])
        ingest = rows / (committed[ids[-1]] - committed[ids[0]])
    return {
        "files": files, "ref_file": ref_file, "progress": prog, "committed": committed,
        "latencies": stats.file_latencies(timed, batch_of, committed),
        "ingest_rows_per_s": ingest,
        "gen_late_s": late,
        "backlog": stats.backlog_at_commits(files, batch_of, committed),
    }


def run_pass(spark, wl, work, tag, seed, ops, exclude, spans=None, read=True) -> dict:
    """Stream pass, correctness gate, then (with ``read``) the read-back."""
    out = os.path.join(work, tag)
    os.makedirs(out)
    res = stream_pass(spark, wl, work, out, seed, ops, exclude, spans)
    _phase(f"{tag}: stream done")
    res["counts"] = check_sink(spark, out, res["ref_file"], res["files"], ops)
    _phase(f"{tag}: sink checked")
    if res["gen_late_s"] > MAX_GEN_LATE_S:
        raise RunFailed(f"generator ran {res['gen_late_s']:.2f}s behind "
                        "schedule: the run is invalid")
    if not read:
        return res
    queries = read_queries("rate" in wl)
    expected = None
    if spans is not None:
        from transitlog_hfp_sink_spark.schema import HFP_RAW_SCHEMA
        from transitlog_hfp_sink_spark.transform import hfp_transform, with_partition_columns

        ref = spark.read.schema(HFP_RAW_SCHEMA).parquet(res["ref_file"])
        expected = reference_answers(spark, with_partition_columns(hfp_transform(ref)), queries)
    res["read"] = read_back(spark, os.path.join(out, "sink"), queries, ops, expected, spans)
    _phase(f"{tag}: read back")
    res["queries"] = queries
    res["out"] = out
    return res


def e2e_metrics(res: dict, setup_s: float, peak_rss: int) -> dict:
    lat = res["latencies"]
    if stats.tail_percentile(lat)["q"] < 95:
        raise RunFailed(f"{len(lat)} latency samples cannot support a p95")
    med = {n: statistics.median(t) for n, t in res["read"]["times"].items()}
    kinds = res["queries"]
    return {
        "setup_s": setup_s,
        "ingest_rows_per_s": res["ingest_rows_per_s"],
        "commit_latency_p50_s": stats.percentile(lat, 50),
        "commit_latency_p95_s": stats.percentile(lat, 95),
        "read_lookup_s": sum(v for n, v in med.items() if kinds[n][0] == "lookup"),
        "read_analytics_s": sum(v for n, v in med.items() if kinds[n][0] == "analytics"),
        "peak_rss_mb": peak_rss / 2**20,
    }


# ---------------------------------------------------------------------------
# traced run: layer ladder and per-layer metrics
# ---------------------------------------------------------------------------

def _timed_noop(df) -> float:
    t = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t


def ladder(spark, work, spans, ops) -> dict:
    """Time scan, then scan+decode, then +split, then +sink on one staged
    batch (median of LADDER_REPEATS per step); a layer's self time is the
    difference between its step and the one before.  The split and sink
    steps persist the decoded batch as ``HfpPipeline`` does."""
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.sinks.parquet import write_vehicles_parquet
    from transitlog_hfp_sink_spark.sources.protowire import decode_hfp_wire
    from transitlog_hfp_sink_spark.transform import hfp_split

    src = os.path.join(work, "ladder")
    rows = spark.read.parquet(src).count()
    injected = sum(f["invalid"] for f in _manifest(os.path.join(src, "_manifest.jsonl")))
    invalid = decode_hfp_wire(spark.read.parquet(src)).where(~F.col("schema_valid")).count()
    ops.check("decode invalid rows", invalid == injected, f"{invalid} != {injected}")
    pid, n = os.getpid(), [0]

    def split_then(write):
        r = decode_hfp_wire(spark.read.parquet(src)).persist()
        try:
            valid, dead = hfp_split(r)
            write(valid, dead)
        finally:
            r.unpersist()

    def sink(valid, dead):
        n[0] += 1
        write_vehicles_parquet(valid, os.path.join(work, "ladder-out", f"sink-{n[0]}"))
        dead.write.mode("append").parquet(os.path.join(work, "ladder-out", f"dead-{n[0]}"))

    steps = [
        ("scan", lambda: _timed_noop(spark.read.parquet(src))),
        ("decode", lambda: _timed_noop(decode_hfp_wire(spark.read.parquet(src)))),
        ("split", lambda: split_then(lambda v, d: (_timed_noop(v), _timed_noop(d)))),
        ("sink", lambda: split_then(sink)),
    ]
    wall, cpu = [], {}
    for name, fn in steps:
        walls, cpus = [], []
        for _ in range(LADDER_REPEATS):
            c0, t0 = tree_cpu_s(pid), time.time()
            fn()
            t1 = time.time()
            walls.append(t1 - t0)
            cpus.append(tree_cpu_s(pid) - c0)
            spans.add(f"ladder.{name}", t0, t1)
        wall.append((name, statistics.median(walls)))
        cpu[name] = statistics.median(cpus)
    own = stats.self_times(wall)
    return {
        "sources.files.scan_rows_per_s": rows / own["scan"],
        "sources.protowire.decode_rows_per_s": rows / own["decode"],
        "sources.protowire.decode_self_s": own["decode"],
        "sources.protowire.executor_cpu_s": cpu["decode"] - cpu["scan"],
        "sources.protowire.invalid_rows": invalid,
        "transform.split_rows_per_s": rows / own["split"],
        "sinks.parquet.write_rows_per_s": rows / own["sink"],
    }


def _p(values, q):
    return stats.percentile(values, q) if values else float("nan")


def _ts(iso: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


#: Spark's micro-batch phases in the order MicroBatchExecution runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets")


def layer_metrics(res, spans, ev: EventLog) -> dict:
    prog = res["progress"]
    ids = sorted(prog)
    steady = ids[1:] or ids
    dur = {b: prog[b]["durationMs"] for b in ids}
    sink_span = {s["batch"]: s["end"] - s["start"] for s in spans.rows
                 if s["name"] == "sinks.parquet.write"}
    # each batch's phase spans, laid end to end from Spark's durations; the
    # sink spans the wrapper recorded nest inside addBatch
    uncovered = {}
    for b in ids:
        t = t0 = _ts(prog[b]["timestamp"])
        total = dur[b]["triggerExecution"] / 1e3
        bid = spans.add("streaming.pipeline.batch", t0, t0 + total, batch=b)
        children = []
        for k in PHASES:
            d = dur[b].get(k, 0) / 1e3
            spans.add(f"stream.{k}", t, t + d, parent=bid, batch=b)
            children.append((t, t + d))
            t += d
        uncovered[b] = stats.uncovered(total, children)
    write_tasks, skews, shuffle, jobs_per_batch = [], [], [], []
    for b in steady:
        jobs_per_batch.append(len(ev.jobs_where("streaming.sql.batchId", str(b))))
        sink_jobs = ev.jobs_where(SPAN_PROPERTY, f"sink:{b}")
        for s in ev.write_stages(sink_jobs):
            ms = ev.task_ms.get(s, [])
            write_tasks.append(len(ms))
            if ms:
                skews.append(max(ms) / max(1, statistics.median(ms)))
        shuffle.append(ev.stage_acc(sink_jobs, "internal.metrics.shuffle.write.bytesWritten"))
    written = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(res["out"], "sink"))
               for f in fs if f.endswith(".parquet")]
    ms = lambda k: _p([dur[b][k] for b in steady], 50)  # noqa: E731
    out = {
        "stream.latestOffset_ms_p50": ms("latestOffset"),
        "stream.getBatch_ms_p50": ms("getBatch"),
        "stream.walCommit_ms_p50": ms("walCommit"),
        "stream.commitOffsets_ms_p50": ms("commitOffsets"),
        "stream.queryPlanning_ms_p50": ms("queryPlanning"),
        "sources.files.backlog_files_max": max(res["backlog"]),
        "sinks.parquet.sink_call_s_p50": _p([sink_span[b] for b in steady if b in sink_span], 50),
        "sinks.parquet.write_tasks_per_batch": _p(write_tasks, 50),
        "sinks.parquet.task_skew": _p(skews, 50),
        "sinks.parquet.shuffle_write_bytes": _p(shuffle, 50),
        "sinks.parquet.files_written": len(written),
        "sinks.parquet.bytes_written": sum(os.path.getsize(f) for f in written),
        "streaming.pipeline.batch_s_p50": _p([dur[b]["addBatch"] / 1e3 for b in steady], 50),
        "streaming.pipeline.batch_s_p90": _p([dur[b]["addBatch"] / 1e3 for b in steady], 90),
        "streaming.pipeline.dead_letter_s_p50": _p(
            [dur[b]["addBatch"] / 1e3 - sink_span[b] for b in steady if b in sink_span], 50),
        "streaming.pipeline.jobs_per_batch": _p(jobs_per_batch, 50),
        "streaming.pipeline.rows_per_batch_p50": _p([prog[b]["numInputRows"] for b in steady],
                                                    50),
        "streaming.pipeline.first_batch_s": dur[ids[0]]["triggerExecution"] / 1e3,
        "streaming.pipeline.uncovered_s_p50": _p([uncovered[b] for b in steady], 50),
        "transform.valid_rows": res["counts"]["valid"],
        "transform.dead_rows.invalid_protobuf_schema":
            res["counts"].get("invalid_protobuf_schema", 0),
        "transform.dead_rows.unparseable_tst": res["counts"].get("unparseable_tst", 0),
        "catalog.register_s": res["read"]["register_s"],
        "gen.late_s_max": res["gen_late_s"],
    }
    for q, t in res["read"]["times"].items():
        jobs = ev.jobs_where(SPAN_PROPERTY, f"query:{q}")
        n = READ_ROUNDS  # the warm-up rounds ran the same jobs
        out[f"catalog.query_s.{q}"] = statistics.median(t)
        out[f"catalog.files_read.{q}"] = ev.driver_metric(jobs, "number of files read") / n
        out[f"catalog.bytes_read.{q}"] = ev.stage_acc(
            jobs, "internal.metrics.input.bytesRead") / n
    return out


_INGEST, _LIVE = "ingest_rows_per_s on wire_drain", "commit_latency_* on wire_live"
#: per-layer metric -> (unit, the end-to-end metric and workload it should move)
PER_LAYER = {
    "session.build_s": ("s", "setup_s on both"),
    "sources.files.scan_rows_per_s": ("rows/s", _INGEST),
    "stream.latestOffset_ms_p50": ("ms", _LIVE),
    "stream.getBatch_ms_p50": ("ms", _LIVE),
    "sources.files.backlog_files_max": ("count", "commit_latency_p95_s on wire_live"),
    "sources.protowire.decode_rows_per_s": ("rows/s", _INGEST),
    "sources.protowire.decode_self_s": ("s", _INGEST),
    "sources.protowire.executor_cpu_s": ("s", _INGEST),
    "sources.protowire.invalid_rows": ("count", "exact: equals the injected count"),
    "transform.split_rows_per_s": ("rows/s", _INGEST),
    "transform.valid_rows": ("count", "exact: equals the generated valid rows"),
    "transform.dead_rows.invalid_protobuf_schema": ("count", "exact: equals the injected count"),
    "transform.dead_rows.unparseable_tst": ("count", "exact: equals the injected count"),
    "sinks.parquet.write_rows_per_s": ("rows/s", _INGEST),
    "sinks.parquet.sink_call_s_p50": ("s", "commit_latency_p50_s on wire_live"),
    "sinks.parquet.write_tasks_per_batch": ("count", _INGEST + "; read_lookup_s on both"),
    "sinks.parquet.task_skew": ("ratio", _INGEST + "; read_lookup_s on both"),
    "sinks.parquet.shuffle_write_bytes": ("bytes", _INGEST + "; read_lookup_s on both"),
    "sinks.parquet.files_written": ("count", _INGEST + "; read_lookup_s on both"),
    "sinks.parquet.bytes_written": ("bytes", _INGEST + "; read_lookup_s on both"),
    "streaming.pipeline.batch_s_p50": ("s", _LIVE),
    "streaming.pipeline.batch_s_p90": ("s", _LIVE),
    "streaming.pipeline.dead_letter_s_p50": ("s", _LIVE),
    "streaming.pipeline.jobs_per_batch": ("count", _LIVE),
    "streaming.pipeline.rows_per_batch_p50": ("count", _LIVE),
    "streaming.pipeline.first_batch_s": ("s", _LIVE),
    "streaming.pipeline.uncovered_s_p50": ("s", "batch time no span covers; " + _LIVE),
    "stream.walCommit_ms_p50": ("ms", "commit_latency_p50_s on wire_live"),
    "stream.commitOffsets_ms_p50": ("ms", "commit_latency_p50_s on wire_live"),
    "stream.queryPlanning_ms_p50": ("ms", "commit_latency_p50_s on wire_live"),
    "catalog.register_s": ("s", "read-back set-up on both"),
    **{f"catalog.{m}.{q}": (u, f"{kind} on both")
       for q, kind in (("hour_routes", "read_lookup_s"), ("vehicle_track", "read_lookup_s"),
                       ("vp_per_route", "read_analytics_s"),
                       ("vehicles_latest", "read_analytics_s"),
                       ("vehicles_headways", "read_analytics_s"))
       for m, u in (("query_s", "s"), ("files_read", "count"), ("bytes_read", "bytes"))},
    "gen.late_s_max": ("s", "validity: a wire_live run over 1 s late is invalid"),
    "trace.overhead_ratio": ("ratio", "traced / untraced passes' median commit latency"),
    "failed_ops_ratio": ("ratio", "0: every batch, query and check passed"),
}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def _backlog_files(wl: dict) -> int:
    return 0 if "rate" in wl else max(200, wl["files_per_s"] * wl["seconds"])


def _stage_args(wl: dict, seed: int, work: str, part: str) -> list[str]:
    """Generator arguments for the warm-up (and ladder) files, or for the
    drain's backlog and its reference file."""
    files = _backlog_files(wl)
    args = ["stage", "--seed", str(seed), "--hours", str(wl["hours"]),
            "--batches", str(max(1, files // wl.get("files_per_batch", 1)))]
    if part == "backlog":
        return args + ["--rows", str(files * wl["file_rows"]), "--files", str(files),
                       "--out", os.path.join(work, "src"),
                       "--ref", os.path.join(work, "ref.parquet"),
                       "--manifest", os.path.join(work, "staged.jsonl")]
    args += ["--warm", os.path.join(work, "warm"), "--warm-files", str(WARM_FILES),
             "--warm-rows", str(WARM_ROWS)]
    if part == "ladder":
        args += ["--ladder", os.path.join(work, "ladder")]
    return args


def run(args) -> dict:
    name = args.workload
    wl = dict(WORKLOADS[name], seconds=args.seconds)
    work = os.path.join(ROOT, ".perfbench", f"run-{name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    ops = Ops()
    spark = gateway = None
    gens: list[subprocess.Popen] = []
    with MemorySampler(os.getpid()) as rss:
        def stage(part: str) -> subprocess.Popen:
            gens.append(_gen(_stage_args(wl, args.seed, work, part)))
            rss.exclude.add(gens[-1].pid)
            return gens[-1]

        try:
            # set-up = process start (interpreter, imports, JVM launch) ->
            # session built and stream started; nothing else runs meanwhile
            spark = build(work)
            gateway = spark.sparkContext._gateway
            session_build_s = time.time() - T_PROCESS
            probe = os.path.join(work, "probe-src")
            os.makedirs(probe)
            q = start_pipeline(spark, probe, os.path.join(work, "probe-out"))
            setup_s = time.time() - T_PROCESS
            q.stop()
            _phase(f"set-up {setup_s:.3f}s")
            # the backlog is staged while the warm-up runs, which is not timed
            _wait_gen(stage("ladder" if args.trace else "warm"), 60)
            backlog = stage("backlog") if _backlog_files(wl) else None
            warm_up(spark, work, "warm-out")
            if backlog is not None:
                _wait_gen(backlog, 120)
            _phase("warm")
            # a traced run's untraced passes only set the base of
            # trace.overhead_ratio, so they skip the read-back
            res = run_pass(spark, wl, work, "pass", args.seed, ops, rss.exclude,
                           read=not args.trace)
            extra = {"latency_tail": stats.tail_percentile(res["latencies"]),
                     "backlog_at_commits": res["backlog"],
                     "batches": len(res["progress"]),
                     "rows": sum(f["rows"] for f in res["files"])}
            if not args.trace:
                extra["failed_ops_ratio"] = ops.failed / ops.attempted
                extra["read_s"] = {q: [round(t, 4) for t in ts]
                                   for q, ts in res["read"]["times"].items()}
                return {"ops": ops, "metrics": e2e_metrics(res, setup_s, rss.peak),
                        "units": E2E_UNITS, "extra": extra}

            # traced pass: event log on, sink wrapped, query jobs tagged.  It
            # runs between two untraced passes, each on a fresh, warmed
            # session, because every pass runs faster than the one before as
            # the JVM compiles more of the path.
            spans = Spans()
            spark.stop()
            evdir = os.path.join(work, "eventlog")
            spark = build(work, event_log=evdir)
            warm_up(spark, work, "warm-traced")
            tres = run_pass(spark, wl, work, "traced", args.seed, ops, rss.exclude, spans)
            layers = ladder(spark, work, spans, ops)
            _phase("ladder")
            spark.stop()
            spark = build(work)
            warm_up(spark, work, "warm-after")
            after = run_pass(spark, wl, work, "after", args.seed, ops, rss.exclude, read=False)
            spark.stop()
            spark = None
            layers.update(layer_metrics(tres, spans, EventLog(event_log_file(evdir))))
            traced = e2e_metrics(tres, setup_s, rss.peak)
            layers["session.build_s"] = session_build_s
            layers["trace.overhead_ratio"] = _overhead([res, after], tres)
            layers["failed_ops_ratio"] = ops.failed / ops.attempted
            _write_trace(name, args.seed, spans)
            return {"ops": ops, "metrics": layers,
                    "units": {k: u for k, (u, _) in PER_LAYER.items()},
                    "extra": dict(extra, e2e_traced=traced)}
        finally:
            for gen in gens:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            if spark is not None:
                spark.stop()
            if gateway is not None:
                _stop_gateway(gateway)
            shutil.rmtree(work, ignore_errors=True)


def _overhead(untraced: list[dict], traced: dict) -> float:
    """Traced median commit latency over the mean of the untraced passes'
    medians: for the drain that is the time to commit half the backlog, for
    the live run the usual latency."""
    base = statistics.mean(stats.percentile(u["latencies"], 50) for u in untraced)
    return stats.percentile(traced["latencies"], 50) / base


def _stop_gateway(gateway) -> None:
    """Stop the JVM PySpark launched and wait for it to exit."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _write_trace(name, seed, spans) -> None:
    d = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{name}-seed{seed}.json"), "w") as f:
        json.dump(spans.rows, f)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "transitlog_hfp_sink_spark", "__init__.py")):
        print(f"no transitlog_hfp_sink_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        out = run(args)
    except RunFailed as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    ops, metrics, units = out["ops"], out["metrics"], out["units"]
    for k, v in sorted(metrics.items()):
        moves = f"  -> {PER_LAYER[k][1]}" if args.trace else ""
        print(f"{k:46s} {v:14.6g} {units[k]:6s}{moves}")
    print(json.dumps(out["extra"]))
    print(json.dumps({
        "correct": ops.failed == 0, "attempted": ops.attempted, "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
