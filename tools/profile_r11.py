"""Per-query profiling harness for the round-11 optimization pass.

For each bench query: time DataFrame CONSTRUCTION (driver-side Python),
PLANNING (explain of the optimized plan), and EXECUTION (noop sink,
first run + min-of-N warm), and attribute executor time per stage from
the Spark event log (job group = query name). Prints a compact JSON
report per query so optimization targets the component that actually
costs — guide §1: measure first, empirical loop.

Usage: python tools/profile_r11.py [query ...]   (default: all bench queries)
       env SF_DIR (default /root/testdata/sf0.1), RUNS (default 3)
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("RUNS", "3"))
EVDIR = "/tmp/spark-events-r11"


def parse_eventlog(path: str) -> dict:
    """job-group -> {executor_run_ms, stages: [(stageId, name, tasks, run_ms, shuffle_read, shuffle_write)]}"""
    import collections
    import glob
    import itertools

    if os.path.isdir(path):  # rolling v2 layout: a dir of events_* files
        files = sorted(glob.glob(os.path.join(path, "events_*")))
    else:
        files = [path]
    stage_to_group = {}
    job_group_of_job = {}
    stage_info = {}
    task_sum = collections.defaultdict(lambda: [0, 0, 0, 0])  # run_ms, sr, sw, tasks
    def _lines(p):
        if p.endswith(".zstd"):
            import io

            import pyarrow as pa

            with pa.input_stream(p, compression="zstd") as r:
                yield from io.TextIOWrapper(r, encoding="utf-8")
        else:
            with open(p) as fh:
                yield from fh
    if True:
        for line in itertools.chain.from_iterable(_lines(p) for p in files):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                grp = ev.get("Properties", {}).get("spark.jobGroup.id", "")
                job_group_of_job[ev["Job ID"]] = grp
                for si in ev.get("Stage Infos", []):
                    stage_to_group[si["Stage ID"]] = grp
                    stage_info[si["Stage ID"]] = si.get("Stage Name", "")
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tm = ev.get("Task Metrics") or {}
                t = task_sum[sid]
                t[0] += tm.get("Executor Run Time", 0)
                srm = tm.get("Shuffle Read Metrics") or {}
                t[1] += srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                swm = tm.get("Shuffle Write Metrics") or {}
                t[2] += swm.get("Shuffle Bytes Written", 0)
                t[3] += 1
    out = collections.defaultdict(lambda: {"executor_run_ms": 0, "stages": []})
    for sid, (run, sr, sw, ntasks) in sorted(task_sum.items()):
        grp = stage_to_group.get(sid, "?")
        g = out[grp]
        g["executor_run_ms"] += run
        g["stages"].append(
            {"stage": sid, "name": stage_info.get(sid, "")[:60], "tasks": ntasks,
             "run_ms": run, "shuf_read": sr, "shuf_write": sw}
        )
    return dict(out)


def main() -> None:
    only = sys.argv[1:]
    os.makedirs(EVDIR, exist_ok=True)
    from transitlog_hfp_sink_spark.session import build_session, default_cpus
    from transitlog_hfp_sink_spark.queries import queries as all_queries
    from bench import BENCH_QUERIES, bench_overrides

    cpus = default_cpus()
    spark = build_session(
        app_name="profile-r11", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
        },
    )
    app_id = spark.sparkContext.applicationId
    spark.range(1000).count()  # warm

    from transitlog_hfp_sink_spark.sources.files import read_table
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        read_table(spark, SF_DIR, t).count()

    qs = all_queries()
    overrides = bench_overrides()
    names = only or BENCH_QUERIES
    report = {}
    for name in names:
        fn = overrides.get(name) or qs[name]
        sc = spark.sparkContext
        # warm any index-build side state OUTSIDE the measured window
        t0 = time.time()
        df = fn(spark, SF_DIR)
        t_build0 = time.time() - t0
        sc.setJobGroup(f"{name}#first", name)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t_first = time.time() - t0
        best = float("inf")
        t_builds = []
        for i in range(RUNS):
            sc.setJobGroup(f"{name}#b{i}", name)
            t0 = time.time()
            df2 = fn(spark, SF_DIR)
            t_builds.append(time.time() - t0)
            sc.setJobGroup(f"{name}#w{i}", name)
            t0 = time.time()
            df2.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        sc.setJobGroup(None, None)
        report[name] = {
            "build_s": round(min(t_builds), 3),
            "build_first_s": round(t_build0, 3),
            "exec_first_s": round(t_first, 3),
            "exec_warm_s": round(best, 3),
        }
        print(f"{name}: build={report[name]['build_s']} first={t_first:.3f} "
              f"warm={best:.3f}", flush=True)
    spark.stop()

    evp = os.path.join(EVDIR, app_id)
    if not os.path.exists(evp):
        evp = os.path.join(EVDIR, f"eventlog_v2_{app_id}")
    ev = parse_eventlog(evp)
    for name in report:
        # warm phases w0..w{RUNS-1}: keep the MIN-core-time run (matches
        # the bench's min-of-N wall estimator)
        warm = [ev[f"{name}#w{i}"] for i in range(RUNS) if f"{name}#w{i}" in ev]
        builds = [ev[f"{name}#b{i}"] for i in range(RUNS) if f"{name}#b{i}" in ev]
        first = ev.get(f"{name}#first")
        if first:
            report[name]["first_core_ms"] = first["executor_run_ms"]
        if builds:
            report[name]["build_core_ms"] = min(
                b["executor_run_ms"] for b in builds)
            report[name]["build_jobs_stages"] = min(
                len(b["stages"]) for b in builds)
        if warm:
            g = min(warm, key=lambda w: w["executor_run_ms"])
            report[name]["warm_core_ms"] = g["executor_run_ms"]
            report[name]["n_stages"] = len(g["stages"])
            report[name]["stages"] = sorted(
                g["stages"], key=lambda s: -s["run_ms"])[:10]
    out = os.environ.get("OUT", "/tmp/profile_r11.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\nwrote {out}")
    for name, r in sorted(report.items(), key=lambda kv: -kv[1]["exec_warm_s"]):
        print(f"{r['exec_warm_s']:7.3f}s warm  {r.get('warm_core_ms',0)/1000:8.1f} warm-core-s  "
              f"{r.get('n_stages','?'):>3} stages  build {r['build_s']:.3f}s"
              f"+{r.get('build_core_ms',0)/1000:.1f}core  {name}")


if __name__ == "__main__":
    main()
