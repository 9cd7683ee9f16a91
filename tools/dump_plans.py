"""Dump `.explain("formatted")` for every benched query to plans/<subdir>/.

Usage: python tools/dump_plans.py <subdir> <suffix> [query ...]

Writes plans/<subdir>/<query>_<suffix>.txt (suffix = before|after) for every
headline bench query plus the TPC-H tail shapes — the optimization-round
evidence files. Queries whose registry callable executes side work on
construction are substituted the same way tools/gen_plans.py does, so the
snapshot is the steady-state plan the bench times.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transitlog_hfp_sink_spark.session import build_session
from transitlog_hfp_sink_spark.plans.inspect import explain_str

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")
PLANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "plans")


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    subdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    out = os.path.join(PLANS, subdir)
    os.makedirs(out, exist_ok=True)

    from bench import BENCH_QUERIES, bench_overrides
    from transitlog_hfp_sink_spark.queries import queries, power, relational

    qs = queries()
    overrides = bench_overrides()

    # registry entries that execute legs on construction: snapshot the
    # batch-leg plan instead (same substitutions as tools/gen_plans.py)
    from transitlog_hfp_sink_spark.queries.timeseries import (
        q_gapfill_rollup,
        q_hourly_rollup,
    )

    qs["events_hourly_rollup"] = q_hourly_rollup
    qs["gapfill_rollup"] = q_gapfill_rollup

    names = list(BENCH_QUERIES)
    tpch_fns = {
        n: f
        for n, f in {**relational.QUERIES, **power.POWER_QUERIES}.items()
        if n.startswith("q") and n[1].isdigit()
    }

    spark = build_session(
        app_name=f"dump-plans-{subdir}", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    failed = []
    for name in names + sorted(set(tpch_fns) - set(names)):
        if only and name not in only:
            continue
        fn = overrides.get(name) or tpch_fns.get(name) or qs.get(name)
        if fn is None:
            failed.append((name, "no callable"))
            continue
        try:
            plan = explain_str(fn(spark, SF_DIR), "formatted")
        except Exception as e:  # noqa: BLE001 — record and keep dumping
            failed.append((name, repr(e)[:200]))
            continue
        with open(os.path.join(out, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(name, flush=True)
    spark.stop()
    if failed:
        print("FAILED:", failed)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
