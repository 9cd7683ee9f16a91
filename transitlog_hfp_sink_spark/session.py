"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the configs below are the ones that matter
identically on a 1000-executor cluster: AQE for runtime re-planning (skew
joins, partition coalescing), Arrow for the pandas-UDF surface, UTC
timestamps, and a shuffle-partition count sized for the workload.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

#: Above this many paths Spark lists files with a distributed job
#: (spark.sql.sources.parallelPartitionDiscovery.threshold, default 32).
#: On a local master that job runs the same listing code in the same JVM
#: and adds a job's scheduling cost: on local[4] a file stream batch of 50
#: files paid 0.25-0.6 s in getBatch for it. Local masters list on the driver.
LISTING_THRESHOLD_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def master_conf(master: str) -> dict[str, str]:
    """Settings that depend on the master: driver-side file listing on
    ``local``/``local[...]``; cluster masters (``local-cluster`` included)
    keep Spark's default."""
    if _LOCAL_MASTER.fullmatch(master):
        return {LISTING_THRESHOLD_CONF: str(2**31 - 1)}
    return {}


def default_cpus() -> str:
    """The local core count every entry point defaults to:
    SPARK_GRAFT_CPUS if set, else the cores this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def build_session(
    app_name: str = "transitlog-hfp-sink-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = (
            int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce post-shuffle partitions, runtime skew-join splitting —
        # the mechanism that keeps the same code working at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet stores ts as TIMESTAMP(NANOS), which the
        # vectorized reader rejects; reading nanos as int64 is SESSION
        # POLICY set once here (read_table converts with exact integer
        # math). Setting it lazily per-read left a race: a concurrently
        # finishing bounded stream (_pinned_stream_confs) could restore
        # the conf to unset while a batch scan executed, garbling
        # timestamp faces mid-query (caught by the round-5 batch-digest +
        # 5-way concurrency test; counts were blind to it).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**master_conf(master), **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()
