"""Measurements taken from outside the program: the process tree's memory
and CPU (from ``/proc``) and Spark's event log.

The process tree is the benchmark's own process and every descendant: the
driver JVM that PySpark launches and the Python workers it forks.  The load
generator is excluded, because it is not part of the system under test.
"""

from __future__ import annotations

import json
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may contain spaces; fields after it are fixed
    return text[text.rindex(")") + 2:].split()


def tree_pids(root: int, exclude: set[int] = frozenset()) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int, exclude: set[int] = frozenset()) -> float:
    """User + system CPU seconds of the tree, including children it reaped."""
    total = 0
    for pid in tree_pids(root, exclude):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_pss_bytes(root: int, exclude: set[int] = frozenset()) -> int:
    """Proportional set size of the tree: resident memory with each shared
    page split among the processes sharing it, so forked Python workers, and
    a child caught between fork and exec, do not count shared pages twice."""
    total = 0
    for pid in tree_pids(root, exclude):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class MemorySampler:
    """Samples the tree's resident memory (as ``tree_pss_bytes``) every
    ``period_s`` in a daemon thread and keeps the peak; ``exclude`` may grow
    while it runs.  A sample walks /proc holding the interpreter lock that
    the driver's streaming callbacks need, so it runs only once a second."""

    def __init__(self, root: int, period_s: float = 1.0) -> None:
        self.root = root
        self.period_s = period_s
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.root, set(self.exclude)))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

#: local property the benchmark sets around each traced call, so the jobs the
#: call starts can be attributed to it in the event log
SPAN_PROPERTY = "perfbench.span"


class EventLog:
    """Jobs, stages, tasks and SQL driver metrics of one application, read
    from an uncompressed, non-rolling Spark event log file."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}       # job id -> {"props", "stages", "exec"}
        self.stages: dict[int, dict] = {}     # stage id -> {"acc": name -> value}
        self.task_ms: dict[int, list[int]] = {}
        self.plan_metrics: dict[int, dict[int, str]] = {}  # exec -> acc id -> name
        self.driver_acc: dict[int, dict[int, int]] = {}    # exec -> acc id -> value
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "props": props,
                "stages": [s["Stage ID"] for s in e["Stage Infos"]],
                "exec": int(ex) if ex is not None else None,
            }
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            self.task_ms.setdefault(e["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"])
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            self.stages[si["Stage ID"]] = {
                "acc": {a["Name"]: a.get("Value") for a in si.get("Accumulables", [])},
            }
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            names = self.plan_metrics.setdefault(e["executionId"], {})
            todo = [e["sparkPlanInfo"]]
            while todo:
                node = todo.pop()
                for m in node.get("metrics", []):
                    names[m["accumulatorId"]] = m["name"]
                todo.extend(node.get("children", []))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            acc = self.driver_acc.setdefault(e["executionId"], {})
            for acc_id, value in e["accumUpdates"]:
                acc[acc_id] = acc.get(acc_id, 0) + value

    def jobs_where(self, key: str, value: str) -> list[int]:
        return [j for j, job in self.jobs.items() if job["props"].get(key) == value]

    def stage_acc(self, job_ids, name: str) -> float:
        """Sum of a stage accumulator over the completed stages of these jobs."""
        total = 0.0
        for j in job_ids:
            for s in self.jobs[j]["stages"]:
                v = self.stages.get(s, {}).get("acc", {}).get(name)
                if v is not None:
                    total += float(v)
        return total

    def driver_metric(self, job_ids, name: str) -> float:
        """Sum of a SQL driver-side metric (e.g. ``number of files read``)
        over the executions these jobs belong to."""
        total = 0.0
        for ex in {self.jobs[j]["exec"] for j in job_ids} - {None}:
            names = self.plan_metrics.get(ex, {})
            for acc_id, value in self.driver_acc.get(ex, {}).items():
                if names.get(acc_id) == name:
                    total += value
        return total

    def write_stages(self, job_ids) -> list[int]:
        """Completed stages of these jobs that wrote output files."""
        return [s for j in job_ids for s in self.jobs[j]["stages"]
                if float(self.stages.get(s, {}).get("acc", {})
                         .get("internal.metrics.output.bytesWritten", 0) or 0) > 0]


def event_log_file(directory: str) -> str:
    names = [n for n in os.listdir(directory) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise ValueError(f"expected one finished event log in {directory}: {names}")
    return os.path.join(directory, names[0])


def wait_for(pred, timeout_s: float, period_s: float = 0.05) -> bool:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(period_s)
    return pred()
