"""Pure helpers of the product-path benchmark: percentiles with their sample
counts, self time by subtraction, and batch -> file attribution from a
streaming checkpoint.  The content digest of the correctness gate is the
program's own ``queries.power.agg_digest_spark``.

Nothing here touches Spark, so ``perfbench/tests`` checks it in milliseconds.
"""

from __future__ import annotations

import json
import os

#: candidate percentiles, highest first, for the tail a sample supports
TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default ``linear`` method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the q-th percentile's rank."""
    return n - 1 - int((n - 1) * q / 100.0)


def tail_percentile(values, min_beyond: int = 10) -> dict:
    """The highest of ``TAIL_PERCENTILES`` that keeps at least ``min_beyond``
    samples beyond it, as ``{"q", "value", "n", "beyond"}``; the median when
    the sample is too small for any tail."""
    n = len(values)
    for q in TAIL_PERCENTILES:
        if samples_beyond(n, q) >= min_beyond:
            break
    return {"q": q, "value": percentile(values, q), "n": n,
            "beyond": samples_beyond(n, q)}


def self_times(steps: list[tuple[str, float]]) -> dict[str, float]:
    """Layer ladder -> self time per step.  Each step runs everything the
    previous one ran plus one layer, so a layer's self time is its step's
    time minus the previous step's."""
    out: dict[str, float] = {}
    prev = 0.0
    for name, seconds in steps:
        out[name] = seconds - prev
        prev = seconds
    return out


def uncovered(total: float, spans: list[tuple[float, float]]) -> float:
    """Part of ``total`` seconds that none of the (start, end) child spans
    covers, overlaps counted once."""
    covered = 0.0
    end_so_far = None
    for s, e in sorted(spans):
        if end_so_far is None or s > end_so_far:
            covered += e - s
            end_so_far = e
        elif e > end_so_far:
            covered += e - end_so_far
            end_so_far = e
    return total - covered


# ---------------------------------------------------------------------------
# streaming checkpoint: which input file went into which batch, and when
# each batch committed
# ---------------------------------------------------------------------------

def _log_entries(text: str):
    lines = text.splitlines()
    if not lines or not lines[0].startswith("v"):
        raise ValueError("not a file-source log: missing version header")
    for line in lines[1:]:
        if line.strip():
            yield json.loads(line)


def file_batches(source_log_dir: str) -> dict[str, int]:
    """Basename of every input file -> the batch that read it, from a file
    source's metadata log (``<checkpoint>/sources/0``): one ``<n>`` file per
    batch plus a ``<n>.compact`` file, written every few batches, that
    repeats every entry so far."""
    out: dict[str, int] = {}
    for name in os.listdir(source_log_dir):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(source_log_dir, name)) as f:
            for entry in _log_entries(f.read()):
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(commits_dir: str) -> dict[int, float]:
    """Batch id -> wall time its ``commits/<id>`` entry was written."""
    out: dict[int, float] = {}
    for name in os.listdir(commits_dir):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(commits_dir, name)).st_mtime
    return out


def file_latencies(files: list[dict], batch_of: dict[str, int],
                   committed: dict[int, float]) -> list[float]:
    """Per generated file: commit time of its batch minus when it was due.
    ``files`` carry ``file`` and ``due``; a file not yet in a committed
    batch raises, because its latency is unknown, not small."""
    out = []
    for f in files:
        b = batch_of.get(f["file"])
        if b is None or b not in committed:
            raise ValueError(f"{f['file']} is in no committed batch")
        out.append(committed[b] - f["due"])
    return out


def backlog_at_commits(files: list[dict], batch_of: dict[str, int],
                       committed: dict[int, float]) -> list[int]:
    """Files visible to the source (written) but not yet in a committed
    batch, sampled just before each commit, in commit order.  A series that
    keeps growing means the offered rate is not sustained."""
    out = []
    for t in sorted(committed.values()):
        visible = sum(1 for f in files if f["written"] < t)
        done = sum(1 for f in files
                   if committed.get(batch_of.get(f["file"], -1), float("inf")) < t)
        out.append(visible - done)
    return out
