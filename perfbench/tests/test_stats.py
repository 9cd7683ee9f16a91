"""Pure helpers of the benchmark: percentiles with sample counts, self time
by subtraction and batch -> file attribution.

Run with ``python3 -m pytest perfbench/tests -q``; no Spark needed.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------

def test_percentile_interpolates_like_numpy_linear():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile([7.0], 95) == 7.0


def test_percentile_of_empty_sample_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n,q,beyond", [(200, 95, 10), (199, 95, 10), (100, 95, 5),
                                        (100, 90, 10), (11, 0, 10), (1, 50, 0)])
def test_samples_beyond(n, q, beyond):
    assert stats.samples_beyond(n, q) == beyond


def test_tail_percentile_picks_highest_supported_and_reports_count():
    assert stats.tail_percentile(list(range(1000)))["q"] == 99
    t = stats.tail_percentile([float(i) for i in range(200)])
    assert (t["q"], t["n"], t["beyond"]) == (95, 200, 10)
    assert t["value"] == pytest.approx(189.05)
    assert stats.tail_percentile(list(range(100)))["q"] == 90
    # too few samples for any tail: the median, with its count
    t = stats.tail_percentile([1.0, 2.0, 3.0])
    assert (t["q"], t["value"], t["n"]) == (50, 2.0, 3)


# ---------------------------------------------------------------------------
# self time
# ---------------------------------------------------------------------------

def test_self_times_subtracts_the_previous_step():
    own = stats.self_times([("scan", 0.5), ("decode", 2.0), ("split", 2.25), ("sink", 3.0)])
    assert own == pytest.approx({"scan": 0.5, "decode": 1.5, "split": 0.25, "sink": 0.75})


def test_self_time_is_reported_as_measured_even_when_negative():
    # noise can make a step faster than the one before; hiding that would
    # hide the noise
    assert stats.self_times([("a", 1.0), ("b", 0.9)])["b"] == pytest.approx(-0.1)


def test_uncovered_counts_overlaps_once():
    assert stats.uncovered(10.0, []) == 10.0
    assert stats.uncovered(10.0, [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == pytest.approx(6.0)
    assert stats.uncovered(4.0, [(0.0, 4.0), (1.0, 2.0)]) == pytest.approx(0.0)


# ---------------------------------------------------------------------------
# batch -> file attribution from a checkpoint
# ---------------------------------------------------------------------------

def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def _entry(name, batch):
    return {"path": f"file:///data/in/{name}", "timestamp": 1, "batchId": batch}


def test_file_batches_reads_delta_and_compact_logs(tmp_path):
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)
    # batches 0..9 folded into 9.compact (older deltas already deleted),
    # then plain delta files; checksum and temp files are ignored
    _log(d / "9.compact", [_entry(f"f{b}.parquet", b) for b in range(10)])
    _log(d / "10", [_entry("f10a.parquet", 10), _entry("f10b.parquet", 10)])
    _log(d / "11", [_entry("f11.parquet", 11)])
    (d / ".11.crc").write_bytes(b"\x00")
    (d / ".12.tmp").write_text("partial")
    got = stats.file_batches(str(d))
    assert got == {**{f"f{b}.parquet": b for b in range(10)},
                   "f10a.parquet": 10, "f10b.parquet": 10, "f11.parquet": 11}


def test_file_batches_rejects_a_log_without_version_header(tmp_path):
    (tmp_path / "0").write_text(json.dumps(_entry("a", 0)) + "\n")
    with pytest.raises(ValueError):
        stats.file_batches(str(tmp_path))


def test_commit_times_and_latencies(tmp_path):
    c = tmp_path / "commits"
    c.mkdir()
    for b, t in ((0, 100.0), (1, 101.5)):
        (c / str(b)).write_text("v1\n{}\n")
        os.utime(c / str(b), (t, t))
    (c / ".1.crc").write_bytes(b"")
    committed = stats.commit_times(str(c))
    assert committed == {0: 100.0, 1: 101.5}
    batch_of = {"a": 0, "b": 1, "c": 1}
    files = [{"file": "a", "due": 99.0}, {"file": "b", "due": 100.5},
             {"file": "c", "due": 101.0}]
    assert stats.file_latencies(files, batch_of, committed) == pytest.approx([1.0, 1.0, 0.5])


def test_latency_of_an_uncommitted_file_is_an_error():
    with pytest.raises(ValueError):
        stats.file_latencies([{"file": "x", "due": 0.0}], {"x": 3}, {0: 1.0})
    with pytest.raises(ValueError):
        stats.file_latencies([{"file": "y", "due": 0.0}], {}, {0: 1.0})


def test_backlog_at_commits_counts_written_but_uncommitted_files():
    # three files written before the first commit, one of them in it; two
    # more written before the second commit
    files = [{"file": n, "written": w} for n, w in
             (("a", 0.1), ("b", 0.2), ("c", 0.3), ("d", 1.2), ("e", 1.4))]
    batch_of = {"a": 0, "b": 1, "c": 1, "d": 1, "e": 2}
    committed = {0: 1.0, 1: 2.0, 2: 3.0}
    # before commit 0: 3 visible, 0 done; before 1: 5 visible, 1 done;
    # before 2: 5 visible, 4 done
    assert stats.backlog_at_commits(files, batch_of, committed) == [3, 4, 1]

