"""Keyed parquet upsert: conflict semantics, partition isolation."""

import pytest
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.sinks.merge import upsert_partitioned

SCHEMA = "k long, day string, v string, ver int"


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def store(spark, tmp_path):
    path = str(tmp_path / "tbl")
    upsert_partitioned(
        spark,
        path,
        _rows(
            spark,
            [
                (1, "d1", "a", 1),
                (2, "d1", "b", 1),
                (3, "d2", "c", 1),
                (4, "d3", "d", 1),
            ],
        ),
        key_cols=["k", "day"],
        partition_cols=["day"],
        version_col="ver",
    )
    return path


def _snap(spark, path):
    return {
        (r["k"], r["day"]): (r["v"], r["ver"])
        for r in spark.read.parquet(path).collect()
    }


def test_insert_then_update_and_insert(spark, store):
    upsert_partitioned(
        spark,
        store,
        _rows(spark, [(1, "d1", "a2", 2), (5, "d1", "e", 1)]),
        key_cols=["k", "day"],
        partition_cols=["day"],
        version_col="ver",
    )
    got = _snap(spark, store)
    assert got[(1, "d1")] == ("a2", 2)  # updated
    assert got[(5, "d1")] == ("e", 1)  # inserted
    assert got[(2, "d1")] == ("b", 1)  # same-partition survivor


def test_untouched_partitions_not_rewritten(spark, store):
    import os

    d3_files = set(os.listdir(f"{store}/day=d3"))
    upsert_partitioned(
        spark,
        store,
        _rows(spark, [(3, "d2", "c9", 9)]),
        key_cols=["k", "day"],
        partition_cols=["day"],
        version_col="ver",
    )
    assert set(os.listdir(f"{store}/day=d3")) == d3_files  # files untouched
    got = _snap(spark, store)
    assert got[(3, "d2")] == ("c9", 9)
    assert got[(4, "d3")] == ("d", 1)


def test_within_batch_conflict_highest_version_wins(spark, store):
    upsert_partitioned(
        spark,
        store,
        _rows(spark, [(2, "d1", "low", 3), (2, "d1", "high", 7)]),
        key_cols=["k", "day"],
        partition_cols=["day"],
        version_col="ver",
    )
    assert _snap(spark, store)[(2, "d1")] == ("high", 7)


def test_idempotent_replay(spark, store):
    batch = _rows(spark, [(1, "d1", "a2", 2)])
    for _ in range(2):
        upsert_partitioned(
            spark, store, batch,
            key_cols=["k", "day"], partition_cols=["day"], version_col="ver",
        )
    got = _snap(spark, store)
    assert got[(1, "d1")] == ("a2", 2)
    assert len([k for k in got if k == (1, "d1")]) == 1


def test_no_version_col_is_deterministic(spark, tmp_path):
    path = str(tmp_path / "nv")
    batch = _rows(spark, [(1, "d1", "x", 1), (1, "d1", "y", 1)])
    upsert_partitioned(
        spark, path, batch, key_cols=["k", "day"], partition_cols=["day"]
    )
    first = _snap(spark, path)
    # replaying the same conflicting batch into a fresh store picks the
    # SAME winner (stable hash order, not partition luck)
    path2 = str(tmp_path / "nv2")
    upsert_partitioned(
        spark, path2, batch.repartition(5),
        key_cols=["k", "day"], partition_cols=["day"],
    )
    assert first == _snap(spark, path2)


def test_semi_join_branch_matches_listed_branch(spark, tmp_path, monkeypatch):
    """Above MAX_TOUCHED_LIST touched partitions the store is restricted
    by a broadcast semi-join instead of a listed partition filter; both
    give the same store. Both match a NULL partition value null-safely:
    the untouched row already in that partition must survive its
    overwrite."""
    from transitlog_hfp_sink_spark.sinks import merge

    seed = [(1, "d1", "a", 1), (2, "d1", "b", 1), (3, "d2", "c", 1), (8, None, "m", 1)]
    batch = [(1, "d1", "a2", 2), (5, "d1", "e", 1), (7, None, "o", 1)]

    def run(name):
        path = str(tmp_path / name)
        for rows in (seed, batch):
            upsert_partitioned(
                spark, path, _rows(spark, rows),
                key_cols=["k", "day"], partition_cols=["day"], version_col="ver",
            )
        return _snap(spark, path)

    listed = run("listed")
    monkeypatch.setattr(merge, "MAX_TOUCHED_LIST", 0)
    assert run("semi") == listed == {
        (1, "d1"): ("a2", 2),
        (2, "d1"): ("b", 1),
        (3, "d2"): ("c", 1),
        (5, "d1"): ("e", 1),
        (7, None): ("o", 1),
        (8, None): ("m", 1),
    }
