"""read_table memoizes the ANALYZED PLAN per (session, dir, table, widen)
— round-11 optimization (guide §1/§5: the driver-side listing + footer
read + widen probe cost ~0.1-0.2 s of py4j per call for a plan that is
identical every call on immutable inputs). The memo must be a plan, not
results: executions still scan parquet, hits return the same DataFrame,
and a new session must not serve plans bound to the old one."""

import os

import pyspark.sql.functions as F

from transitlog_hfp_sink_spark.sources.files import _READ_CACHE, read_table


def test_read_table_hit_returns_same_plan(spark, sf_dir):
    a = read_table(spark, sf_dir, "documents", widen=True)
    b = read_table(spark, sf_dir, "documents", widen=True)
    assert a is b  # memo hit: no second listing/footer read/widen probe
    # widen=False is a distinct key, not a hit on the widened plan
    c = read_table(spark, sf_dir, "documents", widen=False)
    assert c is not a
    app = spark.sparkContext.applicationId
    assert (app, sf_dir, "documents", True) in _READ_CACHE


def test_read_table_cached_plan_matches_direct_read(spark, sf_dir):
    cached = read_table(spark, sf_dir, "documents", widen=True)
    direct = spark.read.parquet(f"{sf_dir}/documents.parquet")
    agg = [F.count("*"), F.sum(F.crc32(F.col("text").cast("string")))]
    assert tuple(cached.agg(*agg).collect()[0]) == tuple(
        direct.agg(*agg).collect()[0]
    )


def test_read_table_cache_keys_are_session_bound(spark, sf_dir):
    df = read_table(spark, sf_dir, "events")
    app = spark.sparkContext.applicationId
    # seed a plan "from another session": the next miss must purge it
    # rather than let old-session plans accumulate forever
    _READ_CACHE.clear()
    _READ_CACHE[("stale-app", sf_dir, "events", False)] = df
    read_table(spark, sf_dir, "nation")
    assert all(k[0] == app for k in _READ_CACHE)
    assert ("stale-app", sf_dir, "events", False) not in _READ_CACHE


def test_synth_vehicles_widen_is_result_invariant(spark, sf_dir):
    """round 11: q_hfp_vehicles_transform widens the events scan (the
    full-width flatten is the one synth consumer whose per-row cost
    dwarfs the widen shuffle). Widening must never change RESULTS —
    only partitioning — so the widened and plain synth plans must agree
    row-for-row (order-insensitive hash + count)."""
    from transitlog_hfp_sink_spark.queries.hfp import synth_vehicles

    plain = synth_vehicles(spark, sf_dir, widen=False)
    wide = synth_vehicles(spark, sf_dir, widen=True)
    assert wide is not plain  # distinct cache slots, no cross-bleed

    def digest(df):
        return tuple(
            df.agg(
                F.count("*"),
                F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
            ).collect()[0]
        )

    assert digest(plain) == digest(wide)


def test_embeddings_vec_id_unique(spark, sf_dir):
    """ADVICE r11: _fixed_codebook's narrow-vs-widened collect identity
    rests on vec_id being unique (orderBy('vec_id') must be a total
    order). Pin the invariant on every test SF."""
    root = os.path.dirname(sf_dir)
    for sf in (os.path.join(root, n) for n in ("sf0.001", "sf0.01", "sf0.1")):
        emb = spark.read.parquet(sf + "/embeddings.parquet")
        assert emb.count() == emb.select("vec_id").distinct().count(), sf
