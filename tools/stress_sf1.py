"""Stress the document-family operators at ~sf1 (10x the largest driver
testdata) and append the measured growth to SCALING.md.

The sf1 input is synthesized ONCE into /tmp by unioning 10 deterministic
copies of the driver's sf0.1 documents/embeddings tables with shifted ids
(and a per-copy text suffix so near-dup sketches don't see 10 exact
clones of every doc). This is evidence for the runtime-growth argument
only — correctness inputs remain the driver-generated tables.

Usage: python tools/stress_sf1.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import materialize
from transitlog_hfp_sink_spark.session import build_session
from transitlog_hfp_sink_spark.sources.files import read_table

SRC = "/root/testdata/sf0.1"
DST = "/tmp/spark_graft_stress_sf1"
COPIES = 10


def _stride(df, key: str = "event_id") -> int:
    return df.agg(F.max(key)).first()[0] + 1


def _shifted_copies(df, key: str, n_copies: int, stride: int | None = None):
    """Union n key-shifted copies of df; stride = max(key)+1 so shifted
    keys never collide even when the key domain is sparse. Referential
    integrity is preserved by shifting the SAME key column in every table
    that carries it with the SAME stride (pass the shared-domain stride
    explicitly for orders/lineitem — a per-table max would silently
    desynchronize the copies whenever one side's top keys are childless;
    dims are copied unchanged — a 10x fact-side growth with fixed dims is
    the realistic scale-up shape)."""
    if stride is None:
        stride = df.agg(F.max(key)).first()[0] + 1
    legs = [
        df.withColumn(key, (F.col(key) + F.lit(i * stride)).cast(dict(df.dtypes)[key]))
        for i in range(n_copies)
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def build_input_relational(spark) -> None:
    """sf1 events + TPC-H fact tables: 10 key-shifted copies of the sf0.1
    facts (events 100k->1M, orders 150k->1.5M, lineitem 600k->6M), dims
    copied as-is. events keeps its timestamps, so per-hour density grows
    10x — the harder stress for windows/sessions than widening the time
    range would be. synth_hfp derives vehicles/routes from event_id, so
    shifted ids synthesize genuinely new fleet activity."""
    from transitlog_hfp_sink_spark.sources.files import TABLES

    if not os.path.exists(f"{DST}/events.parquet/_SUCCESS"):
        ev = read_table(spark, SRC, "events")
        # keep ts as raw nanos on disk? read_table converted to timestamp;
        # write micros-precision timestamps — read_table passes non-bigint
        # ts through unchanged, and every consumer goes through read_table.
        # Each copy's ts shifts by copy_idx SECONDS (round 8): the
        # HFP natural key derives (vehicle, tst, ...) from event columns,
        # and byte-identical timestamps across copies made ~9% of derived
        # keys collide with DIVERGENT payloads — violating the redelivery
        # contract (a redelivered message is byte-identical) that the M3
        # dedup view and its oracle shortcut are defined under. A seconds
        # skew is the smallest that works (tst truncates to seconds, so a
        # sub-second shift would leave the collisions in place); it keeps
        # per-hour density at the full 10x while every derived natural
        # key stays unique, so the sf1 sweep measures the engine, not a
        # synthetic-input contract violation.
        ev_stride = _stride(ev)
        copies = [
            ev.withColumn(
                "event_id", F.col("event_id") + F.lit(i * ev_stride)
            ).withColumn("ts", F.expr(f"timestampadd(SECOND, {i}, ts)"))
            for i in range(COPIES)
        ]
        out = copies[0]
        for leg in copies[1:]:
            out = out.unionByName(leg)
        out.repartition(32).write.mode("overwrite").parquet(
            f"{DST}/events.parquet"
        )
    if os.path.exists(f"{DST}/lineitem.parquet"):
        return
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    lineitem = spark.read.parquet(f"{SRC}/lineitem.parquet")
    # ONE stride over the shared orderkey domain: orders and lineitem
    # must shift in true lockstep or copies 1..n-1 lose their joins
    stride = (
        max(
            orders.agg(F.max("o_orderkey")).first()[0],
            lineitem.agg(F.max("l_orderkey")).first()[0],
        )
        + 1
    )
    _shifted_copies(orders, "o_orderkey", COPIES, stride=stride).repartition(
        32
    ).write.mode("overwrite").parquet(f"{DST}/orders.parquet")
    _shifted_copies(lineitem, "l_orderkey", COPIES, stride=stride).repartition(
        32
    ).write.mode("overwrite").parquet(f"{DST}/lineitem.parquet")
    for dim in ("region", "nation", "customer", "supplier", "part"):
        spark.read.parquet(f"{SRC}/{dim}.parquet").write.mode("overwrite").parquet(
            f"{DST}/{dim}.parquet"
        )


#: HFP / events / TPC-H headline queries stressed at sf1 (reads only;
#: write-path entries like merge_upsert/zorder and the fixed-overhead
#: streaming entries are covered by their own robustness tests).
RELATIONAL_NAMES = [
    "hfp_vehicles_transform",
    "hfp_vp_per_route",
    "hfp_trajectory_length",
    "hfp_hourly_vehicles",
    "hfp_odometer_progress",
    "hfp_geo_bbox",
    "events_hourly_rollup",
    "gapfill_rollup",
    "sessionize_events",
    "window_frames",
    "window_top3_per_type",
    "asof_error_click",
    "resample_trajectory",
    "salted_skew_agg",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q4_order_priority",
    "q13_customer_distribution",
    "top_brands_revenue",
    "rollup_cube_grouping",
    "set_ops_customers",
    "tpch_power_run",
    # round 6: the TimescaleDB-analytics consolidated entry (gapfill +
    # headways + OTP + odo + latest + histogram over the catalog views)
    "transit_analytics",
]


def build_input(spark) -> None:
    if os.path.exists(f"{DST}/documents.parquet"):
        return
    docs = read_table(spark, SRC, "documents")
    n_docs = docs.count()
    legs = [
        docs.select(
            (F.col("doc_id") + F.lit(i * n_docs)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" copyset{i}")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(COPIES)
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    out.repartition(32).write.mode("overwrite").parquet(f"{DST}/documents.parquet")
    emb = read_table(spark, SRC, "embeddings")
    n_emb = emb.count()
    elegs = [
        emb.select(
            (F.col("vec_id") + F.lit(i * n_emb)).alias("vec_id"),
            "embedding",
            "label",
        )
        for i in range(COPIES)
    ]
    eout = elegs[0]
    for leg in elegs[1:]:
        eout = eout.unionByName(leg)
    eout.repartition(32).write.mode("overwrite").parquet(f"{DST}/embeddings.parquet")


def _time_query(fn, spark, sf_dir) -> float:
    materialize(fn(spark, sf_dir))  # warmup
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        materialize(fn(spark, sf_dir))
        best = min(best, time.time() - t0)
    return best


def run_relational(spark) -> None:
    """Time the HFP/events/TPC-H headline set at sf1 AND re-measure sf0.1
    in the same harness (same machine state, warmup + min-of-2), then
    append the load-comparable 4-column table to SCALING.md — the
    published section is fully reproducible by this command."""
    build_input_relational(spark)
    from transitlog_hfp_sink_spark.queries import queries as all_queries

    qs = all_queries()
    # q4_order_priority / top_brands_revenue live inside the power-run
    # digest since round 6; resolve their standalone callables directly
    from transitlog_hfp_sink_spark.queries import power as _power

    qs.update(_power.POWER_QUERIES)
    from bench import bench_overrides

    overrides = bench_overrides()
    read_table(spark, DST, "events").count()  # warm page cache
    spark.read.parquet(f"{DST}/lineitem.parquet").count()
    rows = []
    for name in RELATIONAL_NAMES:
        fn = overrides.get(name) or qs[name]
        t1 = _time_query(fn, spark, DST)
        t0 = _time_query(fn, spark, SRC)
        rows.append((name, t0, t1))
        print(name, round(t0, 3), "->", round(t1, 3), flush=True)
    lines = [
        "",
        "## sf1 stress — HFP / events / TPC-H families",
        "",
        "Fact tables at 10x the largest driver SF (events 1M, orders 1.5M,",
        "lineitem 6M key-shifted copies; dims unchanged — fact-side growth",
        "with fixed dims, the realistic scale-up shape). events keeps its",
        "timestamps, so per-hour density grows 10x: the harder case for",
        "windows/sessions/rollups than widening the time range. The sf0.1",
        "column is re-measured in the same harness (warmup + min-of-2, same",
        "machine state) so r is load-comparable. r<1 on scan-heavy rows is",
        "structural, not noise: the driver's sf0.1 tables are SINGLE parquet",
        "files (one row group = one input split = a one-thread scan stage)",
        "while the synthesized sf1 input is 32 files and parallelizes.",
        "Regenerate: `python tools/stress_sf1.py relational`.",
        "",
        "| query | sf0.1 (s) | sf1 (s) | r (per 10x) |",
        "|---|---|---|---|",
    ]
    for name, t0, t1 in rows:
        lines.append(f"| {name} | {t0:.3f} | {t1:.3f} | {t1 / t0:.2f} |")
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended relational sf1 table to SCALING.md")


def main() -> None:
    family = sys.argv[1] if len(sys.argv) > 1 else "docs"
    # counts10/lshcounts10 read per-run shuffle-byte deltas off the UI
    extra = (
        {"spark.ui.enabled": "true"}
        if family in ("counts10", "lshcounts10", "lshincr10", "lshincr11")
        else None
    )
    spark = build_session(app_name="stress-sf1", extra_conf=extra)
    if family == "counts10":
        run_counts10(spark)
        return
    if family == "lshcounts10":
        run_lshcounts10(spark)
        return
    if family == "lshincr10":
        run_lshincr10(spark)
        return
    if family == "lshincr11":
        run_lshincr11(spark)
        return
    if family == "ivfpqserve10":
        run_ivfpqserve10(spark)
        return
    if family == "sessionize10":
        run_sessionize10(spark)
        return
    if family == "semdedup10":
        run_semdedup10(spark)
        return
    if family == "lsh10":
        run_lsh10(spark)
        return
    if family == "trajsim10":
        run_trajsim10(spark)
        return
    if family == "jaccardprune":
        run_jaccard_prune(spark)
        return
    if family == "transit10":
        run_transit10(spark)
        return
    if family == "prefix10":
        run_prefix10(spark)
        return
    if family == "bm2510":
        run_bm2510(spark)
        return
    if family in ("relational", "all"):
        run_relational(spark)
        if family == "relational":
            return
    build_input(spark)
    from transitlog_hfp_sink_spark.queries import ml

    names = [
        "dedup_exact_documents",
        "dedup_minhash_lsh",
        "text_quality",
        "text_search_bm25",
        "text_search_bm25_postings",
        "pack_token_sequences",
        "lm_score_documents",
        "embedding_topk_exact",
        "sample_documents",
        "dedup_cluster_cc",
        "hybrid_search_rrf",
        "hybrid_search_rrf_postings",
        "embedding_diversity_sample",
        "lm_score_bigram",
        "embedding_topk_pq",
        "embedding_topk_ivfpq",
        "embedding_semdedup",
        "embedding_semdedup_k64",
        "nb_classifier_score",
        "dedup_spans_exact",
        "dedup_incremental",
        "text_quality_struct",
        "bpe_encode_documents",
        "bpe_encode_arrow",
        "pack_bpe_compose",
    ]
    # same mode/shape continuity rules as bench.py (xxhash64 fast path
    # under the historical names; postings serving shape; brute-only topk)
    from bench import bench_overrides

    overrides = bench_overrides()

    def _cluster_cc(spark, sf_dir):
        # the cluster leg at sf1 (round-2 directive #8): transitive
        # closure over the near-dup pair graph; convergence metrics land
        # in the log via the stats hook
        from transitlog_hfp_sink_spark.operators.cluster import connected_components
        from transitlog_hfp_sink_spark.operators.dedup import minhash_lsh_pairs

        docs = read_table(spark, sf_dir, "documents", widen=True)
        pairs = minhash_lsh_pairs(
            docs, "text", "doc_id", num_perm=64, bands=16, shingle_n=3, threshold=0.5
        )
        stats: dict = {}
        out = connected_components(pairs, stats=stats)
        print("  cc stats:", stats, flush=True)
        return out

    overrides["dedup_cluster_cc"] = _cluster_cc

    def _semdedup_k64(spark, sf_dir):
        # SemDeDup with a TRAINED 64-entry codebook: pair cost is
        # sum(|cluster|^2)/2, so codebook size/balance is the scaling
        # knob (production sizes k with the corpus, SemDeDup's regime);
        # vs the fixed 8-entry test codebook this is ~3.4x at sf1
        from pyspark.sql import functions as F

        from transitlog_hfp_sink_spark.operators import similarity as sim

        emb = read_table(spark, sf_dir, "embeddings", widen=True)
        cents = sim.ivf_centroids(emb, n_lists=64, max_iter=8)
        pairs, keep = sim.semantic_dedup(emb, cents, threshold=0.3)
        return pairs.select(
            "id_a", F.col("id_b").alias("other"), "cos_sim"
        ).unionByName(
            keep.select(
                F.col("vec_id").alias("id_a"),
                F.col("cluster_id").cast("bigint").alias("other"),
                F.col("dist2").alias("cos_sim"),
            )
        )

    overrides["embedding_semdedup_k64"] = _semdedup_k64
    # warm page cache
    read_table(spark, DST, "documents").count()
    read_table(spark, DST, "embeddings").count()
    rows = []
    for name in names:
        fn = overrides.get(name) or ml.QUERIES[name]
        materialize(fn(spark, DST))  # warmup
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            materialize(fn(spark, DST))
            best = min(best, time.time() - t0)
        rows.append((name, best))
        print(name, round(best, 3), flush=True)
    lines = [
        "",
        "## sf1 stress (10x the largest driver SF; synthesized input, /tmp)",
        "",
        "Document-family operators at ~50k docs / 10x embeddings — the next",
        "10x step of the growth argument (r vs the sf0.1 column above; the",
        "sketch joins see 10 near-copies of every doc, so pair outputs grow",
        "by design, not pathologically). Regenerate: `python tools/stress_sf1.py`.",
        "",
        "| query | sf1 (s) |",
        "|---|---|",
    ]
    for name, t in rows:
        lines.append(f"| {name} | {t:.3f} |")
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended to SCALING.md")




def synth_varied_docs(spark, n: int, vocab: int):
    """Varied-length near-dup synthetic shared by the jaccardprune and
    prefix10 probes: lengths 4..400 words over six classes, near-dup
    groups of 5 sharing a template+length (one mutated word per member),
    8 source blocks, hash-derived vocabulary of `vocab` word stems."""
    gid = F.col("id") - (F.col("id") % 5)  # near-dup groups of 5
    lengths = F.array(*[F.lit(x) for x in (4, 8, 16, 48, 120, 400)])
    L = F.element_at(lengths, (F.pmod(F.hash(gid, F.lit(3)), F.lit(6)) + 1).cast("int"))
    mut_pos = F.pmod(F.col("id"), L) + 1
    word = F.transform(
        F.sequence(F.lit(1), L),
        lambda j: F.when(
            j == mut_pos, F.concat(F.lit("m"), F.col("id"))
        ).otherwise(
            F.concat(F.lit("w"), F.pmod(F.hash(gid, j, F.lit(99)), F.lit(vocab)))
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", word).alias("text"),
        F.concat(F.lit("s"), F.pmod(F.hash(gid, F.lit(7)), F.lit(8))).alias("source"),
    )


def run_transit10(spark) -> None:
    """VERDICT r7 #5: probe transit_analytics at sf10 (the one headline
    query that only had an sf0.1->sf1 ratio, r=3.16). Separates the
    one-time materialized-dedup cost from the per-query leg cost:

    - COLD first invocation = register_catalog(materialize_dedup=True)
      (scan + transform + dedup + localCheckpoint write) + the seven legs;
    - WARM min-of-2 = the seven legs against the materialized blocks
      (the bench measurement mode, BENCH.json timing_notes);
    - plus the partitioned-parquet alternative the docstring names as the
      real-cluster shape: write vehicles_dedup once to hour-partitioned
      parquet, re-point the view at the files, re-run the legs.

    sf10 input: 10 key-shifted copies of the sf1 events (10M rows; same
    construction as build_input_relational, one more decade); dims and
    doc tables symlinked. Regenerate: `python tools/stress_sf1.py transit10`.
    """
    from transitlog_hfp_sink_spark.queries import transit as tq

    DST10 = "/tmp/spark_graft_stress_sf10"
    build_input_relational(spark)
    if not os.path.exists(f"{DST10}/lineitem.parquet"):
        os.makedirs(DST10, exist_ok=True)
        ev = read_table(spark, DST, "events")
        _shifted_copies(ev, "event_id", COPIES).repartition(32).write.mode(
            "overwrite"
        ).parquet(f"{DST10}/events.parquet")
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"):
            dst = f"{DST10}/{t}.parquet"
            if not os.path.exists(dst):
                os.symlink(f"{DST}/{t}.parquet", dst)

    results = []
    for sf_name, d in (("sf1", DST), ("sf10", DST10)):
        read_table(spark, d, "events").count()  # warm page cache
        tq._REGISTERED.clear()  # force a genuinely cold first invocation
        t0 = time.time()
        materialize(tq.q_transit_analytics(spark, d))
        cold = time.time() - t0
        warm = float("inf")
        for _ in range(2):
            t0 = time.time()
            materialize(tq.q_transit_analytics(spark, d))
            warm = min(warm, time.time() - t0)
        # partitioned-parquet alternative: dedup written ONCE to the
        # hour-partitioned sink, view re-pointed at the files
        from transitlog_hfp_sink_spark.sinks.parquet import write_vehicles_parquet
        from transitlog_hfp_sink_spark.transform import dedup_vehicles
        from transitlog_hfp_sink_spark.queries.hfp import synth_vehicles

        pq_dir = f"{d}/__transit_dedup_pq"
        t0 = time.time()
        write_vehicles_parquet(
            dedup_vehicles(synth_vehicles(spark, d)), pq_dir, mode="overwrite"
        )
        t_write = time.time() - t0
        spark.read.parquet(pq_dir).createOrReplaceTempView("vehicles_dedup")
        from transitlog_hfp_sink_spark import catalog as cat

        cat.register_headway_views(spark)
        cat.register_otp_view(spark)
        cat.register_latest_view(spark)
        cat.register_histogram_view(spark)
        cat.register_counter_view(spark)
        cat.register_gapfill_view(spark)
        tq._REGISTERED[
            (spark.sparkContext.applicationId, d,
             spark.conf.get("spark.sql.session.timeZone"))
        ] = True  # legs run against the re-pointed views, no re-register
        pq_legs = float("inf")
        for _ in range(2):
            t0 = time.time()
            materialize(tq.q_transit_analytics(spark, d))
            pq_legs = min(pq_legs, time.time() - t0)
        tq._REGISTERED.clear()
        results.append((sf_name, cold, warm, t_write, pq_legs))
        print(f"{sf_name}: cold={cold:.1f}s warm_legs={warm:.1f}s "
              f"pq_write={t_write:.1f}s pq_legs={pq_legs:.1f}s", flush=True)
    lines = [
        "",
        "## sf10 transit_analytics probe — materialized-dedup amortization (round 8)",
        "",
        "VERDICT r7 #5. events at 1M (sf1) and 10M (sf10, one more decade",
        "of key-shifted copies); cold = register_catalog(materialize_dedup",
        "=True) scan+transform+dedup+localCheckpoint PLUS the seven legs;",
        "warm = min-of-2 of the legs against the materialized blocks (the",
        "bench measurement mode); pq = the docstring's real-cluster shape —",
        "dedup written once to the hour-partitioned parquet sink, views",
        "re-pointed at the files, legs re-run. Regenerate:",
        "`python tools/stress_sf1.py transit10`.",
        "",
        "| input | cold first (s) | warm legs (s) | pq write (s) | legs on pq (s) |",
        "|---|---|---|---|---|",
    ]
    for sf_name, cold, warm, t_write, pq_legs in results:
        lines.append(
            f"| {sf_name} | {cold:.1f} | {warm:.1f} | {t_write:.1f} | {pq_legs:.1f} |"
        )
    (s1, s10) = results
    lines += [
        "",
        f"r per 10x: cold {s10[1] / s1[1]:.2f}, warm legs {s10[2] / s1[2]:.2f},",
        f"pq write {s10[3] / s1[3]:.2f}, legs-on-pq {s10[4] / s1[4]:.2f}.",
    ]
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended transit10 probe to SCALING.md")


def run_jaccard_prune(spark) -> None:
    """VERDICT r7 #1: measure the exact-Jaccard referee's new
    exactness-preserving prunes (length filter, PPJoin-style prefix
    filtering) at sf1 on BOTH regimes:

    - the near-dup-dense sf1 docs corpus (the r=31 boundary row's input:
      10 near-copies of every doc, shared vocabulary, similar lengths) —
      where the round-7 boundary paragraph predicted prunes won't bite;
    - a varied-length synthetic (30k docs, lengths 4..400 words over six
      classes, near-dup groups of 5 sharing a template+length, 8 source
      blocks) — where they should. NOTE the deliberate shape: blocking on
      a LOW-cardinality key concentrates each block's quadratic verify in
      ~one task (join key = block), which is exactly the pathology the
      prefix prune fixes — its candidate join keys on rare TOKENS, a
      high-cardinality domain that spreads across the cluster.

    Output-set equality across the three modes is asserted inside the
    probe (count equality here; full set equality is pinned by
    tests/test_dedup.py and the hypothesis property referee). One timed
    run per mode after input materialization (the lsh10 protocol).
    Regenerate: `python tools/stress_sf1.py jaccardprune`.
    """
    from transitlog_hfp_sink_spark.operators.dedup import ngram_jaccard_pairs

    build_input(spark)

    dense = read_table(spark, DST, "documents", widen=True)
    varied = synth_varied_docs(spark, 30_000, vocab=50_000).repartition(32).persist()
    varied.count()
    read_table(spark, DST, "documents").count()  # warm page cache

    results = []
    for corpus_name, docs in (("near-dup-dense sf1", dense), ("varied-length 30k", varied)):
        counts = set()
        for mode in (None, "length", "prefix"):
            t0 = time.time()
            n_pairs = ngram_jaccard_pairs(
                docs, "text", "doc_id", block_cols=["source"], shingle_n=1,
                threshold=0.5, prune=mode,
            ).count()
            dt = time.time() - t0
            counts.add(n_pairs)
            results.append((corpus_name, mode or "none", dt, n_pairs))
            print(f"{corpus_name} prune={mode}: t={dt:.1f}s pairs={n_pairs}",
                  flush=True)
        assert len(counts) == 1, f"prune changed the output: {counts}"
    varied.unpersist()
    lines = [
        "",
        "## sf1 exact-Jaccard prune probe — length / prefix filtering (round 8)",
        "",
        "VERDICT r7 #1. The exact referee gained two exactness-preserving",
        "candidate prunes (operators/dedup.py: the |A|/|B| length-ratio",
        "filter fused into the block join, and PPJoin-style prefix",
        "filtering on globally-rarest tokens). Measured on both regimes,",
        "same config as the boundary row (block=source, 1-gram, t=0.5);",
        "one timed run per mode after input materialization, pair-count",
        "equality asserted across modes in-probe (full set equality is",
        "pinned by tests). Regenerate: `python tools/stress_sf1.py jaccardprune`.",
        "",
        "| corpus | prune | time (s) | pairs |",
        "|---|---|---|---|",
    ]
    for corpus_name, mode, dt, n_pairs in results:
        lines.append(f"| {corpus_name} | {mode} | {dt:.1f} | {n_pairs:,} |")
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended jaccardprune probe to SCALING.md")


def run_prefix10(spark) -> None:
    """Round 8 follow-on to the jaccardprune probe: is the EXACT referee
    still inherently super-linear once prefix pruning applies? The
    boundary claim (r=31 per 10x) was measured where output ~ candidates
    (near-dup-dense). On a sparse-output corpus the prefix path's stages
    are all ~linear in docs (token-count agg, token join, per-doc sort,
    rare-token candidate join with linearly-growing true-pair structure),
    so the 10x step should cost ~10x, not ~100x. Same varied-length
    synthetic as the jaccardprune probe at n=30k and n=300k, prune=
    'prefix' (the unpruned 300k leg would be ~5.6G verifies — the
    boundary, not measured).

    Vocabulary SCALES with n (Heaps-law regime — real corpora grow their
    vocabulary with size). The first attempt kept the 50k vocab FIXED at
    300k docs and the candidate join spilled >78 GB of shuffle and died:
    with 10x the docs over the same tokens, every token sits in 10x the
    docs and same-token candidate pairs grow 100x — token DENSITY, not
    operator machinery, the same phenomenon that makes the near-dup-dense
    corpus prune-proof. That fixed-vocab point is recorded as a boundary
    row in SCALING.md, not a measurement.
    Regenerate: `python tools/stress_sf1.py prefix10`.
    """
    from transitlog_hfp_sink_spark.operators.dedup import ngram_jaccard_pairs

    results = []
    for n in (30_000, 300_000):
        docs = synth_varied_docs(spark, n, vocab=50_000 * (n // 30_000)).repartition(32).persist()
        docs.count()
        t0 = time.time()
        n_pairs = ngram_jaccard_pairs(
            docs, "text", "doc_id", block_cols=["source"], shingle_n=1,
            threshold=0.5, prune="prefix",
        ).count()
        dt = time.time() - t0
        docs.unpersist()
        results.append((n, dt, n_pairs))
        print(f"n={n} prefix: t={dt:.1f}s pairs={n_pairs}", flush=True)
    lines = [
        "",
        "## prefix-pruned exact-Jaccard 10x probe (round 8)",
        "",
        "Follow-on to the prune probe above: the r=31 boundary was measured",
        "where output ~ candidates. With prefix pruning on the sparse-output",
        "varied-length corpus (same synthetic, true pairs linear in n by",
        "construction), the exact referee's 10x step should track the",
        "~linear stage costs. One timed run per point after input",
        "materialization. Regenerate: `python tools/stress_sf1.py prefix10`.",
        "",
        "| n docs | time (s) | pairs | r (per 10x) |",
        "|---|---|---|---|",
    ]
    base = None
    for n, dt, n_pairs in results:
        r = f"{dt / base:.2f}" if base else "—"
        if base is None:
            base = dt
        lines.append(f"| {n:,} | {dt:.1f} | {n_pairs:,} | {r} |")
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended prefix10 probe to SCALING.md")


def _shuffle_write_bytes(spark) -> int:
    """Total shuffle WRITE bytes across all completed stages so far, via
    the UI REST API (the probe session runs with spark.ui.enabled=true).
    Deltas around a run attribute its shuffle volume."""
    import json as _json
    import urllib.request

    port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://localhost:{port}/api/v1"
    with urllib.request.urlopen(f"{base}/applications") as r:
        app_id = _json.load(r)[0]["id"]
    with urllib.request.urlopen(f"{base}/applications/{app_id}/stages") as r:
        stages = _json.load(r)
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def run_counts10(spark) -> None:
    """Round 9 (VERDICT r8 #3): re-measure the prefix10 300k point with
    the new verify='counts' co-occurrence verify against the round-8
    verify='arrays' baseline, recording wall time AND shuffle-write
    bytes. The round-8 reading attributed the 300k point's 917 s almost
    entirely to the verify join shipping two full shingle ARRAYS per
    surviving candidate (~65 GB of single-box shuffle); the counts
    verify ships (id_a, id_b, token) rows instead, so the shuffle should
    collapse toward the candidate-id volume.
    Regenerate: `python tools/stress_sf1.py counts10` (UI-enabled
    session; one timed run per mode after input materialization).
    """
    from transitlog_hfp_sink_spark.operators.dedup import ngram_jaccard_pairs

    n, vocab = 300_000, 500_000
    docs = synth_varied_docs(spark, n, vocab=vocab).repartition(32).persist()
    docs.count()
    results = []
    modes = tuple(sys.argv[2:]) or ("arrays", "counts")
    for mode in modes:
        sw0 = _shuffle_write_bytes(spark)
        t0 = time.time()
        n_pairs = ngram_jaccard_pairs(
            docs, "text", "doc_id", block_cols=["source"], shingle_n=1,
            threshold=0.5, prune="prefix", verify=mode,
        ).count()
        dt = time.time() - t0
        gb = (_shuffle_write_bytes(spark) - sw0) / 1e9
        results.append((mode, dt, n_pairs, gb))
        print(f"n={n} verify={mode}: t={dt:.1f}s pairs={n_pairs} "
              f"shuffle_write={gb:.1f}GB", flush=True)
    docs.unpersist()
    lines = [
        "",
        "## counts-verify rerun of the prefix10 300k point (round 9)",
        "",
        "VERDICT r8 #3: the prefix-pruned exact referee's 300k point was",
        "an I/O wall — the array verify shipped two full shingle arrays",
        "per candidate (~65 GB measured via df in round 8). The new",
        "verify='counts' derives jaccard from the token join itself",
        "(inter/(sza+szb-inter); output-identical, pinned by the prune/",
        "verify equivalence property test). Same synthetic, same host",
        "class, shuffle WRITE bytes from the UI REST API.",
        "Regenerate: `python tools/stress_sf1.py counts10`.",
        "",
        "| verify | time (s) | pairs | shuffle write (GB) |",
        "|---|---|---|---|",
    ]
    for mode, dt, n_pairs, gb in results:
        lines.append(f"| {mode} | {dt:.1f} | {n_pairs:,} | {gb:.1f} |")
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended counts10 probe to SCALING.md")


def run_sessionize10(spark) -> None:
    """Round 9 (VERDICT r8 #7): scale-probe streaming_sessionize_state —
    the one top-5 bench query without its own 10x measurement. Runs the
    bounded applyInPandasWithState sessionization at sf0.1 (driver
    testdata) and sf1 (the 10x synthesized events), timing the full
    bounded stream and measuring the checkpoint STATE STORE on disk
    (per-user session state + RocksDB-format-agnostic HDFS store files),
    which is the thing that grows with keys, not rows.
    Regenerate: `python tools/stress_sf1.py sessionize10` (needs the sf1
    synthesis; runs build_input first if missing)."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.queries.timeseries import (
        _await_bounded,
        _events_stream_reader,
        _pinned_stream_confs,
    )
    from transitlog_hfp_sink_spark.streaming.stateful import streaming_sessionize

    build_input(spark)

    def _du(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
        return total

    def _one_run(label: str, sf_dir: str):
        name = f"sess10_{uuid.uuid4().hex[:8]}"
        ckpt = tempfile.mkdtemp(prefix=f"sess10-ckpt-{label}-")
        t0 = time.time()
        with _pinned_stream_confs(spark):
            raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
            rs, path = _events_stream_reader(spark, sf_dir, raw_schema)
            stream = rs.parquet(path)
            if dict(stream.dtypes).get("ts") == "bigint":
                stream = stream.withColumn(
                    "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
                )
            sessions = streaming_sessionize(
                stream, gap_seconds=1800, flush_final=True
            )
            q = (
                sessions.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await_bounded(spark, q, name)
        n_sessions = spark.table(name).count()
        n_users = spark.table(name).select("user_id").distinct().count()
        dt = time.time() - t0
        # state files land at batch commit but the store's maintenance
        # thread finishes snapshots/checksums asynchronously — settle
        # briefly so the walk sees the final layout (first probe run
        # measured 0 bytes mid-maintenance; 155 KB on a later walk)
        time.sleep(3)
        state_kb = _du(os.path.join(ckpt, "state")) / 1e3
        spark.catalog.dropTempView(name)
        return dt, n_sessions, n_users, state_kb

    _one_run("warmup", SRC)  # python-worker/Arrow startup excluded
    results = []
    for label, sf_dir in (("sf0.1", SRC), ("sf1", DST)):
        best = None
        for _ in range(2):  # min-of-2: stream setup noise at these sizes
            dt, n_sessions, n_users, state_kb = _one_run(label, sf_dir)
            if best is None or dt < best[0]:
                best = (dt, n_sessions, n_users, state_kb)
        results.append((label, *best))
        print(f"{label}: t={best[0]:.1f}s sessions={best[1]:,} "
              f"users={best[2]:,} state={best[3]:.1f}KB", flush=True)
    lines = [
        "",
        "## streaming sessionize-state 10x probe (round 9)",
        "",
        "VERDICT r8 #7: streaming_sessionize_state (bounded availableNow",
        "applyInPandasWithState gap-sessionization) probed sf0.1 -> sf1.",
        "The sf1 events table holds 10x the rows in the SAME hour span at",
        "the same user cardinality (1,500 synthetic users), so live",
        "per-user session state — what the state store provisions for —",
        "is bounded by keys, not rows; session COUNT also stays ~flat (10x",
        "denser events inside the same gap structure). The scaling story",
        "is therefore in the time column (more rows ground through the",
        "same bounded state) and the state column (flat = state tracks",
        "keys). min-of-2 after a warmup run (python-worker/Arrow startup",
        "dominated the first measurement otherwise).",
        "Regenerate: `python tools/stress_sf1.py sessionize10`.",
        "",
        "| scale | time (s) | sessions | users | state on disk (KB) | r |",
        "|---|---|---|---|---|---|",
    ]
    base = None
    for label, dt, n_sessions, n_users, state_kb in results:
        r = f"{dt / base:.2f}" if base else "—"
        if base is None:
            base = dt
        lines.append(
            f"| {label} | {dt:.1f} | {n_sessions:,} | {n_users:,} "
            f"| {state_kb:.1f} | {r} |"
        )
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended sessionize10 probe to SCALING.md")


def synth_lsh_docs(spark, n: int, skew: bool, words: int = 25):
    """The lsh10/lshcounts10 probe corpus: 25 vocab-hashed words per doc;
    consecutive groups of 10 share a template with one mutated word per
    member (within-group 1-gram Jaccard ~0.85 >= 0.7 — true pairs grow
    LINEARLY with n); with skew, 0.5% of docs (every 200th) are
    near-copies of ONE hot template (a celebrity duplicate cluster whose
    pair output is quadratic in its own size by emission semantics)."""
    gid = F.col("id") - (F.col("id") % 10)  # group template key
    hot = (F.col("id") % 200 == 0) & F.lit(skew)
    tpl = F.when(hot, F.lit(-1)).otherwise(gid)  # hot docs share one template
    # one mutated word per member keeps pairs NEAR-dup, not exact
    mut_pos = F.col("id") % words
    word = lambda j: F.when(  # noqa: E731
        F.lit(j) == mut_pos, F.concat(F.lit("m"), F.col("id"))
    ).otherwise(
        F.concat(F.lit("w"), F.pmod(F.hash(tpl, F.lit(j), F.lit(99)), F.lit(50000)))
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word(j) for j in range(words)]).alias("text"),
    )


def run_lshcounts10(spark) -> None:
    """Round 10 (VERDICT r9 #4): rerun the lsh10 probe's 500k points with
    the new verify='counts' co-occurrence verify against the shipped
    verify='arrays' baseline, recording wall time AND shuffle-write
    bytes (UI REST API, same protocol as counts10). The array verify
    ships two shingle arrays per surviving candidate through the
    SHUFFLE-HASH verify join; counts restricts the token table to
    candidate ids and self-joins it, so the corpus-sized shuffle is the
    ~16-byte token rows, not pairs x arrays. Pair-set equality across
    modes is asserted in-probe (full equality pinned by
    tests/test_dedup.py::test_lsh_counts_verify_output_identical).
    Regenerate: `python tools/stress_sf1.py lshcounts10`.
    """
    from transitlog_hfp_sink_spark.operators.dedup import minhash_lsh_pairs

    n = 500_000
    results = []
    # words=25 is the original lsh10 corpus (short docs — array payload
    # small by construction); words=200 is the regime the directive
    # targets, where each verified pair drags 2x200 array elements
    for words, skew in ((25, False), (25, True), (200, False)):
        docs = synth_lsh_docs(spark, n, skew, words=words).repartition(32).persist()
        docs.count()
        counts_seen = set()
        for mode in ("arrays", "counts"):
            sw0 = _shuffle_write_bytes(spark)
            t0 = time.time()
            n_pairs = minhash_lsh_pairs(
                docs, "text", "doc_id", num_perm=64, bands=16, shingle_n=1,
                threshold=0.7, verify=mode,
            ).count()
            dt = time.time() - t0
            gb = (_shuffle_write_bytes(spark) - sw0) / 1e9
            counts_seen.add(n_pairs)
            results.append((words, skew, mode, dt, n_pairs, gb))
            print(f"n={n} words={words} skew={skew} verify={mode}: t={dt:.1f}s "
                  f"pairs={n_pairs} shuffle_write={gb:.1f}GB", flush=True)
        assert len(counts_seen) == 1, f"verify changed the output: {counts_seen}"
        docs.unpersist()
    lines = [
        "",
        "## LSH counts-verify rerun of the lsh10 500k points (round 10)",
        "",
        "VERDICT r9 #4: minhash_lsh_pairs gained verify='counts' — the LSH",
        "candidates join the candidate-id-restricted exploded token table",
        "and jaccard derives from the map-side-combined co-occurrence count",
        "(operators/dedup.py:_verify_jaccard_pairs_counts), output-identical",
        "to the array verify (pinned in tests). Same synthetic and protocol",
        "as the round-7 lsh10 probe at its 500k points, plus a 200-word-doc",
        "leg (the regime the directive targets: the array verify's payload",
        "scales with doc length, the counts verify's narrow token rows",
        "with the intersection); shuffle WRITE bytes from the UI REST API;",
        "pair-count equality asserted in-probe.",
        "Regenerate: `python tools/stress_sf1.py lshcounts10`.",
        "",
        "| n docs | words/doc | hot template | verify | time (s) | pairs | shuffle write (GB) |",
        "|---|---|---|---|---|---|---|",
    ]
    for words, skew, mode, dt, n_pairs, gb in results:
        lines.append(
            f"| {n:,} | {words} | {'yes' if skew else 'no'} | {mode} | {dt:.1f} "
            f"| {n_pairs:,} | {gb:.1f} |"
        )
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended lshcounts10 probe to SCALING.md")


def run_lshincr10(spark) -> None:
    """Round 10 (VERDICT r9 #4, second leg): the INCREMENTAL verify —
    where the counts shape actually lives. A 500k-doc persisted minhash
    index (bands + shingles parquet) takes a 5k-doc ingest batch through
    incremental_minhash_pairs under both verify modes. The array verify
    joins the candidates against the FULL stored shingle table (both
    SHUFFLE-HASH legs ship the historical index's arrays end to end);
    the counts verify semi-restricts both token legs to the candidate
    ids, so only the docs the batch actually collided with ship at all —
    per-batch verify cost tracks the batch's collision set, not the
    index. Pair-set equality across modes asserted in-probe.
    Regenerate: `python tools/stress_sf1.py lshincr10`.
    """
    import tempfile

    from transitlog_hfp_sink_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_pairs,
    )

    n, nb = 500_000, 5_000
    docs = synth_lsh_docs(spark, n + nb, False).repartition(32).persist()
    docs.count()
    old = docs.where(F.col("doc_id") < n)
    new = docs.where(F.col("doc_id") >= n).persist()
    new.count()
    bands_df, sh_df = build_minhash_index(
        old, "text", "doc_id", num_perm=64, bands=16, shingle_n=1
    )
    d = tempfile.mkdtemp(prefix="lshincr10-")
    bands_df.write.parquet(f"{d}/bands")
    sh_df.write.parquet(f"{d}/shingles")
    stored_bands = spark.read.parquet(f"{d}/bands")
    stored_sh = spark.read.parquet(f"{d}/shingles")
    results = []
    counts_seen = set()
    for mode in ("arrays", "counts"):
        sw0 = _shuffle_write_bytes(spark)
        t0 = time.time()
        n_pairs = incremental_minhash_pairs(
            new, stored_bands, stored_sh, "text", "doc_id",
            num_perm=64, bands=16, shingle_n=1, threshold=0.7, verify=mode,
        ).count()
        dt = time.time() - t0
        gb = (_shuffle_write_bytes(spark) - sw0) / 1e9
        counts_seen.add(n_pairs)
        results.append((mode, dt, n_pairs, gb))
        print(f"index={n} batch={nb} verify={mode}: t={dt:.1f}s "
              f"pairs={n_pairs} shuffle_write={gb:.2f}GB", flush=True)
    assert len(counts_seen) == 1, f"verify changed the output: {counts_seen}"
    docs.unpersist()
    new.unpersist()
    lines = [
        "",
        "## LSH incremental-verify probe — counts vs arrays on a persisted index (round 10)",
        "",
        "VERDICT r9 #4, the leg where the counts verify pays: a 500k-doc",
        "persisted minhash index (bands + shingles parquet, the",
        "build_minhash_index serving shape) verifying a 5k-doc ingest",
        "batch. The array verify's SHUFFLE-HASH legs ship the ENTIRE",
        "stored shingle table (both sides key on id); the counts verify's",
        "token legs are semi-restricted to the candidate ids, so per-batch",
        "cost tracks the batch's collision set, not index size — the shape",
        "a daily 100 TB ingest actually needs. Same corpus family as",
        "lsh10 (words=25); shuffle WRITE bytes from the UI REST API.",
        "Regenerate: `python tools/stress_sf1.py lshincr10`.",
        "",
        "| index docs | batch docs | verify | time (s) | pairs | shuffle write (GB) |",
        "|---|---|---|---|---|---|",
    ]
    for mode, dt, n_pairs, gb in results:
        lines.append(
            f"| {n:,} | {nb:,} | {mode} | {dt:.1f} | {n_pairs:,} | {gb:.2f} |"
        )
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended lshincr10 probe to SCALING.md")


def run_lshincr11(spark) -> None:
    """Round 11 (VERDICT r10 #2): calibrate the incremental-verify
    crossover the round-10 probes bracketed from both ends. Fixed 5k
    ingest batch, persisted index swept over {20k, 50k, 100k, 500k}
    docs (index/batch ratios 4..100), both verify modes timed
    same-session on the lshincr10 corpus family — the crossover index
    size where the counts verify overtakes arrays sets
    AUTO_INCR_VERIFY_RATIO. An 'auto' leg at each endpoint confirms the
    shipped default picks arrays at the small-index point and counts at
    the large one (the directive's done-condition), with its decision
    (and the two count jobs the hints would skip) timed in-leg.
    Regenerate: `python tools/stress_sf1.py lshincr11`.
    """
    import tempfile

    from transitlog_hfp_sink_spark.operators.dedup import (
        _auto_incremental_verify,
        build_minhash_index,
        incremental_minhash_pairs,
    )

    nb = 5_000
    sizes = (20_000, 50_000, 100_000, 500_000)
    docs = synth_lsh_docs(spark, max(sizes) + nb, False).repartition(32).persist()
    docs.count()
    new = docs.where(F.col("doc_id") >= max(sizes)).persist()
    new.count()
    results = []
    auto_rows = []
    for n in sizes:
        old = docs.where(F.col("doc_id") < n)
        bands_df, sh_df = build_minhash_index(
            old, "text", "doc_id", num_perm=64, bands=16, shingle_n=1
        )
        d = tempfile.mkdtemp(prefix=f"lshincr11-{n}-")
        bands_df.write.parquet(f"{d}/bands")
        sh_df.write.parquet(f"{d}/shingles")
        stored_bands = spark.read.parquet(f"{d}/bands")
        stored_sh = spark.read.parquet(f"{d}/shingles")
        counts_seen = set()
        modes = ["arrays", "counts"]
        if n in (min(sizes), max(sizes)):
            modes.append("auto")
        for mode in modes:
            sw0 = _shuffle_write_bytes(spark)
            t0 = time.time()
            n_pairs = incremental_minhash_pairs(
                new, stored_bands, stored_sh, "text", "doc_id",
                num_perm=64, bands=16, shingle_n=1, threshold=0.7,
                verify=mode,
            ).count()
            dt = time.time() - t0
            gb = (_shuffle_write_bytes(spark) - sw0) / 1e9
            counts_seen.add(n_pairs)
            picked = (
                _auto_incremental_verify(0.7, n, nb) if mode == "auto" else mode
            )
            results.append((n, mode, picked, dt, n_pairs, gb))
            if mode == "auto":
                auto_rows.append((n, picked))
            print(f"index={n} batch={nb} verify={mode} (-> {picked}): "
                  f"t={dt:.1f}s pairs={n_pairs} shuffle_write={gb:.2f}GB",
                  flush=True)
        assert len(counts_seen) == 1, f"verify changed the output: {counts_seen}"
    # the directive's done-condition, asserted in-probe
    assert dict(auto_rows)[min(sizes)] == "arrays", auto_rows
    assert dict(auto_rows)[max(sizes)] == "counts", auto_rows
    docs.unpersist()
    new.unpersist()
    lines = [
        "",
        "## LSH incremental-verify crossover sweep — calibrating verify='auto' (round 11)",
        "",
        "VERDICT r10 #2: incremental_minhash_pairs defaults to",
        "verify='auto' — counts iff stored-index rows >=",
        "AUTO_INCR_VERIFY_RATIO x batch rows (operators/dedup.py:",
        "_auto_incremental_verify). This sweep calibrates the ratio:",
        "fixed 5k batch, index size swept 20k..500k (ratios 4..100),",
        "both modes timed same-session on the lshincr10 corpus; 'auto'",
        "legs at the endpoints show the shipped decision (their wall",
        "time INCLUDES the two count jobs the index_rows/batch_rows",
        "hints would skip). Pair-set equality across modes asserted",
        "in-probe. Regenerate: `python tools/stress_sf1.py lshincr11`.",
        "",
        "| index docs | ratio | verify | time (s) | pairs | shuffle write (GB) |",
        "|---|---|---|---|---|---|",
    ]
    for n, mode, picked, dt, n_pairs, gb in results:
        label = mode if mode != "auto" else f"auto -> {picked}"
        lines.append(
            f"| {n:,} | {n // nb} | {label} | {dt:.1f} | {n_pairs:,} | {gb:.2f} |"
        )
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended lshincr11 sweep to SCALING.md")


def run_ivfpqserve10(spark) -> None:
    """Round 10 (beyond the brief — completes the serving-probe family):
    does IVF-PQ serving cost track PROBED lists (ivfpq_serve's
    manifest-direct paths) or TOTAL list count (root read + discovery +
    IN-filter prune, what ivfpq_topk over spark.read.parquet(root)
    pays)? bm2510 measured this for postings; this is the composed
    index at production list counts, WITHOUT paying a k-means/encode
    build: serving reads only (vec_id, list_id, codes) + the meta
    quantizers, so the layout is synthesized directly — list_id =
    id % n_lists, hash-expression int8 codes, seeded-RNG quantizers in
    the meta. TIMING-ONLY (the ADC math runs on synthetic codes);
    serve == topk value equality is pinned in tests on real indexes.
    1M vectors, 16-query batch, nprobe=4, min-of-3 after a warmup.
    Regenerate: `python tools/stress_sf1.py ivfpqserve10`.
    """
    import random
    import tempfile

    from transitlog_hfp_sink_spark.fs import fs_write_json
    from transitlog_hfp_sink_spark.operators.serving import list_partition_keys
    from transitlog_hfp_sink_spark.operators.similarity import (
        ivfpq_serve,
        ivfpq_topk,
    )

    n, m, kk, dim, nprobe = 1_000_000, 8, 16, 64, 4
    rng = random.Random(7)
    qrows = [(q, [rng.uniform(-1, 1) for _ in range(dim)]) for q in range(16)]
    qdf = spark.createDataFrame(qrows, "query_id int, embedding array<double>")
    results = []
    for n_lists in (256, 2560):
        cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_lists)]
        books = [
            [[rng.uniform(-1, 1) for _ in range(dim // m)] for _ in range(kk)]
            for _ in range(m)
        ]
        d = tempfile.mkdtemp(prefix=f"ivfpqserve10-{n_lists}-")
        codes = F.array(*[
            F.pmod(F.xxhash64("id", F.lit(j)), F.lit(kk)).cast("tinyint")
            for j in range(m)
        ])
        (
            spark.range(n)
            .select(
                F.col("id").alias("vec_id"),
                F.pmod(F.col("id"), F.lit(n_lists)).cast("int").alias("list_id"),
                codes.alias("codes"),
            )
            .repartition("list_id")
            .write.partitionBy("list_id")
            .parquet(f"{d}/ivfpq_codes")
        )
        fs_write_json(
            spark, f"{d}/ivfpq_meta.json",
            {"n_lists": n_lists, "m": m, "k": kk, "vec_col": "embedding",
             "id_col": "vec_id", "id_type": "bigint", "centroids": cents,
             "codebooks": books,
             "lists": list_partition_keys(spark, f"{d}/ivfpq_codes", "list_id")},
        )
        for mode in ("served", "root"):
            def _run():
                if mode == "served":
                    df = ivfpq_serve(spark, d, qdf, k=5, nprobe=nprobe)
                else:
                    df = ivfpq_topk(
                        spark.read.parquet(f"{d}/ivfpq_codes"), qdf,
                        cents, books, k=5, nprobe=nprobe,
                    )
                return df.count()

            _run()  # warmup (JIT/codegen; file listings are NOT cached
            # across runs — each spark.read.parquet builds a fresh index)
            best = float("inf")
            for _ in range(3):
                t0 = time.time()
                n_rows = _run()
                best = min(best, time.time() - t0)
            results.append((n_lists, mode, best, n_rows))
            print(f"n_lists={n_lists} mode={mode}: t={best:.2f}s rows={n_rows}",
                  flush=True)
    lines = [
        "",
        "## IVF-PQ serving probe — manifest paths vs root discovery at production list counts (round 10)",
        "",
        "1M synthetic vectors in the write_ivfpq_index LAYOUT (codes +",
        "meta synthesized directly — serving never looks at how codes",
        "were trained, so the probe skips the k-means/encode build),",
        "16-query batch, nprobe=4, min-of-3 after a warmup. 'served' =",
        "ivfpq_serve (manifest-pruned directory-direct reads); 'root' =",
        "ivfpq_topk over spark.read.parquet(layout root) — pays full",
        "partition DISCOVERY, then its probed-lists IN filter prunes the",
        "scan. Regenerate: `python tools/stress_sf1.py ivfpqserve10`.",
        "",
        "| n_lists | mode | time (s) | result rows |",
        "|---|---|---|---|",
    ]
    for n_lists, mode, best, n_rows in results:
        lines.append(f"| {n_lists} | {mode} | {best:.2f} | {n_rows} |")
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended ivfpqserve10 probe to SCALING.md")


def run_lsh10(spark) -> None:
    """VERDICT r6 #5: measure banded-LSH minhash pair cost in the regime
    the sf1 table can't reach — 10x steps with PLANTED near-dup density
    and a skewed hot template — separating machinery growth from output
    growth (the semdedup-probe format).

    Corpus: n synthetic docs of 25 vocab-hashed words; every consecutive
    group of 10 docs shares a template with one mutated word per member
    (within-group 1-gram Jaccard ~0.85 >= 0.7), so TRUE pairs grow
    LINEARLY with n (n/10 groups x 45 pairs). Skew leg: 0.5% of docs
    (every 200th) are near-copies of ONE hot template — a celebrity
    duplicate cluster whose emitted pairs grow QUADRATICALLY (h^2/2) by
    output semantics, not operator choice: a pair emitter must emit
    every within-cluster pair. The verdict is in time-per-emitted-pair:
    machinery is linear if cost tracks n + output.

    Regenerate: `python tools/stress_sf1.py lsh10`.
    """
    from transitlog_hfp_sink_spark.operators.dedup import minhash_lsh_pairs

    results = []
    for n in (50_000, 500_000):
        for skew in (False, True):
            docs = synth_lsh_docs(spark, n, skew).repartition(32).persist()
            docs.count()  # materialize outside the timed window
            t0 = time.time()
            n_pairs = minhash_lsh_pairs(
                docs, "text", "doc_id", num_perm=64, bands=16, shingle_n=1,
                threshold=0.7,
            ).count()
            dt = time.time() - t0
            docs.unpersist()
            results.append((n, skew, dt, n_pairs))
            print(f"n={n} skew={skew} t={dt:.1f}s pairs={n_pairs}", flush=True)
    lines = [
        "",
        "## sf10 banded-LSH minhash probe — planted density + hot-template skew (round 7)",
        "",
        "VERDICT r6 #5. Synthetic 25-word docs; consecutive groups of 10",
        "share a template with one mutated word per member (within-group",
        "Jaccard ~0.85), so true pairs grow linearly with n; the skew legs",
        "additionally point 0.5% of docs (every 200th) at ONE hot template,",
        "a celebrity duplicate cluster whose pair output is quadratic in",
        "its own size by pair-emission semantics. num_perm=64, bands=16,",
        "1-gram shingles, threshold 0.7, xxhash64 path; one timed run after",
        "input materialization. Regenerate: `python tools/stress_sf1.py lsh10`.",
        "",
        "| n docs | hot template | time (s) | pairs emitted | r (per 10x) | us/pair |",
        "|---|---|---|---|---|---|",
    ]
    base: dict = {}
    for n, skew, dt, n_pairs in results:
        b = base.get(skew)
        r = f"{dt / b:.2f}" if b else "—"
        if not b:
            base[skew] = dt
        lines.append(
            f"| {n:,} | {'yes' if skew else 'no'} | {dt:.1f} | {n_pairs:,} "
            f"| {r} | {dt / max(n_pairs, 1) * 1e6:.1f} |"
        )
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended lsh10 probe to SCALING.md")


def run_trajsim10(spark) -> None:
    """VERDICT r6 #5: measure the trajectory-similarity pipeline
    (signature build -> broadcast coarse top-k -> banded-DTW refine) at
    10x fleet steps, recording the SURVIVOR count the banding admits to
    the expensive DTW stage. The prune-and-refine claim is that refine
    cost is |queries| x k_coarse — INDEPENDENT of fleet size — so total
    growth should track the linear signature/scan stages only.

    Regenerate: `python tools/stress_sf1.py trajsim10`.
    """
    from transitlog_hfp_sink_spark.operators.trajsim import (
        dtw_refine,
        trajectory_points,
        trajectory_signatures,
        trajectory_topk,
    )

    pts_per = 64
    n_queries, k_coarse = 32, 8

    def synth_points(n_traj: int):
        # deterministic per-vehicle random walk: ordered by seq, smooth
        # enough that nearest signatures are non-trivial
        return spark.range(n_traj * pts_per).select(
            F.concat(F.lit("v"), (F.col("id") / pts_per).cast("long")).alias(
                "unique_vehicle_id"
            ),
            (F.col("id") % pts_per).cast("int").alias("seq"),
            (
                F.hash((F.col("id") / pts_per).cast("long"), F.lit(1)).cast("double")
                / 2147483648.0
                + (F.col("id") % pts_per).cast("double") / pts_per
            ).alias("lat"),
            (
                F.hash((F.col("id") / pts_per).cast("long"), F.lit(2)).cast("double")
                / 2147483648.0
            ).alias("long"),
        )
    results = []
    for n_traj in (50_000, 500_000):
        pts = synth_points(n_traj).repartition(32).persist()
        pts.count()  # materialize outside the timed window
        t0 = time.time()
        sigs = trajectory_signatures(
            pts, order_cols=("seq",), m=8
        ).localCheckpoint(eager=True)
        queries = (
            sigs.where(F.col("id").isin([f"v{i}" for i in range(n_queries)]))
            .select(F.col("id").alias("query_id"), "sig")
        )
        coarse = trajectory_topk(sigs, queries, k=k_coarse)
        traj_pts = trajectory_points(
            pts, order_cols=("seq",), max_points=pts_per
        )
        refined = dtw_refine(
            coarse.select("query_id", "neighbor_id"), traj_pts, band=8, k=3
        )
        n_out = refined.count()
        survivors = n_queries * k_coarse
        dt = time.time() - t0
        pts.unpersist()
        results.append((n_traj, dt, survivors, n_out))
        print(
            f"n_traj={n_traj} t={dt:.1f}s survivors={survivors} out={n_out}",
            flush=True,
        )
    lines = [
        "",
        "## sf10 trajectory-similarity probe — survivor count under banding (round 7)",
        "",
        "VERDICT r6 #5. Synthetic fleets of 64-point trajectories; 32 query",
        "vehicles, coarse signature top-8 (m=8 signatures, broadcast scan),",
        "banded-DTW (band 8) re-rank to top-3 over 64-point resampled",
        "sequences. Survivors admitted to DTW = |queries| x k_coarse — FIXED",
        "at 256 by the prune, independent of fleet size — so the 10x step",
        "should cost only the linear signature-build + scan stages.",
        "One timed run after input materialization.",
        "Regenerate: `python tools/stress_sf1.py trajsim10`.",
        "",
        "| n trajectories | input points | time (s) | DTW survivors | top-3 rows | r (per 10x) |",
        "|---|---|---|---|---|---|",
    ]
    base_t = None
    for n_traj, dt, survivors, n_out in results:
        r = f"{dt / base_t:.2f}" if base_t else "—"
        if base_t is None:
            base_t = dt
        lines.append(
            f"| {n_traj:,} | {n_traj * pts_per:,} | {dt:.1f} | {survivors} "
            f"| {n_out} | {r} |"
        )
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended trajsim10 probe to SCALING.md")


def run_semdedup10(spark) -> None:
    """VERDICT r5 #6: measure embedding_semdedup in the regime where
    adaptive_n_clusters actually ENGAGES (k scales with n) instead of
    sitting at the lo=8 clamp. Synthetic hash-derived embeddings (dim
    matched to the driver tables) at n=50k (k=195) and n=500k (k=1953,
    the ~sf10 point) — the 10x step is timed in ONE harness so the
    ratio is load-comparable. Sub-quadratic by construction means
    r(10x) stays near linear: expected cluster population is pinned at
    ~256 rows by the adaptive codebook, so within-cluster pair cost
    grows ~linearly with n while assignment grows n*k.

    Regenerate: `python tools/stress_sf1.py semdedup10`.
    """
    import math

    from transitlog_hfp_sink_spark.operators import similarity as sim

    dim = 64  # the driver embeddings tables' dimension

    def synth_emb(n: int):
        # deterministic, decorrelated vectors: murmur3 hash of
        # (vec_id, j, seed) scaled to [-1, 1); NOT shifted copies of the
        # small corpus — exact clones would put every copy of a vector
        # in one cluster at cos_sim=1 and explode the pair output by
        # construction rather than measuring the operator
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: (
                    F.hash(F.col("id"), j, F.lit(42)).cast("double")
                    / F.lit(2147483648.0)
                ),
            ).alias("embedding"),
        )

    def fixed_codebook(emb, k: int):
        rows = (
            emb.where(F.col("vec_id") < k)
            .orderBy("vec_id")
            .select(F.col("embedding").alias("v"))
            .collect()
        )
        return [list(r["v"]) for r in rows]

    results = []
    for n in (50_000, 500_000):
        emb = synth_emb(n)
        emb = emb.repartition(32).persist()
        emb.count()  # materialize the input outside the timed window
        k = sim.adaptive_n_clusters(n)
        cents = fixed_codebook(emb, k)
        for thr in (0.3, 0.5):
            t0 = time.time()
            pairs, keep = sim.semantic_dedup(
                emb, cents, threshold=thr, max_cluster_rows=1024
            )
            n_pairs = pairs.count()
            n_keep = keep.count()
            dt = time.time() - t0
            results.append((n, k, thr, dt, n_pairs, n_keep))
            print(
                f"n={n} k={k} thr={thr} t={dt:.1f}s pairs={n_pairs} "
                f"keep={n_keep}", flush=True,
            )
        emb.unpersist()
    lines = [
        "",
        "## sf10 semdedup probe — adaptive-k regime engaged (round 6)",
        "",
        "At every driver SF the adaptive codebook sits at the lo=8 clamp, so",
        "the sub-quadratic claim rested on construction; this measures it.",
        "Synthetic hash-derived 64-dim embeddings (decorrelated — shifted",
        "copies would be exact clones and explode pair output by design);",
        "k = adaptive_n_clusters(n) engages at both points (195 / 1953),",
        "max_cluster_rows = 1024, assignment on the round-6 Arrow/BLAS",
        "kernel (the expression path measured >45 min at n=500k before it",
        "was killed — the probe is what motivated codebook_assign_arrow).",
        "Two thresholds separate MACHINERY growth from OUTPUT growth:",
        "within-cluster vectors share a nearest centroid, so they are",
        "correlated and the emitted pair count grows super-linearly at a",
        "loose threshold by geometry, not by operator cost.",
        "One harness, one timed run each after input materialization.",
        "Regenerate: `python tools/stress_sf1.py semdedup10`.",
        "",
        "| n vectors | k | threshold | time (s) | pairs emitted | r (per 10x) |",
        "|---|---|---|---|---|---|",
    ]
    by_thr: dict = {}
    for n, k, thr, dt, n_pairs, _keep in results:
        base = by_thr.get(thr)
        r = f"{dt / base:.2f}" if base else "—"
        if not base:
            by_thr[thr] = dt
        lines.append(f"| {n:,} | {k} | {thr} | {dt:.1f} | {n_pairs} | {r} |")
    lines += [
        "",
        "Expected cluster population is pinned (~256 rows) by the adaptive",
        "codebook, so examined-pair cost grows ~linearly with n; the BLAS",
        "assignment is n x k but embarrassingly parallel and a small share",
        "of the runtime. At the tight threshold (sparse output, the",
        "production regime) the 10x step costs ~an order of magnitude; the",
        "loose-threshold r is dominated by the 20x-larger emitted pair set",
        "(time per emitted pair FALLS with scale).",
    ]
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended semdedup10 probe to SCALING.md")




def run_bm2510(spark) -> None:
    """Round 8: BM25 SERVING cost at a 10x step — the last expensive
    family without an sf10-regime probe. Three cost classes measured
    separately:

    - index BUILD (tokenize + hash-agg + partitioned write): linear in
      the corpus by construction — the once-per-corpus price;
    - UNPRUNED serve (plain parquet postings, broadcast term join): the
      join filters AFTER the scan, so even rare-term queries read the
      whole index — linear in corpus size;
    - PRUNED serve (round-8 write_postings_index layout: md5 term-bucket
      partitions + build-time n_docs/avgdl in meta): reads only the
      query terms' buckets. n_buckets scales with the corpus (the
      production sizing rule: keep bucket size constant), so rare-term
      serve cost is bounded by the terms' postings — near-flat.

    Corpus: n docs x 30 words — 25 common (vocab 100, df ~ 0.22n: an
    output-bound query class by semantics) + 5 rare (vocab n/100, df
    ~ 100 bounded as n grows). Queries: 8 single rare terms, 8 single
    common terms. Regenerate: `python tools/stress_sf1.py bm2510`.
    """
    import shutil
    import tempfile

    from transitlog_hfp_sink_spark.operators.search import (
        bm25_score_postings,
        bm25_serve,
        build_postings,
        search_tokens,
        write_postings_index,
    )

    words_common, words_rare = 25, 5

    def synth_docs(n: int):
        rare_vocab = n // 100
        common = [
            F.concat(F.lit("c"), F.pmod(F.hash(F.col("id"), F.lit(j)), F.lit(100)))
            for j in range(words_common)
        ]
        rare = [
            F.concat(
                F.lit("r"),
                F.pmod(F.col("id") + F.lit(j * 37), F.lit(rare_vocab)),
            )
            for j in range(words_rare)
        ]
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", *(common + rare)).alias("text"),
        )

    rare_q = [(i + 1, f"r{i}") for i in range(8)]
    common_q = [(i + 1, f"c{i}") for i in range(8)]
    results = []
    for n in (100_000, 1_000_000):
        n_buckets = 256 if n == 100_000 else 2560  # constant bucket SIZE
        docs = synth_docs(n).repartition(32).persist()
        docs.count()
        d = tempfile.mkdtemp(prefix=f"bm2510-{n}-")
        t0 = time.time()
        postings, doclens = build_postings(docs)
        write_postings_index(postings, doclens, d, n_buckets=n_buckets)
        t_build = time.time() - t0
        docs.unpersist()

        def serve_unpruned(queries):
            qdf = spark.createDataFrame(queries, "query_id int, qtext string")
            qt = qdf.select(
                "query_id",
                F.explode(F.array_distinct(search_tokens("qtext"))).alias("term"),
            )
            return bm25_score_postings(
                spark.read.parquet(f"{d}/postings").drop("tb"),
                spark.read.parquet(f"{d}/doclens"),
                qt, topk=10,
            )

        timings = {}
        for label, fn in (
            ("rare_pruned", lambda: bm25_serve(spark, d, rare_q, topk=10)),
            ("rare_unpruned", lambda: serve_unpruned(rare_q)),
            ("common_pruned", lambda: bm25_serve(spark, d, common_q, topk=10)),
            ("common_unpruned", lambda: serve_unpruned(common_q)),
        ):
            best = float("inf")
            for _ in range(3):
                t0 = time.time()
                materialize(fn())
                best = min(best, time.time() - t0)
            timings[label] = best
        results.append((n, n_buckets, t_build, timings))
        print(f"n={n} build={t_build:.1f}s " +
              " ".join(f"{k}={v:.2f}s" for k, v in timings.items()), flush=True)
        shutil.rmtree(d, ignore_errors=True)

    lines = [
        "",
        "## sf10 BM25 serving probe — build / unpruned / pruned (round 8)",
        "",
        "Synthetic 30-word docs: 25 common words (vocab 100, df ~ 0.22n)",
        "+ 5 rare words (vocab n/100, df ~ 100 bounded as n grows); 8",
        "single-term queries per class, min-of-3 per cell, one-time build",
        "timed separately; n_buckets scales with n so bucket SIZE stays",
        "constant (the production sizing rule). Serving reads only the",
        "queried buckets + build-time meta stats (no doclens scan).",
        "Regenerate: `python tools/stress_sf1.py bm2510`.",
        "",
        "| n docs | n_buckets | build (s) | rare pruned | rare unpruned | common pruned | common unpruned |",
        "|---|---|---|---|---|---|---|",
    ]
    base = None
    for n, nb, t_build, t in results:
        row = (f"| {n:,} | {nb} | {t_build:.1f} | {t['rare_pruned']:.2f} | "
               f"{t['rare_unpruned']:.2f} | {t['common_pruned']:.2f} | "
               f"{t['common_unpruned']:.2f} |")
        lines.append(row)
        base = base or t
    last = results[-1][3]
    lines += [
        "",
        f"r per 10x — rare pruned {last['rare_pruned']/base['rare_pruned']:.2f}, "
        f"rare unpruned {last['rare_unpruned']/base['rare_unpruned']:.2f}, "
        f"common pruned {last['common_pruned']/base['common_pruned']:.2f}, "
        f"common unpruned {last['common_unpruned']/base['common_unpruned']:.2f}.",
    ]
    with open("SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended bm2510 probe to SCALING.md", flush=True)


if __name__ == "__main__":
    main()
