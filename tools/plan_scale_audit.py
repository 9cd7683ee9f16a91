"""Plan-shape scale-invariance audit: sf0.1 vs sf1.

The 100 TB question is not "is the plan fast at sf0.1" but "does the
SAME plan shape survive a 10x (and by induction 1000x) scale-up": dims
must stay broadcast (they didn't grow), fact-fact joins must stay
shuffled hash/sort-merge (they did), and nothing may degenerate into a
cartesian/nested-loop. This tool fingerprints the physical plan of
every query in the sf1 stress set at BOTH scales — node-type counts for
the join/exchange/aggregate operators that determine shuffle behavior —
and appends the comparison to PLANS.md. A changed fingerprint is not
automatically wrong (AQE may legally coalesce), but every difference is
listed for eyeballing; cartesians at either scale fail the run.

Run AFTER `python tools/stress_sf1.py relational` (reuses its
synthesized /tmp input). Usage: python tools/plan_scale_audit.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transitlog_hfp_sink_spark.plans.inspect import explain_str

#: node types that determine shuffle/join behavior; BroadcastExchange is
#: counted separately from shuffle Exchange so a broadcast->shuffle flip
#: shows up even when total exchange count is unchanged.
NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "BroadcastExchange",
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "HashAggregate",
    "Window",
)


def fingerprint(df) -> dict[str, int]:
    plan = explain_str(df, "simple")
    return {n: len(re.findall(re.escape(n), plan)) for n in NODES}


def fmt(fp: dict[str, int]) -> str:
    short = {
        "BroadcastHashJoin": "BHJ",
        "SortMergeJoin": "SMJ",
        "ShuffledHashJoin": "SHJ",
        "BroadcastNestedLoopJoin": "BNLJ",
        "CartesianProduct": "CART",
        "BroadcastExchange": "bcast",
        "Exchange hashpartitioning": "xchg",
        "Exchange rangepartitioning": "rxchg",
        "HashAggregate": "agg",
        "Window": "win",
    }
    return " ".join(f"{short[k]}={v}" for k, v in fp.items() if v)


def serve_fingerprints(spark, sf_dir: str, tag: str) -> dict[str, dict]:
    """Round 11 (VERDICT r10 #7): the three persisted-index SERVE paths
    construct their plans outside the registry set — build a real layout
    of each kind over `sf_dir`'s corpus and fingerprint the served plan,
    so the scale audit covers them like everything else. Layouts are
    built fresh per scale in /tmp (build cost is not what's audited;
    plan SHAPE is)."""
    import tempfile

    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.search import (
        build_postings,
        bm25_serve,
        write_postings_index,
    )
    from transitlog_hfp_sink_spark.operators.similarity import (
        ivf_centroids,
        ivf_serve,
        ivfpq_serve,
        write_ivf_index,
        write_ivfpq_index,
    )
    from transitlog_hfp_sink_spark.sources.files import read_table

    docs = read_table(spark, sf_dir, "documents", widen=True)
    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    base = tempfile.mkdtemp(prefix=f"serve-audit-{tag}-")

    postings, doclens = build_postings(docs)
    write_postings_index(postings, doclens, f"{base}/bm", n_buckets=1024)
    served_bm = bm25_serve(spark, f"{base}/bm", [(1, "apple banana")], topk=5)

    write_ivf_index(
        emb, f"{base}/ivf", centroids=ivf_centroids(emb, n_lists=32, max_iter=3)
    )
    queries = emb.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    served_ivf = ivf_serve(spark, f"{base}/ivf", queries, k=3, nprobe=2)

    write_ivfpq_index(emb, f"{base}/pq", n_lists=32, m=4, k=16)
    served_pq = ivfpq_serve(spark, f"{base}/pq", queries, k=3, nprobe=2)

    return {
        "bm25_serve": fingerprint(served_bm),
        "ivf_serve": fingerprint(served_ivf),
        "ivfpq_serve": fingerprint(served_pq),
    }


def main() -> None:
    import tools.stress_sf1 as s
    from bench import bench_overrides
    from transitlog_hfp_sink_spark.queries import queries as all_queries
    from transitlog_hfp_sink_spark.session import build_session

    spark = build_session(
        app_name="plan-scale-audit", master="local[8]", shuffle_partitions=32
    )
    s.build_input_relational(spark)
    s.build_input(spark)  # document/embedding family sf1 input
    qs = all_queries()
    # q4_order_priority / top_brands_revenue live inside the power-run
    # digest since round 6; resolve their standalone callables directly
    from transitlog_hfp_sink_spark.queries import power as _power

    qs.update(_power.POWER_QUERIES)
    ov = bench_overrides()
    # the document/ANN family (bench shapes, same overrides the sf1
    # stress times) — banded LSH / broadcast-query ANN / postings BM25
    # are exactly the plans whose never-all-pairs property must hold at
    # scale
    doc_names = [
        "dedup_exact_documents",
        "dedup_minhash_lsh",
        "dedup_spans_exact",
        "dedup_incremental",
        "text_search_bm25",
        "hybrid_search_rrf",
        "embedding_topk_exact",
        "embedding_topk_pq",
        "embedding_topk_ivfpq",
        "embedding_semdedup",
        "embedding_diversity_sample",
        "lm_score_documents",
        "lm_score_bigram",
        "nb_classifier_score",
        "text_quality",
        "pack_token_sequences",
        "bpe_encode_documents",
        "sample_documents",
        "multimodal_pipeline",
        "trajectory_similarity",
        "corpus_profile",
    ]
    audit_names = list(s.RELATIONAL_NAMES) + doc_names
    # Gate: CartesianProduct is never allowed; BroadcastNestedLoopJoin is
    # legal only as the intentional 1-row broadcast-scalar cross-join
    # pattern (tests/test_plans.py allowlists those by name at sf0.01) —
    # here the scale-invariance form of that rule is enforced: sf1 may
    # not introduce a nested loop the sf0.1 plan didn't have.
    rows = []
    bad = []
    for name in audit_names:
        fn = ov.get(name) or qs[name]
        fp01 = fingerprint(fn(spark, "/root/testdata/sf0.1"))
        fp1 = fingerprint(fn(spark, s.DST))
        same = fp01 == fp1
        rows.append((name, fmt(fp01), fmt(fp1) if not same else "same", same))
        if (
            fp01["CartesianProduct"]
            or fp1["CartesianProduct"]
            or fp1["BroadcastNestedLoopJoin"] > fp01["BroadcastNestedLoopJoin"]
        ):
            bad.append(name)
        print(name, "SAME" if same else f"DIFF {fmt(fp01)} -> {fmt(fp1)}", flush=True)
    if bad:
        raise SystemExit(f"cartesian/nested-loop at sf1: {bad}")
    n_same = sum(1 for r in rows if r[3])
    lines = [
        "",
        "## Plan-shape scale invariance (sf0.1 vs sf1)",
        "",
        "Join-strategy fingerprints (node-type counts from the physical",
        "plan) for the sf1 stress set at both scales — the check that a",
        "10x fact-side scale-up does not flip dims out of broadcast, flip",
        "any join into a nested loop, or change the shuffle structure.",
        f"{n_same}/{len(rows)} identical; differences listed verbatim.",
        "Hard gate: no cartesian at either scale, and sf1 may not",
        "introduce a nested-loop join the sf0.1 plan didn't have (the",
        "pre-existing BNLJ counts are the intentional 1-row",
        "broadcast-scalar cross-joins allowlisted by the registry test;",
        "their scalar side does not grow with the fact side).",
        "Regenerate: `python tools/plan_scale_audit.py`.",
        "",
        "| query | fingerprint @ sf0.1 | @ sf1 |",
        "|---|---|---|",
    ]
    for name, a, b, _ in rows:
        lines.append(f"| {name} | `{a}` | {'same' if b == 'same' else f'`{b}`'} |")

    # serve-path section (round 11, VERDICT r10 #7): real layouts of all
    # three index kinds built per scale, served plans fingerprinted under
    # the same gate (no cartesian; sf1 may not introduce a nested loop)
    sv01 = serve_fingerprints(spark, "/root/testdata/sf0.1", "sf01")
    sv1 = serve_fingerprints(spark, s.DST, "sf1")
    lines += [
        "",
        "Serve paths (persisted-index layouts built per scale; the plans",
        "bm25_serve / ivf_serve / ivfpq_serve construct outside the",
        "registry set — probed-path reads + broadcast query sides):",
        "",
        "| serve path | fingerprint @ sf0.1 | @ sf1 |",
        "|---|---|---|",
    ]
    n_serve_same = 0
    for name in sv01:
        same = sv01[name] == sv1[name]
        n_serve_same += same
        if (
            sv01[name]["CartesianProduct"] or sv1[name]["CartesianProduct"]
            or sv1[name]["BroadcastNestedLoopJoin"]
            > sv01[name]["BroadcastNestedLoopJoin"]
        ):
            raise SystemExit(f"cartesian/nested-loop in serve path {name}")
        lines.append(
            f"| {name} | `{fmt(sv01[name])}` | "
            f"{'same' if same else f'`{fmt(sv1[name])}`'} |"
        )
        print(f"serve:{name}",
              "SAME" if same else f"DIFF {fmt(sv01[name])} -> {fmt(sv1[name])}",
              flush=True)
    with open("PLANS.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print(f"appended plan scale audit to PLANS.md ({n_same}/{len(rows)} "
          f"identical; serve paths {n_serve_same}/{len(sv01)} identical)")


if __name__ == "__main__":
    main()
