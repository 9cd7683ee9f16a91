"""Similarity search: brute-force exactness, SRP-LSH recall, plan shape."""

import math
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transitlog_hfp_sink_spark.operators import similarity as sim
from transitlog_hfp_sink_spark.sources.files import read_table

DIM = 16


def _vec(rng):
    return [rng.gauss(0, 1) for _ in range(DIM)]


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(11)
    rows = [(i, _vec(rng)) for i in range(120)]
    # planted: vec 100 is a tiny perturbation of vec 0 -> top-1 of each other
    rows[100] = (100, [x + 0.01 for x in rows[0][1]])
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema).cache()


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_brute_force_matches_python(corpus):
    queries = corpus.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sim.brute_force_topk(corpus, queries, k=3)
    rows = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"]) for r in got.collect()}
    data = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in corpus.collect()}
    for q in range(5):
        scored = sorted(
            ((round(_cos(data[q], data[c]), 6), -c) for c in data if c != q), reverse=True
        )
        for rank in range(1, 4):
            cos, negc = scored[rank - 1]
            assert rows[(q, rank)] == (-negc, pytest.approx(cos, abs=2e-6))


def test_planted_neighbor_is_top1(corpus):
    queries = corpus.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sim.brute_force_topk(corpus, queries, k=1).first()
    assert got["neighbor_id"] == 100
    assert got["cos_sim"] > 0.999


def test_lsh_recall_vs_exact(corpus):
    queries = corpus.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sim.brute_force_topk(corpus, queries, k=1)
    approx = sim.lsh_topk(corpus, queries, dim=DIM, k=1, bits=4, tables=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # random gaussian data is the no-locality worst case; 4 tables x 4
    # bits gives 1-(1-p)^4 recall — modest here, near-1.0 for true dups
    assert len(a & e) / len(e) >= 0.3
    assert any(q == 0 and n == 100 for q, n in a)


def test_brute_force_broadcasts_queries(corpus):
    from transitlog_hfp_sink_spark.plans.inspect import explain_str

    queries = corpus.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = explain_str(sim.brute_force_topk(corpus, queries, k=3), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_neardup_pairs_symmetric_free(corpus):
    pairs = sim.embedding_neardup_pairs(corpus, threshold=0.9, dim=DIM, bits=2)
    rows = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    assert all(a < b for a, b in rows)  # no mirrored duplicates
    assert (0, 100) in rows


def test_ivf_recall_and_structure(corpus):
    """IVF: planted near-identical pair must be found; recall vs exact
    must beat random-list probing (nprobe/n_lists)."""
    from pyspark.sql import functions as F

    queries = corpus.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = sim.ivf_centroids(corpus, n_lists=8, seed=5)
    assert len(cents) == 8 and len(cents[0]) == DIM
    got = sim.ivf_topk(corpus, queries, k=1, n_lists=8, nprobe=3, centroids=cents)
    rows = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(corpus, queries, k=1).collect()
    }
    assert (0, 100) in rows  # near-identical pair lands in the same list
    assert len(rows & exact) / len(exact) >= 3 / 8  # beats random probing


def test_ivf_centroids_sampled_training_keeps_recall(corpus):
    """Index-build scale path: forcing the bounded-sample branch
    (max_train_rows << corpus size) must still produce a usable coarse
    quantizer — the planted near-dup pair is found and recall beats
    random probing, i.e. sampling changes the centroids, not the
    operator's quality envelope."""
    from pyspark.sql import functions as F

    cents = sim.ivf_centroids(corpus, n_lists=8, seed=5, max_train_rows=120)
    assert len(cents) == 8 and len(cents[0]) == DIM
    queries = corpus.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sim.ivf_topk(corpus, queries, k=1, n_lists=8, nprobe=3, centroids=cents)
    rows = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(corpus, queries, k=1).collect()
    }
    assert (0, 100) in rows
    assert len(rows & exact) / len(exact) >= 3 / 8


def test_kmeans_np_deterministic_and_recovers_clusters():
    """The in-memory trainer behind ivf_centroids: seeded kmeans++/Lloyd's
    is bit-deterministic for a fixed seed and recovers well-separated
    planted clusters."""
    import numpy as np

    from transitlog_hfp_sink_spark.operators.similarity import _kmeans_np

    rng = np.random.RandomState(0)
    X = np.concatenate(
        [rng.normal(i * 5.0, 0.3, size=(200, 8)) for i in range(4)]
    )
    C1 = _kmeans_np(X, 4, seed=11, max_iter=25)
    C2 = _kmeans_np(X, 4, seed=11, max_iter=25)
    assert np.array_equal(C1, C2)
    # planted centers are at (0,5,10,15)*ones: first coordinate identifies
    recovered = sorted(int(round(c[0] / 5.0)) for c in C1)
    assert recovered == [0, 1, 2, 3]
    for c in C1:  # tight clusters -> every centroid near a planted mean
        assert abs(c[0] - round(c[0] / 5.0) * 5.0) < 0.5


def test_kmeans_np_degenerate_duplicates():
    """k > distinct points: the empty-list reseed path must still return
    k finite centroids (no NaN from empty means)."""
    import numpy as np

    from transitlog_hfp_sink_spark.operators.similarity import _kmeans_np

    X = np.array([[1.0, 2.0]] * 5 + [[3.0, 4.0]] * 5)
    C = _kmeans_np(X, 3, seed=1, max_iter=10)
    assert C.shape == (3, 2)
    assert np.isfinite(C).all()


def test_sq_roundtrip_error_bounded(spark, sf_dir):
    from transitlog_hfp_sink_spark.operators.similarity import (
        _as_double,
        sq_decode,
        sq_encode,
    )

    emb = read_table(spark, sf_dir, "embeddings").limit(100)
    enc = sq_encode(emb)
    joined = enc.join(emb, "vec_id").select(
        "vec_id",
        F.arrays_zip(
            sq_decode(F.col("codes"), F.col("sq_lo"), F.col("sq_span")),
            _as_double("embedding"),
        ).alias("z"),
        F.col("sq_span").alias("span"),
    )
    # max abs error <= half a quantization step (span/255/2) + float slack
    bad = joined.select(
        F.size(
            F.filter(
                "z", lambda p: F.abs(p["0"] - p["1"]) > F.col("span") / 255.0
            )
        ).alias("n_bad")
    ).agg(F.sum("n_bad")).first()[0]
    assert bad == 0


def test_sq_topk_recall_vs_exact(spark, sf_dir):
    from transitlog_hfp_sink_spark.operators.similarity import (
        brute_force_topk,
        sq_encode,
        sq_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sq_topk(sq_encode(emb), queries, k=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall


def test_sq_constant_vector_decodes_to_lo(spark):
    from transitlog_hfp_sink_spark.operators.similarity import sq_decode, sq_encode

    df = spark.createDataFrame(
        [(1, [2.5, 2.5, 2.5])], "vec_id long, embedding array<float>"
    )
    enc = sq_encode(df)
    row = enc.select(
        sq_decode(F.col("codes"), F.col("sq_lo"), F.col("sq_span")).alias("d")
    ).first()
    assert row["d"] == [2.5, 2.5, 2.5]


# ---------------------------------------------------------------------------
# codebook assignment + diversity sampling
# ---------------------------------------------------------------------------


def test_codebook_assign_matches_python_argmin(corpus):
    cents_rows = corpus.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    cents = [[float(x) for x in r["embedding"]] for r in cents_rows]
    out = {r["vec_id"]: r for r in sim.codebook_assign(corpus, cents).collect()}
    data = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in corpus.collect()}
    for vid, v in data.items():
        d2s = [
            round(sum(a * a for a in v) - 2 * sum(a * b for a, b in zip(v, c))
                  + sum(b * b for b in c), 6)
            for c in cents
        ]
        want = min(range(len(cents)), key=lambda i: (d2s[i], i))
        assert out[vid]["cluster_id"] == want, vid
        assert abs(out[vid]["dist2"] - d2s[want]) < 1e-6
    # each centroid's own vector assigns to itself at distance 0
    for i in range(4):
        assert out[i]["cluster_id"] == i and out[i]["dist2"] == 0.0


def test_diversity_sample_exact_and_salt_invariant(corpus):
    cents_rows = corpus.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    cents = [[float(x) for x in r["embedding"]] for r in cents_rows]
    a = sim.diversity_sample(corpus, cents, per_cluster=3, salt_buckets=32)
    b = sim.diversity_sample(corpus, cents, per_cluster=3, salt_buckets=5)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    # the salted two-phase top-k is exact: bucketing must not change results
    assert ra == rb
    # global check against the assignment + per-cluster sort
    assigned = sim.codebook_assign(corpus, cents).collect()
    by_c = {}
    for r in assigned:
        by_c.setdefault(r["cluster_id"], []).append((r["dist2"], r["vec_id"]))
    for cid, members in by_c.items():
        want = sorted(members)[:3]
        got = sorted(
            (r["dist2"], r["vec_id"]) for r in a.collect() if r["cluster_id"] == cid
        )
        assert got == want
        sizes = {r["cluster_size"] for r in a.collect() if r["cluster_id"] == cid}
        assert sizes == {len(members)}


def test_diversity_sample_plan_no_corpus_window(corpus):
    # the corpus-sized leg must be hash-aggregated (partial combine), not
    # funneled through a per-cluster Window sort
    cents = [[float(x) for x in r["embedding"]]
             for r in corpus.where(F.col("vec_id") < 4).collect()]
    df = sim.diversity_sample(corpus, cents, per_cluster=3)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


# ---------------------------------------------------------------------------
# product quantization (PQ/ADC)
# ---------------------------------------------------------------------------


def _pq_setup(corpus):
    cents = sim.pq_train(corpus, m=8, k=16)
    codes = sim.pq_encode(corpus, cents)
    return cents, codes


def test_pq_encode_shape_and_determinism(corpus):
    cents, codes = _pq_setup(corpus)
    rows = codes.collect()
    assert len(rows) == corpus.count()
    for r in rows:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
    again = {r["vec_id"]: list(r["codes"])
             for r in sim.pq_encode(corpus.repartition(7), cents).collect()}
    assert {r["vec_id"]: list(r["codes"]) for r in rows} == again


def test_pq_adc_recall_vs_exact_l2(corpus):
    cents, codes = _pq_setup(corpus)
    queries = corpus.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sim.pq_adc_topk(codes, queries, cents, k=5)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    data = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in corpus.collect()}
    hits = total = 0
    for qid in range(16):
        qv = data[qid]
        d2 = {
            vid: sum((a - b) ** 2 for a, b in zip(qv, v))
            for vid, v in data.items() if vid != qid
        }
        exact = {vid for vid, _ in sorted(d2.items(), key=lambda kv: (kv[1], kv[0]))[:5]}
        hits += len(exact & by_q[qid])
        total += 5
    # 32x-compressed codes: recall@5 well above random (5/119 ~ 4%)
    assert hits / total >= 0.5, hits / total
    # planted near-identical pair must survive quantization
    assert 100 in by_q[0]


def test_pq_adc_matches_python_table_scoring(corpus):
    cents, codes = _pq_setup(corpus)
    queries = corpus.where(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {r["neighbor_id"]: r["approx_dist2"]
           for r in sim.pq_adc_topk(codes, queries, cents, k=120).collect()}
    data = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in corpus.collect()}
    code_d = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    qv = data[3]
    dsub = DIM // 8
    tables = [
        [sum((qv[j * dsub + t] - c[t]) ** 2 for t in range(dsub)) for c in book]
        for j, book in enumerate(cents)
    ]
    for vid, cs in code_d.items():
        if vid == 3:
            continue
        want = round(sum(tables[j][c] for j, c in enumerate(cs)), 6)
        assert abs(got[vid] - want) < 1e-5, vid


# ---------------------------------------------------------------------------
# IVF-PQ composed index
# ---------------------------------------------------------------------------


def test_ivfpq_encode_consistency(corpus):
    cents, books = sim.ivfpq_train(corpus, n_lists=4, m=8, k=16)
    idx = sim.ivfpq_encode(corpus, cents, books)
    rows = idx.collect()
    assert len(rows) == corpus.count()
    for r in rows:
        assert 0 <= r["list_id"] < 4
        assert len(r["codes"]) == 8 and all(0 <= c < 16 for c in r["codes"])
    # list assignment must agree with the raw-vector argmin
    data = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in corpus.collect()}
    for r in rows:
        v = data[r["vec_id"]]
        d2 = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in cents]
        assert r["list_id"] == min(range(4), key=lambda i: (round(d2[i], 6), i))


def test_ivfpq_topk_recall_and_fullprobe_dominance(corpus):
    cents, books = sim.ivfpq_train(corpus, n_lists=4, m=8, k=16)
    idx = sim.ivfpq_encode(corpus, cents, books)
    queries = corpus.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sim.ivfpq_topk(idx, queries, cents, books, k=5, nprobe=2)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    data = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in corpus.collect()}
    hits = total = 0
    for qid in range(16):
        qv = data[qid]
        d2 = {vid: sum((a - b) ** 2 for a, b in zip(qv, v))
              for vid, v in data.items() if vid != qid}
        exact = {vid for vid, _ in sorted(d2.items(), key=lambda kv: (kv[1], kv[0]))[:5]}
        hits += len(exact & by_q.get(qid, set()))
        total += 5
    assert hits / total >= 0.4, hits / total
    # planted near-identical pair: same list, near-zero ADC distance
    assert 100 in by_q[0]
    # full probe can only improve or match nprobe=2 recall
    full = sim.ivfpq_topk(idx, queries, cents, books, k=5, nprobe=4)
    by_q_full = {}
    for r in full.collect():
        by_q_full.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits_full = sum(
        len({vid for vid, _ in sorted(
            {v: sum((a - b) ** 2 for a, b in zip(data[q], data[v]))
             for v in data if v != q}.items(), key=lambda kv: (kv[1], kv[0]))[:5]}
            & by_q_full.get(q, set()))
        for q in range(16)
    )
    assert hits_full >= hits


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup over a k-means codebook (arXiv:2303.09540)
# ---------------------------------------------------------------------------

def _semdedup_setup(corpus):
    cents_rows = corpus.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    return [[float(x) for x in r["embedding"]] for r in cents_rows]


def test_semdedup_pairs_match_python_referee(corpus):
    cents = _semdedup_setup(corpus)
    pairs, keep = sim.semantic_dedup(corpus, cents, threshold=0.3)
    got = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in pairs.collect()}
    # referee: assignment by argmin dist2 (rounded), then within-cluster
    # pairwise cosine at the same rounding
    data = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in corpus.collect()}

    def assign(v):
        d2s = [
            round(sum(a * a for a in v) - 2 * sum(a * b for a, b in zip(v, c))
                  + sum(b * b for b in c), 6)
            for c in cents
        ]
        return min(range(len(cents)), key=lambda i: (d2s[i], i))

    clusters = {vid: assign(v) for vid, v in data.items()}
    want = {}
    for a in data:
        for b in data:
            if a < b and clusters[a] == clusters[b]:
                cs = round(_cos(data[a], data[b]), 6)
                if cs >= 0.3:
                    want[(a, b)] = cs
    assert set(got) == set(want)
    for k_, v in want.items():
        assert got[k_] == pytest.approx(v, abs=2e-6)
    # every pair is intra-cluster by construction and id-ordered
    for (a, b) in got:
        assert a < b and clusters[a] == clusters[b]
    # the planted near-identical pair (0, 100) must surface if co-clustered
    if clusters[0] == clusters[100]:
        assert (0, 100) in got


def test_semdedup_keep_rule_one_survivor_per_clique(spark):
    # 3 mutually-near-identical vectors + 1 distinct, all in one cluster:
    # exactly one of the clique survives, and it is the one FARTHEST from
    # the centroid (max dist2, SemDeDup's keep preference)
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (2, [0.998, 0.02, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.5, 0.0]),  # not a duplicate of anything
    ]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    cents = [base]  # single cluster: everything assigns to centroid 0
    pairs, keep = sim.semantic_dedup(df, cents, threshold=0.99)
    kept = {r["vec_id"] for r in keep.collect()}
    # vec 3 has cosine < 0.99 with everyone -> kept; clique {0,1,2}
    # keeps exactly its max-dist2 member (vec 2, farthest from base)
    assert 3 in kept
    assert kept & {0, 1, 2} == {2}
    # pairs cover the full clique
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got_pairs == {(0, 1), (0, 2), (1, 2)}


def test_semdedup_keep_union_dropped_is_corpus(corpus):
    cents = _semdedup_setup(corpus)
    pairs, keep = sim.semantic_dedup(corpus, cents, threshold=0.3)
    kept = {r["vec_id"] for r in keep.collect()}
    all_ids = {r["vec_id"] for r in corpus.collect()}
    dropped = all_ids - kept
    assert kept | dropped == all_ids
    # every dropped id appears in some surviving-pair relationship
    pair_ids = set()
    for r in pairs.collect():
        pair_ids.add(r["id_a"])
        pair_ids.add(r["id_b"])
    assert dropped <= pair_ids
    # determinism under repartitioning
    pairs2, keep2 = sim.semantic_dedup(corpus.repartition(7), cents, threshold=0.3)
    assert {r["vec_id"] for r in keep2.collect()} == kept


def test_adaptive_n_clusters_bounds_cluster_population():
    # the sizing rule that keeps within-cluster pair cost flat under
    # corpus growth (VERDICT r4 #2): k grows linearly with n between the
    # clamps, so n/k (expected population) stays ~target
    assert sim.adaptive_n_clusters(500) == 8           # lo clamp
    assert sim.adaptive_n_clusters(2000) == 8          # sf0.1 regime
    assert sim.adaptive_n_clusters(20_000) == 78       # sf1 stress regime
    assert sim.adaptive_n_clusters(10_000_000) == 39_062
    assert sim.adaptive_n_clusters(10**12, hi=65536) == 65536  # hi clamp
    for n in (10_000, 100_000, 1_000_000):
        k = sim.adaptive_n_clusters(n)
        assert n / k <= 2 * 256  # population bounded near target


def test_semdedup_cap_noop_when_clusters_small(corpus):
    # a cap no cluster exceeds must be a pure no-op: identical pairs+keep
    cents = _semdedup_setup(corpus)
    pairs, keep = sim.semantic_dedup(corpus, cents, threshold=0.3)
    pairs_c, keep_c = sim.semantic_dedup(
        corpus, cents, threshold=0.3, max_cluster_rows=10_000
    )
    assert sorted(map(tuple, pairs.collect())) == sorted(map(tuple, pairs_c.collect()))
    assert sorted(map(tuple, keep.collect())) == sorted(map(tuple, keep_c.collect()))


def test_semdedup_cap_bounds_pairs_deterministically(corpus):
    # with a tiny cap, oversize clusters sub-split: pair output is a
    # SUBSET of the uncapped pairs (only within-split pairs survive),
    # deterministic across repartitioning, and keep ∪ dropped == corpus
    cents = _semdedup_setup(corpus)
    full_pairs, _ = sim.semantic_dedup(corpus, cents, threshold=0.3)
    capped_pairs, capped_keep = sim.semantic_dedup(
        corpus, cents, threshold=0.3, max_cluster_rows=10
    )
    full = {(r["id_a"], r["id_b"]) for r in full_pairs.collect()}
    capped = {(r["id_a"], r["id_b"]) for r in capped_pairs.collect()}
    assert capped <= full
    assert len(capped) < len(full)  # 120 vecs / 4 clusters >> cap of 10
    capped_pairs2, capped_keep2 = sim.semantic_dedup(
        corpus.repartition(7), cents, threshold=0.3, max_cluster_rows=10
    )
    assert {(r["id_a"], r["id_b"]) for r in capped_pairs2.collect()} == capped
    kept = {r["vec_id"] for r in capped_keep.collect()}
    assert {r["vec_id"] for r in capped_keep2.collect()} == kept
    all_ids = {r["vec_id"] for r in corpus.collect()}
    dropped_ids = {r["id_a"] for r in capped_pairs.collect()} | {
        r["id_b"] for r in capped_pairs.collect()
    }
    assert kept | dropped_ids == all_ids


def test_semdedup_plan_no_cartesian(corpus):
    from transitlog_hfp_sink_spark.plans.inspect import explain_str

    cents = _semdedup_setup(corpus)
    pairs, keep = sim.semantic_dedup(corpus, cents, threshold=0.3)
    for df in (pairs, keep):
        plan = explain_str(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_served_index_equals_adhoc(spark, sf_dir):
    """ivf_topk over a stored ivf_assign index must return exactly the
    ad-hoc result (the index is a materialization of the same map-only
    assignment) — the IVF-flat serving shape (round 4)."""
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )
    from transitlog_hfp_sink_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, n_lists=8, max_iter=6)
    queries = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    adhoc = ivf_topk(emb, queries, k=3, n_lists=8, nprobe=3, centroids=cents)
    index = ivf_assign(emb, cents)
    served = ivf_topk(
        emb, queries, k=3, n_lists=8, nprobe=3, centroids=cents, index=index
    )
    a = sorted(tuple(r) for r in adhoc.collect())
    s = sorted(tuple(r) for r in served.collect())
    assert a == s and len(a) > 0


def test_codebook_assign_arrow_matches_expression_kernel(spark, sf_dir):
    """Round 6: the BLAS assignment kernel (large-codebook path of
    semantic_dedup) must agree with the oracle-twinned expression kernel
    row for row — the round-6 dist2 quantization absorbs the summation-
    order difference, and argmin-first == lowest-cluster-id tie rule on
    both. Also pins the auto-selection threshold semantics."""
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = (
        emb.where(F.col("vec_id") < 12)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    cents = [list(r["v"]) for r in rows]
    a = {r["vec_id"]: (r["cluster_id"], r["dist2"])
         for r in sim.codebook_assign(emb, cents).collect()}
    b = {r["vec_id"]: (r["cluster_id"], r["dist2"])
         for r in sim.codebook_assign_arrow(emb, cents).collect()}
    assert a == b and len(a) > 0
    # keep_vec parity: the pair join consumes the double-cast vector
    bv = sim.codebook_assign_arrow(emb, cents, keep_vec=True)
    assert dict(bv.dtypes)["vec"] == "array<double>"
    assert bv.count() == len(a)
    # the registry legs (k=8) stay on the expression kernel
    assert sim.ASSIGN_ARROW_THRESHOLD >= 8


def test_codebook_assign_arrow_rejects_null_and_ragged_vectors(spark):
    """ADVICE r6: the BLAS kernel fails loudly (descriptive error naming
    the ids) on NULL or wrong-dimension embeddings instead of crashing
    inside np.stack — malformed vectors must not change failure mode at
    the ASSIGN_ARROW_THRESHOLD kernel switch."""
    import pytest

    from transitlog_hfp_sink_spark.operators import similarity as sim

    cents = [[0.0, 0.0, 0.0], [1.0, 1.0, 1.0]]
    base = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3]), (2, None)],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(Exception, match="NULL or non-3-dim"):
        sim.codebook_assign_arrow(base, cents).collect()
    ragged = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3]), (7, [0.1, 0.2])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(Exception, match="NULL or non-3-dim"):
        sim.codebook_assign_arrow(ragged, cents).collect()


def test_kernel_quantization_boundary_divergence_pinned(spark):
    """Round 8 (VERDICT r7 #6): quantify the documented half-even vs
    HALF_UP divergence between the two assignment kernels at round-to-6
    boundaries. Planted distances whose shortest decimal repr ends in a
    7th-place '5' (the ONLY inputs where the rules can disagree):

    - the expression kernel's F.round must follow HALF_UP on the shortest
      decimal repr (BigDecimal.valueOf semantics);
    - the Arrow kernel's np.round must follow round-half-even on the
      binary double;
    - the flip rate on planted boundary rows is >0 (the divergence is
      real, not theoretical) and every flip is exactly 1e-6;
    - on generic (non-boundary) inputs the kernels agree exactly — the
      existing row-equivalence test plus the margin assertion here: an
      ASSIGNMENT can only flip when the top-2 raw distances sit within
      2e-6, so any corpus with larger cluster margins is kernel-invariant.
    """
    import decimal

    import numpy as np

    # plant d2 values: v=[x], c=[0] makes d2 = x*x bit-identically in
    # both kernels (vv is the only non-zero term, computed the same way),
    # so only the rounding rule differs. Candidates are built backwards:
    # a decimal half-boundary string "0.dddddd5" whose float round-trips
    # to that exact shortest repr, with a bit-exact sqrt (x*x == t) so
    # the kernels' vv reproduces the boundary double precisely.
    boundary = []
    for m in range(100_000, 999_999):
        s = f"0.{m:06d}5"
        t = float(s)
        if repr(t) != s:
            continue  # shortest repr shorter/different — not a boundary
        x = math.sqrt(t)
        if x * x == t:
            boundary.append(x)
            if len(boundary) == 40:
                break
    assert len(boundary) == 40  # the search space is dense enough

    # one row per boundary value, ONE zero centroid: d2 = x*x in both
    # kernels (vv is the only non-zero term, computed identically)
    planted = spark.createDataFrame(
        [(i, [b]) for i, b in enumerate(boundary)],
        "vec_id long, embedding array<double>",
    )
    d_expr = {
        r["vec_id"]: r for r in sim.codebook_assign(planted, [[0.0]]).collect()
    }
    d_arrow = {
        r["vec_id"]: r
        for r in sim.codebook_assign_arrow(planted, [[0.0]]).collect()
    }
    flips = 0
    for i, b in enumerate(boundary):
        re_, ra = d_expr[i], d_arrow[i]
        d2 = b * b
        want_expr = float(
            decimal.Decimal(repr(d2)).quantize(
                decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
            )
        )
        want_arrow = float(np.round(d2, 6))
        assert re_["dist2"] == want_expr, (b, re_["dist2"], want_expr)
        assert ra["dist2"] == want_arrow, (b, ra["dist2"], want_arrow)
        if re_["dist2"] != ra["dist2"]:
            flips += 1
            assert abs(re_["dist2"] - ra["dist2"]) == pytest.approx(1e-6)
    # half-even rounds ~half of trailing-5 boundaries down, HALF_UP none:
    # the divergence is real and measured, not hypothetical
    assert flips > 0
    print(f"boundary flip rate: {flips}/{len(boundary)}")

    # assignment-flip bound: with raw top-2 margins > 2e-6 the winning
    # cluster is kernel-invariant even ON boundary distances (quantization
    # moves each distance by < 1e-6)
    rng = random.Random(5)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(300)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    k_cents = [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(6)]
    a = {r["vec_id"]: r["cluster_id"] for r in sim.codebook_assign(df, k_cents).collect()}
    b = {r["vec_id"]: r["cluster_id"]
         for r in sim.codebook_assign_arrow(df, k_cents).collect()}
    C = np.asarray(k_cents)
    for i, v in vecs:
        d = ((np.asarray(v)[None, :] - C) ** 2).sum(axis=1)
        top2 = np.sort(d)[:2]
        if top2[1] - top2[0] > 2e-6:
            assert a[i] == b[i], i


def test_ivf_served_prune_lists_prunes_and_matches(spark, sf_dir, tmp_path):
    """Round 8 (reworked round 9 for the cost-based auto): the serving
    path's probed-lists pruning at PRODUCTION-SHAPED list counts. With one
    query and nprobe=2 of 64 lists (coverage 1/32 <= the 1/8 auto
    threshold), ivf_topk(index=...) must (a) return exactly the unpruned
    result, (b) read ONLY the probed lists' partition directories from an
    app-layout (partitionBy list_id) index, and (c) keep the driver-side
    probe-list law equal to the in-plan expression (the _nearest_lists_py
    twin)."""
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.similarity import (
        _as_double,
        _nearest_lists,
        _nearest_lists_py,
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )
    from transitlog_hfp_sink_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, n_lists=64, max_iter=6)
    path = str(tmp_path / "ivf_assign")
    ivf_assign(emb, cents).repartition("list_id").write.partitionBy(
        "list_id"
    ).parquet(path)
    index = spark.read.parquet(path)
    queries = emb.where(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    pruned = ivf_topk(
        emb, queries, k=3, n_lists=64, nprobe=2, centroids=cents, index=index
    )
    unpruned = ivf_topk(
        emb, queries, k=3, n_lists=64, nprobe=2, centroids=cents, index=index,
        prune_lists=False,
    )
    # the default auto MUST have decided to prune here: the static IN
    # filter lands in the scan's partition filters (rendered with the
    # expression id: "list_id#20 IN (44,46)"), absent unpruned
    import re

    _in = re.compile(r"list_id#\d+ IN \(")
    assert _in.search(pruned._jdf.queryExecution().executedPlan().toString())
    assert not _in.search(unpruned._jdf.queryExecution().executedPlan().toString())
    p = sorted(tuple(r) for r in pruned.collect())
    u = sorted(tuple(r) for r in unpruned.collect())
    assert p == u and p

    # (c) expression vs python probe-list law, for every corpus vector
    expr_lists = {
        r["query_id"]: list(r["ls"])
        for r in emb.select(
            F.col("vec_id").alias("query_id"),
            _nearest_lists(_as_double("embedding"), cents, 2).alias("ls"),
        ).collect()
    }
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    for qid, ls in expr_lists.items():
        assert ls == _nearest_lists_py([float(x) for x in vecs[qid]], cents, 2), qid

    # (b) only the probed lists' directories are scanned
    probed = _nearest_lists_py([float(x) for x in vecs[5]], cents, 2)
    filtered = index.where(F.col("list_id").isin(sorted(probed)))
    files = [r[0] for r in filtered.select(F.input_file_name()).distinct().collect()]
    assert files
    assert all(any(f"list_id={li}/" in f for li in probed) for f in files), files
    all_lists = {r["list_id"] for r in index.select("list_id").distinct().collect()}
    assert len(all_lists) > len(set(probed))


def test_ivf_served_prune_auto_cost_decision(spark, sf_dir):
    """Round 9 (VERDICT r8 #5): prune_lists='auto' is cost-based.

    - Toy coverage (nprobe=4 of 16 lists = 1/4 > 1/8): auto serves FULLY
      DISTRIBUTED — no driver collect, no static IN filter — recovering
      the r7 bench plan for embedding_topk_ivf_served.
    - prune_lists=True still forces the pruned plan at the same shape.
    - Both return identical rows (pruning is result-identical by
      construction)."""
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )
    from transitlog_hfp_sink_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, n_lists=16, max_iter=6)
    index = ivf_assign(emb, cents)
    # ONE query so the forced leg's probed union (4 of 16 lists) stays a
    # strict subset — a multi-query union covering all lists would make
    # even forced pruning skip the (then-useless) IN filter
    queries = emb.where(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    auto = ivf_topk(
        emb, queries, k=3, n_lists=16, nprobe=4, centroids=cents, index=index
    )
    forced = ivf_topk(
        emb, queries, k=3, n_lists=16, nprobe=4, centroids=cents, index=index,
        prune_lists=True,
    )
    import re

    _in = re.compile(r"list_id#\d+ IN \(")
    assert not _in.search(auto._jdf.queryExecution().executedPlan().toString())
    assert _in.search(forced._jdf.queryExecution().executedPlan().toString())
    a = sorted(tuple(r) for r in auto.collect())
    f = sorted(tuple(r) for r in forced.collect())
    assert a == f and a


def _write_ivf_layout(spark, sf_dir, tmp_path, n_lists=64):
    """An IVF serving layout (write_ivf_index) over the embeddings."""
    from transitlog_hfp_sink_spark.operators.similarity import (
        ivf_centroids,
        write_ivf_index,
    )
    from transitlog_hfp_sink_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    out = str(tmp_path / "ivf_layout")
    cents = write_ivf_index(
        emb, out, centroids=ivf_centroids(emb, n_lists=n_lists, max_iter=6)
    )
    return out, emb, cents


def test_ivf_serve_layout_matches_full_index_and_lists_only_probed(
    spark, sf_dir, tmp_path
):
    """Round 9: the path-based ivf_serve (manifest-pruned directory-direct
    reads) must return exactly ivf_topk over the FULL stored index at the
    same nprobe, and its scan must name only probed list_id=K paths."""
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.similarity import ivf_serve, ivf_topk
    from transitlog_hfp_sink_spark.plans.inspect import explain_str

    out, emb, cents = _write_ivf_layout(spark, sf_dir, tmp_path)
    queries = emb.where(F.col("vec_id").isin([5, 9])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = ivf_serve(spark, out, queries, k=3, nprobe=2)
    full = ivf_topk(
        emb, queries, k=3, n_lists=64, nprobe=2, centroids=cents,
        index=spark.read.parquet(f"{out}/ivf_assign"), prune_lists=False,
    )
    s = sorted(tuple(r) for r in served.collect())
    u = sorted(tuple(r) for r in full.collect())
    assert s == u and s

    from transitlog_hfp_sink_spark.operators.similarity import _nearest_lists_py

    vecs = {
        r["query_id"]: [float(x) for x in r["embedding"]] for r in queries.collect()
    }
    probed = sorted(
        {li for v in vecs.values() for li in _nearest_lists_py(v, cents, 2)}
    )
    import re

    plan = explain_str(served, "formatted")
    named = {int(m) for m in re.findall(r"list_id=(\d+)", plan)}
    assert named and named <= set(probed), (named, probed)


def test_ivf_serve_pre_manifest_layout_and_null_queries(spark, sf_dir, tmp_path):
    """Pre-round-9 centroids.json (no manifest) falls back to one root
    listing and still matches; an all-NULL query batch serves an empty,
    correctly-typed frame."""
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.fs import fs_read_json, fs_write_json
    from transitlog_hfp_sink_spark.operators.similarity import ivf_serve

    out, emb, cents = _write_ivf_layout(spark, sf_dir, tmp_path)
    queries = emb.where(F.col("vec_id").isin([5, 9])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with_manifest = sorted(
        tuple(r) for r in ivf_serve(spark, out, queries, k=3, nprobe=2).collect()
    )
    # through the Hadoop FS API: a plain open() rewrite would leave the
    # local filesystem's .crc sidecar stale and fail the next read
    meta = fs_read_json(spark, f"{out}/centroids.json")
    legacy = {k: v for k, v in meta.items() if k in ("n_lists", "vec_col", "centroids")}
    fs_write_json(spark, f"{out}/centroids.json", legacy)
    got = sorted(
        tuple(r) for r in ivf_serve(spark, out, queries, k=3, nprobe=2).collect()
    )
    assert got == with_manifest and got

    nulls = queries.select(
        "query_id", F.lit(None).cast("array<float>").alias("embedding")
    )
    empty = ivf_serve(spark, out, nulls, k=3, nprobe=2)
    assert empty.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]
    assert empty.count() == 0


def test_ivfpq_serve_layout_matches_full_index(spark, sf_dir, tmp_path):
    """Round 9: write_ivfpq_index + ivfpq_serve (the composed index as a
    persisted serving artifact) must return exactly ivfpq_topk over the
    FULL stored codes at the same nprobe, scan only probed list_id=K
    paths, and serve an all-NULL batch as an empty typed frame."""
    import re

    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.similarity import (
        _nearest_lists_py,
        ivfpq_serve,
        ivfpq_topk,
        write_ivfpq_index,
    )
    from transitlog_hfp_sink_spark.plans.inspect import explain_str
    from transitlog_hfp_sink_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    out = str(tmp_path / "ivfpq_layout")
    cents, books = write_ivfpq_index(emb, out, n_lists=16, m=8, k=16)

    queries = emb.where(F.col("vec_id").isin([3, 7])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = ivfpq_serve(spark, out, queries, k=3, nprobe=2)
    full = ivfpq_topk(
        spark.read.parquet(f"{out}/ivfpq_codes"), queries, cents, books,
        k=3, nprobe=2,
    )
    s = sorted(tuple(r) for r in served.collect())
    u = sorted(tuple(r) for r in full.collect())
    assert s == u and s

    vecs = {
        r["query_id"]: [float(x) for x in r["embedding"]] for r in queries.collect()
    }
    probed = set()
    for v in vecs.values():
        probed.update(_nearest_lists_py(v, cents, 2))
    plan = explain_str(served, "formatted")
    named = {int(m) for m in re.findall(r"list_id=(\d+)", plan)}
    assert named and named <= probed, (named, probed)

    nulls = queries.select(
        "query_id", F.lit(None).cast("array<float>").alias("embedding")
    )
    empty = ivfpq_serve(spark, out, nulls, k=3, nprobe=2)
    assert empty.columns == ["query_id", "neighbor_id", "approx_dist2", "rank"]
    assert empty.count() == 0


def test_ivf_served_prune_auto_falls_back_on_big_batch(spark, sf_dir):
    """ADVICE r8: a query batch over max_query_rows previously executed
    fully distributed and the round-8 prune default made it raise. Auto
    now FALLS BACK to the unpruned distributed serve (same rows); only
    the explicit prune_lists=True keeps the loud bound guard."""
    import pytest
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )
    from transitlog_hfp_sink_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, n_lists=64, max_iter=6)
    index = ivf_assign(emb, cents)
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    auto = ivf_topk(
        emb, queries, k=3, n_lists=64, nprobe=2, centroids=cents, index=index,
        max_query_rows=4,
    )
    unpruned = ivf_topk(
        emb, queries, k=3, n_lists=64, nprobe=2, centroids=cents, index=index,
        prune_lists=False,
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, unpruned.collect())
    )
    with pytest.raises(ValueError, match="broadcast contract"):
        ivf_topk(
            emb, queries, k=3, n_lists=64, nprobe=2, centroids=cents,
            index=index, prune_lists=True, max_query_rows=4,
        ).collect()


def test_ivf_served_prune_drops_null_query_embeddings(spark, sf_dir):
    """A NULL query embedding in a pruned serve must be DROPPED (no
    result rows) — the documented contract of every driver-side query
    path (ivfpq/pq ADC) — not crash plan construction (round-8 review
    caught a TypeError on list(None))."""
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )
    from transitlog_hfp_sink_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, n_lists=8, max_iter=6)
    index = ivf_assign(emb, cents)
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.when(F.col("vec_id") == 2, F.lit(None)).otherwise(
            F.col("embedding")
        ).alias("embedding"),
    )
    got = ivf_topk(
        emb, queries, k=3, n_lists=8, nprobe=2, centroids=cents, index=index
    ).collect()
    qids = {r["query_id"] for r in got}
    assert 2 not in qids and qids == {0, 1, 3}


def test_serving_layout_on_scheme_qualified_uri(spark, sf_dir, tmp_path):
    """Round 10 (VERDICT r9 #1): the persisted-index meta IO goes through
    the Hadoop FS API, so building AND serving work on a scheme-qualified
    URI — the builtin open() it replaced treated 'file://…' as a literal
    POSIX name and failed, which is exactly the seam an object-store
    (s3a/abfs/gs) deployment would hit. Local file:// is the
    scheme-resolution path the sandbox can actually execute; the helper
    resolves every scheme through the same FileSystem API."""
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.similarity import (
        ivfpq_serve,
        ivfpq_topk,
        write_ivfpq_index,
    )
    from transitlog_hfp_sink_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    uri = f"file://{tmp_path}/ivfpq_uri"
    cents, books = write_ivfpq_index(emb, uri, n_lists=16, m=8, k=16)
    queries = emb.where(F.col("vec_id").isin([3, 7])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = sorted(
        tuple(r) for r in ivfpq_serve(spark, uri, queries, k=3, nprobe=2).collect()
    )
    full = sorted(
        tuple(r)
        for r in ivfpq_topk(
            spark.read.parquet(f"{uri}/ivfpq_codes"), queries, cents, books,
            k=3, nprobe=2,
        ).collect()
    )
    assert served == full and served


def test_ivf_serve_defaults_vec_col_from_meta(spark, sf_dir, tmp_path):
    """ADVICE r9: an index built with a non-default vector column must
    serve without the caller re-stating it — ivf_serve defaults vec_col
    to the meta-recorded name (mirroring ivfpq_serve)."""
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.similarity import (
        ivf_centroids,
        ivf_serve,
        ivf_topk,
        write_ivf_index,
    )
    from transitlog_hfp_sink_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings").withColumnRenamed(
        "embedding", "emb2"
    )
    cents = ivf_centroids(emb, n_lists=8, vec_col="emb2", max_iter=6)
    out = str(tmp_path / "ivf_veccol")
    write_ivf_index(emb, out, vec_col="emb2", centroids=cents)
    queries = emb.where(F.col("vec_id").isin([5, 9])).select(
        F.col("vec_id").alias("query_id"), "emb2"
    )
    # no vec_col argument: the meta knows the column name
    served = sorted(
        tuple(r) for r in ivf_serve(spark, out, queries, k=3, nprobe=8).collect()
    )
    full = sorted(
        tuple(r)
        for r in ivf_topk(
            emb, queries, k=3, n_lists=8, nprobe=8, centroids=cents,
            vec_col="emb2", index=spark.read.parquet(f"{out}/ivf_assign"),
            prune_lists=False,
        ).collect()
    )
    assert served == full and served


def test_ivf_topk_corpus_path_shares_null_and_validation_contract(
    spark, sf_dir
):
    """ADVICE r9: the NULL-query drop and the prune_lists validation are
    hoisted ABOVE the index branch — the corpus (non-serving) path must
    drop NULL query vectors (no cos_sim=0.0 rows) and reject an invalid
    prune_lists string instead of silently accepting it."""
    import pytest
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
    )
    from transitlog_hfp_sink_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb, n_lists=8, max_iter=6)
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.when(F.col("vec_id") == 2, F.lit(None)).otherwise(
            F.col("embedding")
        ).alias("embedding"),
    )
    got = ivf_topk(
        emb, queries, k=3, n_lists=8, nprobe=2, centroids=cents
    ).collect()
    qids = {r["query_id"] for r in got}
    assert 2 not in qids and qids == {0, 1, 3}
    with pytest.raises(ValueError, match="prune_lists"):
        ivf_topk(
            emb, queries, k=3, n_lists=8, nprobe=2, centroids=cents,
            prune_lists="yes-please",
        )


@pytest.mark.parametrize("kind", ["ivf", "ivfpq"])
def test_update_ann_index_equals_fresh_build_over_merged_corpus(
    spark, sf_dir, tmp_path, kind
):
    """Incremental update, library path: build from the even ids, then
    update with the odd ids plus one even id whose vector changed. The
    served top-k must equal a fresh build over the merged corpus with the
    same quantizers, the changed id must be replaced (last write wins),
    and the update must record the same meta a fresh build records."""
    from transitlog_hfp_sink_spark.fs import fs_read_json
    from transitlog_hfp_sink_spark.operators.similarity import (
        ANN_LAYOUTS,
        ivf_serve,
        ivfpq_serve,
        update_ann_index,
        write_ivf_index,
        write_ivfpq_index,
    )

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    even, odd = F.col("vec_id") % 2 == 0, F.col("vec_id") % 2 == 1
    changed = emb.where(F.col("vec_id") == 2).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    batch = emb.where(odd).unionByName(changed)
    merged = emb.where(even & (F.col("vec_id") != 2)).unionByName(batch)
    src, out, ref = (str(tmp_path / d) for d in ("src", "out", "ref"))
    if kind == "ivf":
        cents = write_ivf_index(emb.where(even), src, n_lists=8)
        write_ivf_index(merged, ref, centroids=cents)
        serve = ivf_serve
    else:
        cents, books = write_ivfpq_index(emb.where(even), src, n_lists=8, m=4, k=16)
        write_ivfpq_index(merged, ref, m=4, k=16, centroids=cents, codebooks=books)
        serve = ivfpq_serve
    meta = update_ann_index(kind, batch, src, out)

    data_dir, meta_file, _ = ANN_LAYOUTS[kind]
    rows, ids = spark.read.parquet(f"{out}/{data_dir}").agg(
        F.count("*"), F.countDistinct("vec_id")
    ).first()
    assert rows == ids == emb.count()  # the changed id replaced, not added
    ref_meta = fs_read_json(spark, f"{ref}/{meta_file}")
    assert meta["epoch"] != ref_meta["epoch"]
    assert {k: v for k, v in meta.items() if k != "epoch"} == {
        k: v for k, v in ref_meta.items() if k != "epoch"
    }
    queries = merged.where(F.col("vec_id").isin(2, 3, 7)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(tuple(r) for r in serve(spark, out, queries, k=3, nprobe=2).collect())
    want = sorted(tuple(r) for r in serve(spark, ref, queries, k=3, nprobe=2).collect())
    assert got == want and got
