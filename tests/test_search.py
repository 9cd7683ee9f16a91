"""BM25 inverted-index search: ranking contracts + plan shape."""

import pytest
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.operators.search import (
    bm25_search,
    bm25_score_postings,
    build_postings,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "apple banana apple"),
        (2, "apple banana cherry banana"),
        (3, "cherry cherry cherry date"),
        (4, "date elderberry fig"),
        (5, "apple"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_postings_tf_and_dl(corpus):
    postings, doclens = build_postings(corpus)
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in postings.collect()
    }
    assert got[("apple", 1)] == (2, 3)
    assert got[("banana", 2)] == (2, 4)
    assert got[("cherry", 3)] == (3, 4)
    dl = {r["doc_id"]: r["dl"] for r in doclens.collect()}
    assert dl == {1: 3, 2: 4, 3: 4, 4: 3, 5: 1}


def test_bm25_tf_norm_and_deterministic_tiebreak(corpus):
    # With avgdl=3: doc1 (tf=2, dl=3) and doc5 (tf=1, dl=1) both get
    # tf-norm 2.2/1.6 == 4.4/3.2 == 1.375 — an EXACT tie (same idf), so
    # the doc_id tie-break must order doc1 before doc5, and doc2 (tf=1,
    # dl=4) strictly below both.
    out = sorted(
        bm25_search(corpus, [(1, "apple")], topk=3).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["doc_id"] for r in out] == [1, 5, 2]
    assert out[0]["score"] == out[1]["score"] > out[2]["score"]


def test_bm25_multi_term_sums_partials(corpus):
    # 'apple banana': doc 2 and doc 1 both match twice+; no doc without
    # either term may appear
    out = bm25_search(corpus, [(1, "apple banana")], topk=10).collect()
    hit_ids = {r["doc_id"] for r in out}
    assert hit_ids == {1, 2, 5}
    # scores strictly ordered by rank
    scores = [r["score"] for r in sorted(out, key=lambda r: r["rank"])]
    assert scores == sorted(scores, reverse=True)


def test_rarer_term_scores_higher_idf(corpus):
    # 'elderberry' (df=1) must outscore 'apple' (df=3) at equal tf/dl —
    # compare the two single-term queries on their own matched docs
    out = bm25_search(
        corpus, [(1, "elderberry"), (2, "cherry")], topk=1
    ).collect()
    by_q = {r["query_id"]: r for r in out}
    assert by_q[1]["doc_id"] == 4
    assert by_q[2]["doc_id"] == 3


def test_query_terms_broadcast_and_no_full_scan_shuffle(corpus):
    df = bm25_search(corpus, [(1, "apple")], topk=5)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "BroadcastHashJoin" in plan  # query-terms + dfreq + stats sides
    assert "SortMergeJoin" not in plan  # nothing corpus-sized joins wide


def test_score_postings_reuses_prebuilt_index(spark, corpus):
    postings, doclens = build_postings(corpus)
    qt = spark.createDataFrame([(7, "banana")], "query_id int, term string")
    out = bm25_score_postings(postings, doclens, qt, topk=2).collect()
    assert {r["doc_id"] for r in out} == {1, 2}
    # doc 2 has tf=2 of banana -> must rank first
    assert sorted(out, key=lambda r: r["rank"])[0]["doc_id"] == 2


def test_rrf_fuse_math_and_ranking(spark):
    from transitlog_hfp_sink_spark.operators.search import rrf_fuse

    # doc 10 is rank 1 in both legs; doc 20 rank 2 sparse only; doc 30
    # rank 2 dense only; doc 40 rank 3 sparse only.
    sparse = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 40, 3)], "query_id int, doc_id int, rank int"
    )
    dense = spark.createDataFrame(
        [(1, 10, 1), (1, 30, 2)], "query_id int, doc_id int, rank int"
    )
    out = {r["doc_id"]: r for r in rrf_fuse([sparse, dense], topk=10).collect()}
    assert out[10]["rank"] == 1 and out[10]["n_legs"] == 2
    assert abs(out[10]["rrf_score"] - 2 / 61) < 1e-7
    # single-leg rank-2 docs tie exactly; doc_id breaks the tie
    assert abs(out[20]["rrf_score"] - 1 / 62) < 1e-7
    assert out[20]["rank"] == 2 and out[30]["rank"] == 3
    assert out[40]["rank"] == 4


def test_rrf_fuse_topk_cut(spark):
    from transitlog_hfp_sink_spark.operators.search import rrf_fuse

    leg = spark.createDataFrame(
        [(1, d, d) for d in range(1, 8)], "query_id int, doc_id int, rank int"
    )
    out = rrf_fuse([leg], topk=3).collect()
    assert len(out) == 3
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2, 3]


def test_rrf_fuse_matches_python_referee(spark):
    """Randomized legs vs an independent Python RRF implementation."""
    import random

    from transitlog_hfp_sink_spark.operators.search import rrf_fuse

    rng = random.Random(23)
    legs_py = []
    for _ in range(3):
        rows = []
        for q in range(1, 4):
            docs = rng.sample(range(100), rng.randint(0, 12))
            rows += [(q, d, r + 1) for r, d in enumerate(docs)]
        legs_py.append(rows)
    legs = [
        spark.createDataFrame(rows or [(0, 0, 1)], "query_id int, doc_id int, rank int")
        .where(F.lit(bool(rows)))
        for rows in legs_py
    ]
    got = {
        (r["query_id"], r["doc_id"]): r
        for r in rrf_fuse(legs, topk=100).collect()
    }
    # referee
    from collections import defaultdict

    score = defaultdict(float)
    nlegs = defaultdict(int)
    for rows in legs_py:
        for q, d, r in rows:
            score[(q, d)] += 1.0 / (60 + r)
            nlegs[(q, d)] += 1
    assert set(got) == set(score)
    for key, r in got.items():
        assert abs(r["rrf_score"] - score[key]) < 1e-6
        assert r["n_legs"] == nlegs[key]
    # per-query rank ordering matches (score desc, doc_id asc)
    for q in {k[0] for k in score}:
        want = sorted(
            (k[1] for k in score if k[0] == q),
            key=lambda d: (-round(score[(q, d)], 12), d),
        )
        by_rank = sorted(
            (r["rank"], r["doc_id"]) for k, r in got.items() if k[0] == q
        )
        assert [d for _, d in by_rank] == want


def test_update_postings_equals_full_rebuild(spark):
    """Incremental index maintenance == full rebuild over the merged
    corpus, for both inserts and in-place document updates; queries
    against the merged index rank identically."""
    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.search import (
        bm25_score_postings,
        build_postings,
        update_postings,
    )

    old = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the dog"),
            (1, "a slow green turtle walks under the table"),
            (2, "stale text that will be replaced entirely"),
        ],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [
            (2, "fresh replacement text about foxes and dogs"),  # update
            (3, "an entirely new document about quick foxes"),   # insert
        ],
        "doc_id bigint, text string",
    )
    merged = old.where(F.col("doc_id") != 2).unionByName(batch)

    p_old, d_old = build_postings(old)
    p_inc, d_inc = update_postings(p_old, d_old, batch)
    p_full, d_full = build_postings(merged)

    key = lambda rows: sorted(tuple(r) for r in rows)
    assert key(p_inc.collect()) == key(p_full.collect())
    assert key(d_inc.collect()) == key(d_full.collect())

    # stale term from the replaced doc 2 is gone from the merged index
    stale = p_inc.where((F.col("term") == "stale")).count()
    assert stale == 0

    q = spark.createDataFrame(
        [(1, "quick"), (1, "foxes")], "query_id int, term string"
    )
    r_inc = bm25_score_postings(p_inc, d_inc, q, topk=4).collect()
    r_full = bm25_score_postings(p_full, d_full, q, topk=4).collect()
    assert key(r_inc) == key(r_full)


def test_write_postings_index_and_serve_prunes_and_matches(spark, corpus, tmp_path):
    """The round-8 serving layout: write_postings_index partitions the
    postings by the md5 term bucket; bm25_serve computes the query
    terms' buckets on the driver and prunes the scan to them. The served
    result must equal bm25_score_postings over the FULL index row for
    row (pruning removes only rows the broadcast term join would drop),
    and the pruned scan must carry a partition filter on tb."""
    from transitlog_hfp_sink_spark.operators.search import (
        bm25_serve,
        search_tokens,
        term_bucket,
        term_bucket_py,
        write_postings_index,
    )
    from transitlog_hfp_sink_spark.plans.inspect import explain_str

    postings, doclens = build_postings(corpus)
    path = str(tmp_path / "idx")
    write_postings_index(postings, doclens, path, n_buckets=16)

    queries = [(1, "apple banana"), (2, "cherry date missingterm")]
    served_df = bm25_serve(spark, path, queries, topk=5)
    served = sorted(tuple(r) for r in served_df.collect())

    qdf = spark.createDataFrame(queries, "query_id int, qtext string")
    qt = qdf.select(
        "query_id",
        F.explode(F.array_distinct(search_tokens("qtext"))).alias("term"),
    )
    full = sorted(
        tuple(r)
        for r in bm25_score_postings(
            spark.read.parquet(f"{path}/postings").drop("tb"),
            spark.read.parquet(f"{path}/doclens"),
            qt, topk=5,
        ).collect()
    )
    assert served == full and served  # identical AND non-trivial

    plan = explain_str(served_df, "formatted")
    assert "PartitionFilters" in plan and "tb" in plan

    # the Spark and Python bucket laws agree term-for-term
    terms = ["apple", "banana", "cherry", "date", "missingterm", "x1"]
    sdf = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {
        r["term"]: r["b"]
        for r in sdf.select("term", term_bucket("term", 16).alias("b")).collect()
    }
    assert got == {t: term_bucket_py(t, 16) for t in terms}


def test_bm25_serve_scans_only_matched_buckets(spark, corpus, tmp_path):
    """Count the actual files a pruned serve reads: with one-term
    queries, only that term's tb=K directory may appear in the scan's
    input files (the whole point of the layout)."""
    from transitlog_hfp_sink_spark.operators.search import (
        bm25_serve,
        term_bucket_py,
        write_postings_index,
    )

    postings, doclens = build_postings(corpus)
    path = str(tmp_path / "idx2")
    write_postings_index(postings, doclens, path, n_buckets=16)
    # the serve result itself stays correct for the single-term query
    served = {
        r["doc_id"]
        for r in bm25_serve(spark, path, [(1, "elderberry")], topk=5).collect()
    }
    assert served == {4}
    # replicate the pruned scan bm25_serve builds and enumerate its files
    # (input_file_name() cannot run on the multi-source joined plan)
    bucket = term_bucket_py("elderberry", 16)
    pruned = spark.read.parquet(f"{path}/postings").where(
        F.col("tb").isin([bucket])
    )
    files = [r[0] for r in pruned.select(F.input_file_name()).distinct().collect()]
    assert files, "no postings files in the pruned scan"
    assert all(f"tb={bucket}/" in f for f in files), files
    # and the unpruned index genuinely holds more buckets than the scan read
    all_buckets = {
        r["tb"]
        for r in spark.read.parquet(f"{path}/postings").select("tb").distinct().collect()
    }
    assert len(all_buckets) > 1


def test_bm25_serve_manifest_lists_only_matched_dirs(spark, corpus, tmp_path):
    """Round 9 (VERDICT r8 #4): the build-time bucket manifest lets
    bm25_serve construct the matched tb=K/ paths DIRECTLY, so partition
    discovery never lists the unmatched bucket directories. Pinned by
    the scan's file-index location naming the bucket path (a root read
    would name the layout root), plus result equality with the full
    index which the older tests already pin."""
    from transitlog_hfp_sink_spark.operators.search import (
        bm25_serve,
        term_bucket_py,
        write_postings_index,
    )
    from transitlog_hfp_sink_spark.plans.inspect import explain_str

    postings, doclens = build_postings(corpus)
    path = str(tmp_path / "idx3")
    write_postings_index(postings, doclens, path, n_buckets=16)

    # meta carries the manifest and the postings schema
    meta = spark.read.json(f"{path}/meta").collect()[0]
    assert sorted(int(x) for x in meta["buckets"]) == sorted(
        r["tb"]
        for r in spark.read.parquet(f"{path}/postings")
        .select("tb").distinct().collect()
    )
    assert "term" in meta["postings_schema"]

    bucket = term_bucket_py("elderberry", 16)
    plan = explain_str(
        bm25_serve(spark, path, [(1, "elderberry")], topk=5), "formatted"
    )
    assert f"tb={bucket}" in plan, plan  # direct bucket path in the scan


def test_bm25_serve_empty_bucket_intersection(spark, corpus, tmp_path):
    """A query whose terms hash only into buckets with NO directory must
    serve an EMPTY result (nothing can match) without touching storage
    or raising on a nonexistent path."""
    from transitlog_hfp_sink_spark.operators.search import (
        bm25_serve,
        term_bucket_py,
        write_postings_index,
    )

    postings, doclens = build_postings(corpus)
    path = str(tmp_path / "idx4")
    # 4096 buckets over a tiny corpus: most buckets have no directory
    write_postings_index(postings, doclens, path, n_buckets=4096)
    present = {
        int(x)
        for x in spark.read.json(f"{path}/meta").collect()[0]["buckets"]
    }
    miss = next(
        t
        for t in (f"zz{i}q" for i in range(10_000))
        if term_bucket_py(t, 4096) not in present
    )
    out = bm25_serve(spark, path, [(1, miss)], topk=5)
    assert out.columns == ["query_id", "doc_id", "score", "rank"]
    assert out.count() == 0


def test_bm25_serve_pre_manifest_layout_falls_back(spark, corpus, tmp_path):
    """Indexes written before round 9 have no manifest in meta: the
    serve must fall back to the root read + IN prune and still match."""
    from transitlog_hfp_sink_spark.operators.search import (
        bm25_serve,
        write_postings_index,
    )

    postings, doclens = build_postings(corpus)
    path = str(tmp_path / "idx5")
    write_postings_index(postings, doclens, path, n_buckets=16)
    with_manifest = sorted(
        tuple(r)
        for r in bm25_serve(spark, path, [(1, "apple banana")], topk=5).collect()
    )
    # rewrite meta in the round-8 shape (no buckets / postings_schema)
    meta = spark.read.json(f"{path}/meta").collect()[0]
    spark.createDataFrame(
        [(int(meta["n_buckets"]), int(meta["n_docs"]), float(meta["avgdl"]))],
        "n_buckets int, n_docs bigint, avgdl double",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")
    legacy = sorted(
        tuple(r)
        for r in bm25_serve(spark, path, [(1, "apple banana")], topk=5).collect()
    )
    assert legacy == with_manifest and legacy


def test_bm25_serve_pre_manifest_empty_intersection(spark, corpus, tmp_path):
    """ADVICE r10: the empty-intersection branch read
    meta["postings_schema"], a field legacy (pre-round-9) metas lack —
    a miss-all-buckets or token-less query against such a layout raised
    ValueError instead of serving the documented empty result. Both
    shapes must return a typed empty frame."""
    from transitlog_hfp_sink_spark.operators.search import (
        bm25_serve,
        term_bucket_py,
        write_postings_index,
    )

    postings, doclens = build_postings(corpus)
    path = str(tmp_path / "idx5b")
    write_postings_index(postings, doclens, path, n_buckets=4096)
    meta = spark.read.json(f"{path}/meta").collect()[0]
    present = {int(x) for x in meta["buckets"]}
    # rewrite meta in the round-8 shape (no buckets / postings_schema)
    spark.createDataFrame(
        [(int(meta["n_buckets"]), int(meta["n_docs"]), float(meta["avgdl"]))],
        "n_buckets int, n_docs bigint, avgdl double",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")
    miss = next(
        t
        for t in (f"zz{i}q" for i in range(10_000))
        if term_bucket_py(t, 4096) not in present
    )
    for qtext in (miss, "!!! ???"):  # miss-all-buckets and token-less
        out = bm25_serve(spark, path, [(1, qtext)], topk=5)
        assert out.columns == ["query_id", "doc_id", "score", "rank"]
        assert out.count() == 0


def test_search_tokens_py_matches_spark_tokenizer(spark):
    """The serving-side bucket pruner depends on search_tokens_py being
    bit-identical to the Spark search_tokens expression — pinned here on
    punctuation, casing, unicode, digits, and whitespace shapes."""
    from transitlog_hfp_sink_spark.operators.search import (
        search_tokens,
        search_tokens_py,
    )

    texts = [
        "Hello, World!", "  a  b\tc ", "", "UPPER lower 123", "x—y–z",
        "tab\there", "dots...and, commas", "ümlaut Ünicode", "a" * 50,
        "mixed 42numbers7 ok",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [list(r["t"]) for r in df.select(search_tokens("text").alias("t")).collect()]
    assert got == [search_tokens_py(t) for t in texts]


def test_update_postings_refreshes_serving_manifest(spark, corpus, tmp_path):
    """Round 10 (VERDICT r9 #8): the incremental index path (what `app
    build-index --kind postings --update-from` runs: stored postings →
    update_postings → write_postings_index) must REFRESH the bucket
    manifest — a batch introducing terms that hash to buckets the old
    layout never wrote must land in the new meta, and bm25_serve must
    find the new documents through the manifest-pruned path."""
    from pyspark.sql import functions as F  # noqa: F401

    from transitlog_hfp_sink_spark.operators.search import (
        bm25_serve,
        build_postings,
        term_bucket_py,
        update_postings,
        write_postings_index,
    )

    old = str(tmp_path / "idx_old")
    postings, doclens = build_postings(corpus)
    write_postings_index(postings, doclens, old, n_buckets=16)
    old_meta = spark.read.json(f"{old}/meta").collect()[0]
    old_buckets = set(int(x) for x in old_meta["buckets"])

    # a term whose bucket the old layout does NOT have
    new_term = next(
        f"zq{i}xv" for i in range(1000)
        if term_bucket_py(f"zq{i}xv", 16) not in old_buckets
    )
    batch = spark.createDataFrame(
        [(9001, f"{new_term} arrives with the update batch")],
        "doc_id long, text string",
    )
    stored_p = spark.read.parquet(f"{old}/postings").drop("tb")
    stored_d = spark.read.parquet(f"{old}/doclens")
    merged_p, merged_d = update_postings(stored_p, stored_d, batch)
    new = str(tmp_path / "idx_new")
    write_postings_index(merged_p, merged_d, new, n_buckets=16)

    new_meta = spark.read.json(f"{new}/meta").collect()[0]
    new_buckets = set(int(x) for x in new_meta["buckets"])
    assert term_bucket_py(new_term, 16) in new_buckets
    assert int(new_meta["n_docs"]) == int(old_meta["n_docs"]) + 1
    got = bm25_serve(spark, new, [(1, new_term)], topk=3).collect()
    assert [r["doc_id"] for r in got] == [9001]
