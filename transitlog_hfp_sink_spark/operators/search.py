"""Full-text search for training-data pipelines: inverted index + BM25.

A curation stack needs keyword retrieval over the corpus (targeted
quality audits, topic mining, eval-set construction). The reference
(HSLdevcom/transitlog-hfp-sink) has no text search — this is a SURVEY
§2.6 north-star operator, built Spark-first:

- the inverted index is a plain DataFrame of postings
  ``(term, doc_id, tf)`` — one explode + one hash-agg, storable as a
  parquet/bucketed table keyed on ``term`` for reuse;
- scoring never goes near Python: the whole plan is built-in
  expressions inside whole-stage codegen;
- the query side is tiny and BROADCAST, so the corpus-sized legs are
  map-side joins — the only wide operations are the two hash-aggs
  (postings build, per-(query,doc) score sum), both with map-side
  partial combine.

Scale shape at 100 TB: build the postings/doclen tables ONCE
(build_postings), persist them bucketed by term, and serve queries with
bm25_score_postings — each query then touches only the matched terms'
postings (predicate-pushdown on the broadcast semi-join), never the raw
text.

Cross-engine determinism (DuckDB oracle): per-(term,doc) BM25 partials
are computed in DOUBLE (identical inputs on both engines), cast to
DECIMAL(20,8), and SUMMED AS DECIMAL — exact and order-independent, so
ranking ties cannot flip between engines; final score is rounded for
display and ranking tie-breaks on doc_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from transitlog_hfp_sink_spark.operators.dedup import (
    fixup_words as _fixup_words,
    normalized_words,
    raw_words as _raw_words,
)
from transitlog_hfp_sink_spark.functions.localrel import values_df
from transitlog_hfp_sink_spark.functions.units import dec_units, units_double

#: BM25 parameters (Robertson/Sparck Jones defaults, Lucene-compatible)
K1 = 1.2
B = 0.75

#: Reciprocal-rank-fusion constant (Cormack/Clarke/Buettcher 2009's k=60)
RRF_K = 60


def search_tokens(col: Column | str) -> Column:
    """Lowercased word tokens of the normalized text (the indexing unit).
    Shares dedup's tokenizer law (round 11: the single-split fast form,
    value-identical to split(normalize_text(c), " ")) so search and
    dedup agree on vocabulary."""
    return normalized_words(col)


def build_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """The inverted index: (postings, doclens).

    postings: one row per (term, doc_id) with the term frequency — the
    exploded-and-aggregated form every search engine's index reduces to.
    doclens:  (doc_id, dl) — document length in tokens.

    One pass over the text, one shuffle (hash-agg on (term, doc_id) with
    map-side combine). At 100 TB persist both, bucketed by term / doc_id,
    and this build cost is paid once, not per query.
    """
    # staged raw-split -> fixup (round 11): the when-fixup would
    # re-evaluate the split in its else-branch if inlined in one
    # projection (see dedup.raw_words)
    toks = docs.select(
        F.col(id_col).alias("doc_id"), _raw_words(text_col).alias("__w0")
    ).select("doc_id", _fixup_words(F.col("__w0")).alias("__toks"))
    # explode_OUTER + null filter: the non-outer explode makes
    # InferFiltersFromGenerate clone the regex tokenizer into a size()>0
    # filter pushed below the widening exchange (single-task re-tokenize
    # of the whole corpus — see operators/spans.py doc_windows)
    exploded = toks.select(
        "doc_id", F.size("__toks").alias("dl"), F.explode_outer("__toks").alias("term")
    ).where(F.col("term").isNotNull())
    postings = exploded.groupBy("term", "doc_id").agg(
        F.count("*").alias("tf"), F.first("dl").alias("dl")
    )
    # derive doclens FROM the postings aggregation, not a second tokenize
    # scan: both consumers then share the same exchange, so Spark's
    # ReusedExchange runs the expensive normalize+explode+agg exactly once
    # per query (and a persisted postings table serves both at scale).
    doclens = postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    return postings, doclens


def _idf(n_docs: Column, df: Column) -> Column:
    """Lucene-style BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)); always
    positive, so stopword-ish terms degrade gracefully instead of
    flipping sign."""
    return F.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def bm25_score_postings(
    postings: DataFrame,
    doclens: DataFrame,
    query_terms: DataFrame,
    k1: float = K1,
    b: float = B,
    topk: int = 10,
    corpus_stats: tuple[int, float] | None = None,
) -> DataFrame:
    """Score queries against a prebuilt postings index; top-k per query.

    query_terms: (query_id int, term string) — small, broadcast.
    Returns (query_id, doc_id, score double, rank int).

    Plan shape: postings ⋈ broadcast(query_terms) is map-side, so only
    matched-term postings flow further; df(term) is counted over that
    filtered leg (identical to corpus df for those terms); N/avgdl is a
    1-row aggregate broadcast-cross-joined in (the allowed scalar
    pattern). The only shuffle sized by the corpus is the postings
    build itself.

    corpus_stats=(n_docs, avgdl) skips the doclens scan entirely — the
    two values are index-wide CONSTANTS a serving layout computes once
    at build time (write_postings_index stores them in meta; avgdl is
    deterministic: integer dl sums are exact in double at any partial
    order). With them, a pruned serve touches nothing sized by the
    corpus (round 8; equivalence pinned in tests/test_search.py).
    """
    if corpus_stats is not None:
        n_docs, avgdl = corpus_stats
        stats = postings.sparkSession.range(1).select(
            F.lit(int(n_docs)).alias("n_docs"), F.lit(float(avgdl)).alias("avgdl")
        )
    else:
        stats = doclens.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        )
    matched = postings.join(F.broadcast(query_terms), on="term")
    dfreq = matched.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df")
    )
    scored = (
        matched.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__s",
            (
                _idf(F.col("n_docs"), F.col("df"))
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).cast("decimal(20,8)"),
        )
    )
    # decimal(20,8) HALF_UP per row is the value law (unchanged); the
    # per-(query,doc) SUM runs in exact bigint units of 1e-8
    # (functions/units.py, round 12): per-row score < ~100 => < 1e10
    # units, group sums far below 2^63, ANSI-loud on overflow. The
    # ranking window orders by the units sum — the decimal sum scaled by
    # a positive constant, so the order and ties are identical — and the
    # exact decimal reconversion + the same single double rounding
    # happens only on the <= topk surviving rows per query.
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum(dec_units(F.col("__s"), 8)).alias("__score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("doc_id").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            "query_id",
            "doc_id",
            F.round(units_double(F.col("__score"), 8), 4).alias("score"),
            "rank",
        )
    )


def bm25_search(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    topk: int = 10,
) -> DataFrame:
    """End-to-end BM25: tokenize + score in one plan, WITHOUT building the
    full corpus index. The broadcast query-term join lands BEFORE any
    aggregation, so the corpus-wide (term, doc_id) agg never happens —
    only matched-term token rows are aggregated (tiny). Two map-only
    tokenize scans (stats leg + match leg) are the whole corpus cost;
    measured ~3x faster than index-then-score for ad-hoc queries, and the
    same filter-first shape is what saves the day at 100 TB. For repeated
    querying, build_postings once and serve via bm25_score_postings.

    queries: [(query_id, query_text)]. Query text goes through the same
    normalize/tokenize as the corpus."""
    spark = SparkSession.getActiveSession()
    qdf = values_df(spark, queries, "query_id int, qtext string")
    query_terms = qdf.select(
        "query_id", F.explode(F.array_distinct(search_tokens("qtext"))).alias("term")
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"), _raw_words(text_col).alias("__w0")
    ).select("doc_id", _fixup_words(F.col("__w0")).alias("__toks"))
    stats = toks.select("doc_id", F.size("__toks").alias("dl")).agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # explode_OUTER + null filter: the non-outer explode makes
    # InferFiltersFromGenerate clone the regex tokenizer into a size()>0
    # filter pushed below the widening exchange (single-task re-tokenize
    # of the whole corpus — see operators/spans.py doc_windows)
    exploded = toks.select(
        "doc_id", F.size("__toks").alias("dl"), F.explode_outer("__toks").alias("term")
    ).where(F.col("term").isNotNull())
    matched = exploded.join(F.broadcast(query_terms), on="term")
    # tf per (query, term, doc): each (query,term) row replicates every
    # token occurrence exactly once, so count(*) is the plain tf
    tf = matched.groupBy("query_id", "term", "doc_id").agg(
        F.count("*").alias("tf"), F.first("dl").alias("dl")
    )
    # result-identity filter (tf = count(*) >= 1; dl = size(tokens), never
    # NULL here) that references BOTH aggregate outputs: without it the
    # dfreq branch prunes tf/dl out of its partial aggregate, the two
    # branches' exchanges stop being canonically equal, and the
    # tokenize+explode map side runs TWICE per execution (measured: the
    # two ~9-11 core-s stages in the round-11 profile). Pinning the
    # partial-aggregate column set makes ReuseExchange fire, so the
    # corpus-sized map work runs once (guide §2.4).
    #
    # localCheckpoint on top (round 11): the pin guarantees CANONICAL
    # equality, but AQE's runtime stage cache still materialized the tf
    # exchange twice when bm25_search is composed under a union
    # (hybrid retrieval: event-log profile showed two 32-task map
    # stages, 15.3 + 8.7 core-s, writing byte-identical 1.18 MB shuffle
    # output). One lazy checkpoint of the already-aggregated tf frame —
    # rows bounded by matched-term postings, far below corpus size at
    # any scale — makes the sharing structural instead of
    # cache-dependent: measured 2.66 -> 2.31 s (hybrid) and
    # 1.96 -> 1.61 s (standalone) per fresh-plan bench run at sf0.1,
    # results hash-identical. Same lifecycle/failure stance as the
    # dedup shingle checkpoints (lazy, ContextCleaner-freed, job-level
    # retry on executor loss).
    tf = tf.where((F.col("tf") > 0) & F.col("dl").isNotNull()).localCheckpoint(
        eager=False
    )
    dfreq = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__s",
            (
                _idf(F.col("n_docs"), F.col("df"))
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).cast("decimal(20,8)"),
        )
    )
    # decimal(20,8) HALF_UP per row is the value law (unchanged); the
    # per-(query,doc) SUM runs in exact bigint units of 1e-8
    # (functions/units.py, round 12): per-row score < ~100 => < 1e10
    # units, group sums far below 2^63, ANSI-loud on overflow. The
    # ranking window orders by the units sum — the decimal sum scaled by
    # a positive constant, so the order and ties are identical — and the
    # exact decimal reconversion + the same single double rounding
    # happens only on the <= topk surviving rows per query.
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum(dec_units(F.col("__s"), 8)).alias("__score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("doc_id").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            "query_id",
            "doc_id",
            F.round(units_double(F.col("__score"), 8), 4).alias("score"),
            "rank",
        )
    )


def rrf_fuse(
    legs: list[DataFrame], k: int = RRF_K, topk: int = 10
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked retrieval legs — the standard
    way to combine sparse (BM25) and dense (embedding) retrieval into one
    hybrid ranking without score calibration:

        rrf(q, d) = sum over legs containing (q, d) of 1 / (k + rank)

    Each leg is a DataFrame with columns (query_id, doc_id, rank); legs
    are per-query top-N tables, so by the time fusion runs the data is
    tiny regardless of corpus size — the corpus-scale work already
    happened inside each retriever. The fusion itself is one union + one
    hash-agg + one per-query window over |queries| x topk x n_legs rows.

    Cross-engine determinism: each 1/(k+rank) term is an exact double
    (identical IEEE division on both engines) cast to DECIMAL(20,12) and
    summed as DECIMAL — order-independent, so the fused ranking cannot
    flip between engines; ties break on doc_id.
    """
    tagged = None
    for leg in legs:
        part = leg.select("query_id", "doc_id", "rank")
        tagged = part if tagged is None else tagged.unionByName(part)
    term = (F.lit(1.0) / (F.lit(float(k)) + F.col("rank").cast("double"))).cast(
        "decimal(20,12)"
    )
    fused = tagged.groupBy("query_id", "doc_id").agg(
        F.sum(term).alias("__rrf"), F.count("*").alias("n_legs")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("__rrf").cast("double"), 8).alias("rrf_score"),
            F.col("n_legs").cast("int").alias("n_legs"),
            "rank",
        )
    )


#: default term-hash partition count for the persisted serving index —
#: wide enough that one bucket holds ~0.4% of the postings, small enough
#: that the directory listing stays trivial
N_TERM_BUCKETS = 256


def term_bucket(col: Column | str, n_buckets: int = N_TERM_BUCKETS) -> Column:
    """Portable term -> bucket law: first 12 md5 hex chars as a 48-bit
    int, mod n_buckets. md5 exists identically in Spark, DuckDB, and
    Python's hashlib, so the index writer (Spark), the serving-side
    pruner (driver-computed literals, term_bucket_py), and any oracle
    agree on the same buckets."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(
        F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("bigint"),
        F.lit(n_buckets),
    ).cast("int")


def term_bucket_py(term: str, n_buckets: int = N_TERM_BUCKETS) -> int:
    """Python twin of term_bucket — used to compute the pruning literals
    on the driver (query terms are small and local by definition)."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:12], 16) % n_buckets


def search_tokens_py(text: str) -> list[str]:
    """Python twin of search_tokens (normalize_text + split) — ONE place
    for the tokenizer law the serving-side bucket pruner depends on: if
    this drifted from the Spark expression, bm25_serve would prune the
    wrong buckets and silently drop matching documents. Pinned against
    the Spark side in tests/test_search.py."""
    import re

    norm = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", text.lower())).strip()
    return norm.split(" ")


def write_postings_index(
    postings: DataFrame,
    doclens: DataFrame,
    path: str,
    n_buckets: int = N_TERM_BUCKETS,
) -> None:
    """Persist the SERVING layout: postings partitioned by the term-hash
    bucket (Hive ``tb=K/`` directories) plus plain doclens and a 1-row
    meta table recording n_buckets.

    Why partitioned, not just bucketed: bm25_score_postings joins the
    postings against a BROADCAST of the query terms, which filters rows
    only AFTER the scan — a plain parquet index is read in full for
    every query batch, so serving cost grows with the corpus even for
    rare terms (measured in the round-8 sf10 probe: see SCALING.md).
    With the term-bucket partition column, the server computes the
    query terms' buckets on the driver (term_bucket_py) and pushes an
    IN filter that prunes to the matched buckets — serving cost then
    tracks the queried terms' postings, not the corpus.

    Round 9 (VERDICT r8 #4): meta also records the MANIFEST — the list
    of bucket directories that actually exist — plus the postings schema
    DDL. The round-8 serve read the layout ROOT and let the IN filter
    prune, which still paid a full partition DISCOVERY (one directory
    listing per bucket — the residual r~2.3-2.8 growth the sf10 probe
    attributed to listing 2,560 directories per query); with the
    manifest, bm25_serve constructs the matched ``tb=K/`` paths directly
    and lists only those.
    """
    from transitlog_hfp_sink_spark.operators.serving import (
        SERVING_META_VERSION,
        publish_partitioned,
    )

    # the shared publish (operators/serving.py): data, then ONE listing
    # of the layout root for the manifest, then the epoch marker. The
    # doclens write follows the marker, so a crash before the meta
    # still leaves a marker the old meta does not name.
    buckets, epoch = publish_partitioned(
        postings.withColumn("tb", term_bucket(F.col("term"), n_buckets)),
        f"{path}/postings", "tb",
    )
    doclens.write.mode("overwrite").parquet(f"{path}/doclens")
    spark = postings.sparkSession
    # index-wide scalars captured at build time so serving never scans
    # doclens: n_docs and avgdl are constants of the index, and avgdl is
    # deterministic (integer dl sums are exact in double at any partial
    # order), so the stored value equals what the ad-hoc agg would
    # compute. Aggregated from the JUST-WRITTEN parquet, not the input
    # lineage — `doclens` is typically a lazy tokenize+agg over the raw
    # corpus, and re-running it here would be a third full corpus pass
    # (round-8 review); the written file is a tiny columnar scan.
    n_docs, avgdl = (
        spark.read.parquet(f"{path}/doclens").agg(F.count("*"), F.avg("dl"))
    ).collect()[0]
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in postings.schema.fields
    )
    spark.createDataFrame(
        [(
            n_buckets,
            int(n_docs),
            float(avgdl) if avgdl is not None else 0.0,
            buckets,
            schema_ddl,
            epoch,
            SERVING_META_VERSION,
        )],
        "n_buckets int, n_docs bigint, avgdl double, "
        "buckets array<int>, postings_schema string, "
        "epoch string, format_version int",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")


#: fields a current-version postings meta must carry (validate_meta)
POSTINGS_META_FIELDS = (
    "n_buckets", "n_docs", "avgdl", "buckets", "postings_schema", "epoch",
)


def _published_postings_meta(spark: SparkSession, path: str):
    """The meta row of a write_postings_index layout, past the shared
    read gate (serving.check_published) that serving and incremental
    updates both run before touching the postings."""
    from transitlog_hfp_sink_spark.operators.serving import check_published

    meta = spark.read.json(f"{path}/meta").collect()[0]
    check_published(
        spark, meta.asDict(), "bm25 postings", POSTINGS_META_FIELDS,
        f"{path}/postings",
    )
    return meta


def bm25_serve(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, str]],
    k1: float = K1,
    b: float = B,
    topk: int = 10,
) -> DataFrame:
    """Score queries against a write_postings_index layout with partition
    pruning: only the query terms' ``tb=K/`` directories are scanned.
    Result-identical to bm25_score_postings over the full index (df, N,
    avgdl are computed exactly as before — pruning removes only postings
    rows the broadcast term join would discard anyway); equivalence and
    the pruned-scan plan shape are pinned in tests/test_search.py.

    Round 9 (VERDICT r8 #4): when the meta row carries the build-time
    bucket MANIFEST, the matched ``tb=K/`` paths are constructed directly
    (one listing each) instead of reading the layout root — partition
    DISCOVERY no longer touches the n_buckets unmatched directories, so
    per-query cost tracks the matched buckets' files, full stop.
    Round 10 (VERDICT r9 #6): the read goes through the shared
    manifest-serve helper (operators/serving.py:pruned_partition_read —
    intersect + direct paths + None on empty), the same code path the
    IVF / IVF-PQ serving layouts use, so the pruned shape cannot drift
    between index kinds; a pre-round-9 layout (no manifest in meta)
    takes the helper's fallback — ONE root listing reconstructs it
    (previously a root read + IN filter; result-identical, and the
    fallback behavior is now uniform across all three index kinds).

    The meta passes the shared read gate first (serving.check_published):
    a meta this engine cannot read, a current-version meta missing
    fields, or a (data, meta) pair whose publish epochs disagree fails
    loud."""
    from transitlog_hfp_sink_spark.operators.serving import (
        pruned_partition_read,
    )

    meta = _published_postings_meta(spark, path)
    n_buckets = int(meta["n_buckets"])
    qdf = values_df(spark, queries, "query_id int, qtext string")
    query_terms = qdf.select(
        "query_id", F.explode(F.array_distinct(search_tokens("qtext"))).alias("term")
    )
    terms: set[str] = set()
    for _qid, qtext in queries:  # the shared tokenizer law (one place)
        terms.update(search_tokens_py(qtext))
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    manifest = (
        [int(x) for x in meta["buckets"]]
        if "buckets" in meta.__fields__ and meta["buckets"] is not None
        else None
    )
    pruned = pruned_partition_read(
        spark, f"{path}/postings", "tb", buckets, manifest
    )
    if pruned is None:
        # no query term hashes into any existing bucket: the matched
        # join is empty by construction — serve the empty index leg
        # without touching storage (the schema came from the build).
        # postings_schema arrived with the manifest (round 9); a legacy
        # meta lacks the field and Row access on it raises ValueError,
        # so that layout derives the schema from a zero-row root read
        # instead (ADVICE r10 — this branch is reachable pre-manifest
        # via the helper's root-listing fallback: terms hitting no
        # existing bucket, or a token-less query)
        if "postings_schema" in meta.__fields__ and meta["postings_schema"]:
            postings = spark.createDataFrame([], meta["postings_schema"])
        else:
            postings = (
                spark.read.parquet(f"{path}/postings")
                .where(F.lit(False))
                .drop("tb")
            )
    else:
        postings = pruned.drop("tb")
    return bm25_score_postings(
        postings, None, query_terms, k1, b, topk,
        corpus_stats=(int(meta["n_docs"]), float(meta["avgdl"])),
    )


def update_postings(
    postings: DataFrame,
    doclens: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Incremental index maintenance: merge a new/changed document batch
    into a persisted postings index WITHOUT re-tokenizing the historical
    corpus (the daily-ingest shape, same contract as
    dedup.incremental_minhash_pairs: incrementality changes cost, not
    semantics — the result row-set EQUALS build_postings over the merged
    corpus, asserted in tests/test_search.py).

    Updated documents are handled replace-wise: any old postings/doclen
    rows for ids present in the batch are anti-joined away (the batch id
    set is tiny and broadcast, so the scrub is a map-side filter over
    the stored index), then the batch's fresh postings union in. Cost:
    one index scan + one batch-sized build; the historical text is never
    touched.
    """
    new_postings, new_doclens = build_postings(new_docs, text_col, id_col)
    batch_ids = new_docs.select(F.col(id_col).alias("doc_id")).distinct()
    # using-column joins move the key first; restore the stored layout
    kept_postings = postings.join(
        F.broadcast(batch_ids), "doc_id", "left_anti"
    ).select(*postings.columns)
    kept_doclens = doclens.join(
        F.broadcast(batch_ids), "doc_id", "left_anti"
    ).select(*doclens.columns)
    return (
        kept_postings.unionByName(new_postings.select(*postings.columns)),
        kept_doclens.unionByName(new_doclens.select(*doclens.columns)),
    )


def update_postings_index(
    new_docs: DataFrame,
    source: str,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_TERM_BUCKETS,
) -> None:
    """Merge `new_docs` into the write_postings_index layout at `source`
    and publish the result at `path` (a NEW directory: deploy by pointer
    flip, so a crash mid-write never touches the live index). The source
    passes the shared read gate first — merging from a crashed publish
    would re-stamp its mixed rows under a fresh, valid-looking epoch.
    The stored postings carry the tb partition column; the merge works
    on the logical (term, doc_id, tf, dl) rows and re-buckets on write."""
    spark = new_docs.sparkSession
    _published_postings_meta(spark, source)
    postings, doclens = update_postings(
        spark.read.parquet(f"{source}/postings").drop("tb"),
        spark.read.parquet(f"{source}/doclens"),
        new_docs, text_col=text_col, id_col=id_col,
    )
    write_postings_index(postings, doclens, path, n_buckets=n_buckets)
