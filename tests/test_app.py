"""End-to-end application drive: the Main.java startup-path parity
(SURVEY §3.1) as a real subprocess — config, source, pipeline, sink,
bounded shutdown, exit codes."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_app_subprocess_end_to_end(spark, tmp_path):
    from hfp_fixtures import make_hfp_rows

    from transitlog_hfp_sink_spark.schema import HFP_RAW_SCHEMA
    from transitlog_hfp_sink_spark.sources.protowire import encode_hfp_wire

    drops = str(tmp_path / "drops")
    out = str(tmp_path / "vehicles")
    raw = spark.createDataFrame(make_hfp_rows(200), schema=HFP_RAW_SCHEMA)
    encode_hfp_wire(raw.coalesce(2)).write.parquet(drops)

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "transitlog_hfp_sink_spark.app",
            "--source", drops,
            "--source-format", "parquet",
            "--sink", f"parquet:{out}",
            "--checkpoint", str(tmp_path / "ckpt"),
            "--dead-letter", str(tmp_path / "dead"),
            "--trigger-s", "1",
            # generous CEILING for loaded hosts — drain detection exits
            # the bounded run a few batches after the input is consumed,
            # so the quiet-path duration is unchanged (round 6)
            "--max-runtime-s", "150",
        ],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = spark.read.parquet(out)
    assert got.count() > 0
    assert len(got.columns) == 40 + 2  # vehicles + partition cols
    # dead-letter populated for the invalid fixture rows
    dead = spark.read.parquet(str(tmp_path / "dead"))
    assert dead.count() > 0


def test_app_bad_sink_spec_exits_nonzero(tmp_path):
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "transitlog_hfp_sink_spark.app",
            "--source", str(tmp_path),
            "--sink", "bogus:what",
            "--max-runtime-s", "5",
        ],
        cwd=REPO,
        env=dict(os.environ, SPARK_GRAFT_CPUS="2"),
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode == 1  # Main.java:31-38: log + close + fail


@pytest.mark.slow
def test_app_maintenance_subcommands_end_to_end(spark, tmp_path):
    """VERDICT r3 #9: retention + compaction as app subcommands
    (TimescaleDB compress_chunks/drop_chunks background-job parity),
    driven as real subprocesses over a partitioned store."""
    import json

    from pyspark.sql import functions as F

    store = str(tmp_path / "store")
    df = spark.range(400).select(
        F.col("id"),
        F.concat(F.lit("2024-01-0"), ((F.col("id") % 3) + 1).cast("string")).alias(
            "received_date"
        ),
        (F.col("id") % 2).cast("string").alias("received_hour"),
    )
    # many small files per partition so compaction has work to do
    df.repartition(8).write.partitionBy("received_date", "received_hour").parquet(store)

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")

    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app",
         "compact", "--path", store, "--max-files", "2"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["job"] == "compact"
    assert report["partitions_compacted"] > 0
    assert spark.read.parquet(store).count() == 400

    # dry-run first: reports but deletes nothing
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app",
         "retention", "--path", store,
         "--cutoff", "received_date=2024-01-03", "--dry-run"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["dry_run"] is True and report["partitions_dropped"] > 0
    assert spark.read.parquet(store).count() == 400

    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app",
         "retention", "--path", store, "--cutoff", "received_date=2024-01-03"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["partitions_dropped"] > 0 and not report["failed"]
    kept = spark.read.parquet(store)
    assert kept.count() == kept.where(F.col("received_date") == "2024-01-03").count()
    assert kept.count() > 0


@pytest.mark.slow
def test_app_refresh_rollup_subcommand(spark, tmp_path):
    """refresh-rollup subcommand end-to-end: build a rollup store, damage
    it by doubling a partition's files, refresh the day via the CLI,
    verify convergence."""
    import glob
    import json
    import shutil

    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.sources.files import read_table
    from transitlog_hfp_sink_spark.streaming.rollup_sink import ContinuousRollupSink

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    base = f"{sf_dir}/events.parquet"
    ev = read_table(spark, sf_dir, "events")
    store = str(tmp_path / "rollup")
    sink = ContinuousRollupSink(
        spark=spark, path=store, ts_col="ts", value_col="value",
        dims=["event_type"],
    )
    sink(ev, 0)
    truth = sink.read().agg(F.sum("n")).first()[0]
    victim = sorted(glob.glob(store + "/bucket_date=*/bucket_hour=*"))[3]
    for f in glob.glob(victim + "/part-*.parquet"):
        shutil.copy(f, f.replace("part-", "dup-part-"))
    assert sink.read().agg(F.sum("n")).first()[0] > truth

    date = victim.split("bucket_date=")[1].split("/")[0]
    import datetime as dt

    nxt = (dt.date.fromisoformat(date) + dt.timedelta(days=1)).isoformat()
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app",
         "refresh-rollup", "--store", store, "--base", base,
         "--ts-col", "ts", "--value-col", "value", "--dims", "event_type",
         "--start", f"{date} 00:00:00", "--end", f"{nxt} 00:00:00"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["refreshed_buckets"] > 0
    assert sink.read().agg(F.sum("n")).first()[0] == truth


@pytest.mark.slow
def test_app_backfill_subcommand_idempotent(spark, tmp_path):
    """backfill subcommand: reprocess wire drops into an existing sink via
    natural-key MERGE — overlapping rows don't duplicate, new rows land,
    and re-running the same backfill is a no-op."""
    import json

    from pyspark.sql import functions as F

    from hfp_fixtures import make_hfp_rows

    from transitlog_hfp_sink_spark.schema import HFP_RAW_SCHEMA
    from transitlog_hfp_sink_spark.sinks.parquet import write_vehicles_parquet
    from transitlog_hfp_sink_spark.sources.protowire import encode_hfp_wire
    from transitlog_hfp_sink_spark.transform import hfp_split

    rows = make_hfp_rows(200)
    raw = spark.createDataFrame(rows, schema=HFP_RAW_SCHEMA)
    first, rest = raw.limit(120), raw.subtract(raw.limit(120))

    sink_path = str(tmp_path / "vehicles")
    valid_first, _ = hfp_split(first)
    write_vehicles_parquet(valid_first, sink_path, mode="overwrite")
    n_initial = spark.read.parquet(sink_path).count()

    # wire drops for the backfill: overlap (first) + the rest
    drops = str(tmp_path / "drops")
    encode_hfp_wire(raw.coalesce(2)).write.parquet(drops)
    valid_all, _ = hfp_split(raw)
    n_expected = valid_all.dropDuplicates(
        ["unique_vehicle_id", "tst", "event_type", "journey_type"]
    ).count()

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    cmd = [sys.executable, "-m", "transitlog_hfp_sink_spark.app",
           "backfill", "--source", drops, "--sink-path", sink_path,
           "--dead-letter", str(tmp_path / "dead")]
    for attempt in range(2):  # second run must be a no-op
        proc = subprocess.run(cmd, cwd=REPO, env=env, capture_output=True,
                              text=True, timeout=240)
        assert proc.returncode == 0, proc.stderr[-3000:]
        report = json.loads(proc.stdout.strip().splitlines()[-1])
        assert report["job"] == "backfill" and report["rows_upserted"] > 0
        got = spark.read.parquet(sink_path)
        assert got.count() == n_expected
        assert got.dropDuplicates(
            ["unique_vehicle_id", "tst", "event_type", "journey_type"]
        ).count() == n_expected
    assert n_expected >= n_initial


@pytest.mark.slow
def test_app_export_subcommand_both_formats(spark, tmp_path):
    """export subcommand: JSONL and WDS training exports driven as real
    subprocesses, each verified by reading the shards back."""
    import json

    from transitlog_hfp_sink_spark.operators.multimodal import synth_images
    from transitlog_hfp_sink_spark.sources.files import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").limit(40)
    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    out_j = str(tmp_path / "jsonl")
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app", "export",
         "--input", src, "--output", out_j, "--format", "jsonl",
         "--n-shards", "3"],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["format"] == "jsonl"
    assert spark.read.json(out_j).count() == 40

    media = synth_images(docs)
    msrc = str(tmp_path / "media")
    media.write.parquet(msrc)
    out_w = str(tmp_path / "wds")
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app", "export",
         "--input", msrc, "--output", out_w, "--format", "wds",
         "--n-shards", "3", "--id-col", "media_id",
         "--meta-cols", "media_type"],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["format"] == "wds" and report["n_items"] == 40

    from transitlog_hfp_sink_spark.sinks.wds import read_wds_shards

    back = read_wds_shards(spark, out_w)
    assert back.count() == 40
    src_bytes = {r["media_id"]: bytes(r["content"]) for r in media.collect()}
    for r in back.collect():
        assert bytes(r["data"]) == src_bytes[r["key"]]


@pytest.mark.slow
def test_app_build_index_subcommand(spark, tmp_path):
    """build-index subcommand: persisted BM25 postings (fresh +
    incremental update) and IVF-flat index built as real subprocesses;
    the persisted postings must score queries identically to the ad-hoc
    search over the raw corpus."""
    import json

    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.search import (
        bm25_score_postings,
        bm25_search,
        search_tokens,
    )
    from transitlog_hfp_sink_spark.sources.files import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").limit(300)
    head, tail = docs.limit(250), docs.subtract(docs.limit(250))
    src_head, src_all = str(tmp_path / "head"), str(tmp_path / "tail")
    head.write.parquet(src_head)
    tail.write.parquet(src_all)

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")

    idx1 = str(tmp_path / "idx1")
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app", "build-index",
         "--kind", "postings", "--input", src_head, "--output", idx1],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["docs"] == 250

    # incremental: merge the tail batch without re-tokenizing history
    idx2 = str(tmp_path / "idx2")
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app", "build-index",
         "--kind", "postings", "--input", src_all, "--output", idx2,
         "--update-from", idx1],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["docs"] == 300

    # the persisted index serves the same results as ad-hoc search
    queries = [(1, "data model"), (2, "stream processing")]
    qdf = spark.createDataFrame(queries, "query_id int, qtext string")
    qt = qdf.select(
        "query_id",
        F.explode(F.array_distinct(search_tokens("qtext"))).alias("term"),
    )
    served = bm25_score_postings(
        spark.read.parquet(f"{idx2}/postings"),
        spark.read.parquet(f"{idx2}/doclens"),
        qt, topk=5,
    ).collect()
    adhoc = bm25_search(docs, queries, topk=5).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(
        [(r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in served]
    ) == sorted(
        [(r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in adhoc]
    )

    # IVF: assignment partitions the corpus; centroids artifact loads
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    esrc = str(tmp_path / "emb")
    emb.write.parquet(esrc)
    ivf_out = str(tmp_path / "ivf")
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app", "build-index",
         "--kind", "ivf", "--input", esrc, "--output", ivf_out,
         "--n-lists", "8"],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    n_emb = emb.count()
    assert json.loads(proc.stdout.strip().splitlines()[-1])["vectors"] == n_emb
    index = spark.read.parquet(f"{ivf_out}/ivf_assign")
    assert index.count() == n_emb
    assert index.select("vec_id").distinct().count() == n_emb
    lists = {r["list_id"] for r in index.select("list_id").distinct().collect()}
    assert lists <= set(range(8)) and len(lists) > 1
    cents = json.load(open(f"{ivf_out}/centroids.json"))
    assert len(cents["centroids"]) == 8

    # incremental IVF append: new vectors (ids shifted past the corpus)
    # are assigned with the OLD index's trained centroids and upserted —
    # historical assignments survive byte-identically, centroids unchanged
    fresh = emb.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    fsrc = str(tmp_path / "emb_fresh")
    fresh.limit(40).write.parquet(fsrc)
    ivf2 = str(tmp_path / "ivf2")
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app", "build-index",
         "--kind", "ivf", "--input", fsrc, "--output", ivf2,
         "--update-from", ivf_out],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["vectors"] == n_emb + 40
    cents2 = json.load(open(f"{ivf2}/centroids.json"))
    # reused, not retrained — identical except the publish epoch, which
    # MUST be fresh (round 11: every publish stamps its own epoch so
    # serve can detect a crash between the data write and the meta)
    assert {k: v for k, v in cents2.items() if k != "epoch"} == {
        k: v for k, v in cents.items() if k != "epoch"
    }
    assert cents2["epoch"] != cents["epoch"]
    merged = spark.read.parquet(f"{ivf2}/ivf_assign")
    old_assign = {r["vec_id"]: r["list_id"] for r in index.collect()}
    new_assign = {r["vec_id"]: r["list_id"] for r in merged.collect()}
    assert len(new_assign) == n_emb + 40
    for vid, lid in old_assign.items():
        assert new_assign[vid] == lid  # history untouched

    # dimension guard: a batch whose vectors don't match the trained
    # centroid dim must fail LOUDLY before writing (a silent mismatch
    # would NULL every distance and dump all vectors into list 0)
    bsrc = str(tmp_path / "emb_badly_sized")
    fresh.limit(5).withColumn("embedding", F.slice("embedding", 1, 3)).write.parquet(bsrc)
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app", "build-index",
         "--kind", "ivf", "--input", bsrc, "--output", str(tmp_path / "ivf3"),
         "--update-from", ivf_out],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 1
    assert "dim mismatch" in proc.stderr
    assert not os.path.exists(str(tmp_path / "ivf3" / "centroids.json"))

    # --n-lists + --update-from is a config error (inherited list count)
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app", "build-index",
         "--kind", "ivf", "--input", fsrc, "--output", str(tmp_path / "ivf4"),
         "--update-from", ivf_out, "--n-lists", "32"],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 2  # argparse error, pre-session
    assert "cannot be combined" in proc.stderr


@pytest.mark.slow
def test_app_build_index_ivfpq_and_incremental(spark, tmp_path):
    """Round 9: `build-index --kind ivfpq` writes the composed serving
    layout (codes partitioned by list_id + quantizers/manifest meta);
    --update-from reuses the stored quantizers and upserts only the new
    batch. ivfpq_serve over the merged layout must equal ivfpq_topk over
    a single-shot encode of the full corpus with the SAME quantizers."""
    import json

    from pyspark.sql import functions as F

    from transitlog_hfp_sink_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_serve,
        ivfpq_topk,
    )
    from transitlog_hfp_sink_spark.sources.files import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    head = emb.where(F.col("vec_id") < 400)
    tail = emb.where(F.col("vec_id") >= 400)
    src_head, src_tail = str(tmp_path / "vh"), str(tmp_path / "vt")
    head.write.parquet(src_head)
    tail.write.parquet(src_tail)

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    idx1 = str(tmp_path / "pq1")
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app", "build-index",
         "--kind", "ivfpq", "--input", src_head, "--output", idx1],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["vectors"] == 400

    idx2 = str(tmp_path / "pq2")
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app", "build-index",
         "--kind", "ivfpq", "--input", src_tail, "--output", idx2,
         "--update-from", idx1],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["vectors"] == emb.count()

    with open(f"{idx2}/ivfpq_meta.json") as f:
        meta = json.load(f)
    cents, books = meta["centroids"], meta["codebooks"]
    queries = emb.where(F.col("vec_id").isin([3, 7])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = sorted(
        tuple(r) for r in ivfpq_serve(spark, idx2, queries, k=3, nprobe=4).collect()
    )
    single_shot = sorted(
        tuple(r)
        for r in ivfpq_topk(
            ivfpq_encode(emb, cents, books), queries, cents, books, k=3, nprobe=4
        ).collect()
    )
    assert served == single_shot and served


@pytest.mark.slow
def test_app_sql_subcommand_materialize_dedup(tmp_path):
    """Round 8 (VERDICT r7 #8): `app sql` exposes the catalog's psql-parity
    surface from the CLI, including --materialize-dedup and the view
    parameters; two statements in one process share the registration."""
    import json

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app", "sql",
         "--sf-dir", "/root/testdata/sf0.001", "--materialize-dedup",
         "--histogram-bounds", "2,22,10", "--max-rows", "5",
         "SELECT count(*) AS n FROM vehicles_dedup",
         "SELECT route_id, size(histogram) AS nb FROM vehicles_speed_histogram "
         "ORDER BY route_id LIMIT 2"],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [json.loads(x) for x in proc.stdout.strip().splitlines()
             if x.startswith("{")]
    assert lines[0]["n"] > 0
    # (2,22,10) bounds -> nbuckets+2 = 12-element histogram arrays
    assert all(r["nb"] == 12 for r in lines[1:])


def test_app_sql_bad_histogram_bounds_is_argparse_error():
    """A malformed --histogram-bounds value must produce the clean
    argparse usage error (returncode 2, named message) every other bad
    flag produces — not a raw unpacking traceback (round-8 review)."""
    for bad in ("0,30", "0;30;15", "a,b,c", "1,2,3,4"):
        proc = subprocess.run(
            [sys.executable, "-m", "transitlog_hfp_sink_spark.app", "sql",
             "--histogram-bounds", bad, "SELECT 1"],
            capture_output=True, text=True, timeout=120, cwd="/root/repo",
        )
        assert proc.returncode == 2, (bad, proc.stderr[-500:])
        assert "expected lo,hi,nbuckets" in proc.stderr, (bad, proc.stderr[-500:])


@pytest.mark.slow
def test_app_build_index_n_buckets_flag(spark, tmp_path):
    """--n-buckets (round-8 review: the production sizing rule needs a
    CLI knob) controls the postings partition count; the written layout
    must carry at most that many tb=K directories and serve correctly."""
    import os

    from transitlog_hfp_sink_spark.operators.search import bm25_serve
    from transitlog_hfp_sink_spark.sources.files import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out = str(tmp_path / "idx")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-m", "transitlog_hfp_sink_spark.app", "build-index",
         "--kind", "postings", "--input", src, "--output", out,
         "--n-buckets", "8"],
        capture_output=True, text=True, timeout=300, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    dirs = {d for d in os.listdir(f"{out}/postings") if d.startswith("tb=")}
    assert 1 < len(dirs) <= 8, dirs
    served = bm25_serve(spark, out, [(1, "the data")], topk=3).collect()
    assert isinstance(served, list)  # serve path reads the 8-bucket meta


def test_meta_id_col_resolution():
    """ADVICE r9: an incremental build-index update keys the upsert on
    the META-recorded id column; an explicit --id-col that conflicts
    with it fails loud up front (not as an AnalysisException in the
    anti-join), and pre-round-9 metas (no id_col field) fall back to
    the flag/default."""
    import pytest

    from transitlog_hfp_sink_spark.operators.similarity import _meta_id_col

    assert _meta_id_col({"id_col": "doc_id"}, None, "vec_id") == "doc_id"
    assert _meta_id_col({"id_col": "doc_id"}, "doc_id", "vec_id") == "doc_id"
    assert _meta_id_col({}, None, "vec_id") == "vec_id"  # pre-r9 meta
    assert _meta_id_col({}, "custom", "vec_id") == "custom"
    with pytest.raises(ValueError, match="id_col"):
        _meta_id_col({"id_col": "doc_id"}, "other_id", "vec_id")
