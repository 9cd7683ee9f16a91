"""operators/serving.py — the shared persisted-index serving contract.

The three index kinds (BM25 postings, IVF, IVF-PQ) exercise these
helpers end-to-end in their own tests; this file pins the helpers'
contracts directly so a change here fails fast and close to the cause.
"""

import pytest
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.fs import fs_read_json, fs_write_json
from transitlog_hfp_sink_spark.operators.serving import (
    INDEX_EPOCH_FILE,
    SERVING_META_VERSION,
    check_index_epoch,
    list_partition_keys,
    pruned_partition_read,
    read_epoch_marker,
    validate_meta,
    write_epoch_marker,
)


def test_fs_json_roundtrip_plain_and_scheme_qualified(spark, tmp_path):
    """Meta IO via the Hadoop FS API must round-trip nested JSON on both
    a bare POSIX path and a scheme-qualified URI (the object-store
    seam VERDICT r9 #1 named: builtin open() treated 'file://…' as a
    literal name)."""
    meta = {
        "n_lists": 8,
        "vec_col": "embedding",
        "centroids": [[1.5, -2.25], [0.0, 3.125]],
        "codebooks": [[[0.5], [1.5]], [[-0.25], [2.0]]],
        "lists": [0, 1, 5],
    }
    for path in (str(tmp_path / "meta_a.json"), f"file://{tmp_path}/meta_b.json"):
        fs_write_json(spark, path, meta)
        assert fs_read_json(spark, path) == meta
    # overwrite semantics: a second write replaces, not appends
    fs_write_json(spark, str(tmp_path / "meta_a.json"), {"v": 2})
    assert fs_read_json(spark, str(tmp_path / "meta_a.json")) == {"v": 2}


@pytest.fixture()
def layout(spark, tmp_path):
    root = str(tmp_path / "data")
    (
        spark.range(100)
        .select(
            F.col("id"),
            F.pmod(F.col("id"), F.lit(4)).cast("int").alias("pk"),
        )
        .where(F.col("pk") != 2)  # key 2 intentionally absent
        .write.partitionBy("pk")
        .parquet(root)
    )
    return root


def test_list_partition_keys_one_listing(spark, layout):
    assert list_partition_keys(spark, layout, "pk") == [0, 1, 3]


def test_pruned_partition_read_contract(spark, layout):
    """Manifest intersect + direct paths; None on empty intersection;
    manifest=None falls back to one root listing — the uniform fallback
    all three index kinds now share. The fallback read names only the
    matched pk=K directories in the plan (the probed-path contract)."""
    import re

    from transitlog_hfp_sink_spark.plans.inspect import explain_str

    def named(df):
        # the Location line is length-truncated by
        # spark.sql.maxMetadataStringLength, so the named set is
        # asserted nonempty and a subset (the ivf/ivfpq test idiom)
        return {int(m) for m in re.findall(r"pk=(\d+)", explain_str(df, "formatted"))}

    manifest = [0, 1, 3]
    df = pruned_partition_read(spark, layout, "pk", [1, 2], manifest)
    assert sorted(r["pk"] for r in df.select("pk").distinct().collect()) == [1]
    assert df.count() == 25
    # probed keys entirely outside the manifest: no storage touched
    assert pruned_partition_read(spark, layout, "pk", [2, 7], manifest) is None
    assert pruned_partition_read(spark, layout, "pk", [], manifest) is None
    # pre-manifest fallback: one listing reconstructs the manifest
    df2 = pruned_partition_read(spark, layout, "pk", [0, 2, 3], None)
    assert sorted(
        r["pk"] for r in df2.select("pk").distinct().collect()
    ) == [0, 3]
    got = named(df2)
    assert got and got <= {0, 3}, got


def test_pruned_read_discovery_modes(spark, layout):
    """Probed paths are the one discovery mode: the manifest read is
    row-identical to a root read pruned by the partition filter, its
    plan names only the probed pk=K directories, and the former
    root-read knob is no longer accepted (SCALING.md ivfpqserve11
    measured the root read slower or tied at every list count)."""
    import re

    from transitlog_hfp_sink_spark.plans.inspect import explain_str

    manifest = [0, 1, 3]
    df03 = pruned_partition_read(spark, layout, "pk", [0, 3], manifest)
    assert {tuple(r) for r in df03.collect()} == {
        tuple(r)
        for r in spark.read.parquet(layout).where(F.col("pk").isin(0, 3))
        .select("id", "pk").collect()
    }
    # the Location line is length-truncated by
    # spark.sql.maxMetadataStringLength: nonempty and a subset
    named = {
        int(m) for m in re.findall(r"pk=(\d+)", explain_str(df03, "formatted"))
    }
    assert named and named <= {0, 3}, named
    with pytest.raises(TypeError, match="discovery"):
        pruned_partition_read(
            spark, layout, "pk", [0], manifest, discovery="root"
        )


def test_fs_write_json_atomic_leaves_no_temp(spark, tmp_path):
    """Round 11 (VERDICT r10 #1): the meta publish stages to
    <path>.__tmp__ and renames — after a successful write the temp file
    must be gone and the final content complete, including on an
    overwrite of an existing document."""
    import os

    path = str(tmp_path / "meta.json")
    fs_write_json(spark, path, {"v": 1, "big": list(range(1000))})
    assert not os.path.exists(path + ".__tmp__")
    assert fs_read_json(spark, path)["v"] == 1
    fs_write_json(spark, path, {"v": 2})
    assert not os.path.exists(path + ".__tmp__")
    assert fs_read_json(spark, path) == {"v": 2}


def test_epoch_marker_roundtrip_and_overwrite_clears_it(spark, tmp_path):
    """The marker round-trips; a data overwrite clears it (the property
    the crash detection relies on); a missing marker reads as None."""
    root = str(tmp_path / "d")
    spark.range(10).write.parquet(root)
    assert read_epoch_marker(spark, root) is None  # pre-round-11 layout
    e1 = write_epoch_marker(spark, root)
    assert read_epoch_marker(spark, root) == e1
    # marker is underscore-prefixed: the data read must not see it
    assert spark.read.parquet(root).count() == 10
    spark.range(5).write.mode("overwrite").parquet(root)
    assert read_epoch_marker(spark, root) is None  # overwrite cleared it
    e2 = write_epoch_marker(spark, root)
    assert e2 != e1 and read_epoch_marker(spark, root) == e2


def test_check_index_epoch_contract(spark, tmp_path):
    """None (legacy meta) skips; match passes; mismatch and
    missing-marker fail loud with the crashed-publish message."""
    root = str(tmp_path / "d2")
    spark.range(3).write.parquet(root)
    check_index_epoch(spark, None, root, "t")  # legacy: no-op
    epoch = write_epoch_marker(spark, root)
    check_index_epoch(spark, epoch, root, "t")  # consistent: no-op
    with pytest.raises(RuntimeError, match="crashed between"):
        check_index_epoch(spark, "deadbeef", root, "t")
    spark.range(3).write.mode("overwrite").parquet(root)  # marker gone
    with pytest.raises(RuntimeError, match="crashed between"):
        check_index_epoch(spark, epoch, root, "t")


def test_validate_meta_version_gate():
    """Round 11 (VERDICT r10 #6): legacy v0 accepted; v1 missing a
    required field fails naming it; a future version fails loud."""
    validate_meta({"centroids": [[1.0]]}, "ivf", ("centroids", "epoch"))  # v0
    good = {"format_version": SERVING_META_VERSION, "centroids": [[1.0]],
            "epoch": "e"}
    validate_meta(good, "ivf", ("centroids", "epoch"))
    with pytest.raises(ValueError, match="missing required.*epoch"):
        validate_meta(
            {"format_version": 1, "centroids": [[1.0]]},
            "ivf", ("centroids", "epoch"),
        )
    with pytest.raises(ValueError, match="newer than this engine"):
        validate_meta(
            {"format_version": SERVING_META_VERSION + 1}, "ivf", ()
        )


def test_pruned_read_stale_manifest_fails_loud(spark, layout):
    """Round 11 (VERDICT r10 #1): a STORED manifest naming a probed
    directory the layout lacks is the crashed-publish signature — the
    read must fail loud naming the directory, not surface an opaque
    Spark path error. Missing keys that are NOT probed stay free (no
    listing of unprobed directories), and the manifest=None fallback
    never pays the exists() probes (its keys come from the layout)."""
    stale = [0, 1, 2, 3]  # pk=2 does not exist in the layout
    with pytest.raises(RuntimeError, match=r"pk=2.*crashed between"):
        pruned_partition_read(spark, layout, "pk", [2, 3], stale)
    # probed keys that all exist: served normally despite the stale entry
    df = pruned_partition_read(spark, layout, "pk", [0, 3], stale)
    assert sorted(r["pk"] for r in df.select("pk").distinct().collect()) == [0, 3]


def _emb(spark, sf_dir):
    from transitlog_hfp_sink_spark.sources.files import read_table

    return read_table(spark, sf_dir, "embeddings")


def test_ivfpq_kill_between_data_and_meta_serves_loud(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The directive's done-condition (VERDICT r10 #1), library path: a
    re-publish killed (a) before the marker write and (b) between the
    marker and the meta publish must leave a layout that SERVES LOUD —
    never silently mixes new codes with the stale meta."""
    from transitlog_hfp_sink_spark import fs
    from transitlog_hfp_sink_spark.operators import serving
    from transitlog_hfp_sink_spark.operators.similarity import (
        ivfpq_serve,
        write_ivfpq_index,
    )

    emb = _emb(spark, sf_dir)
    out = str(tmp_path / "pq")
    write_ivfpq_index(emb, out, n_lists=8, m=4, k=16)
    queries = emb.limit(2).selectExpr("vec_id as query_id", "embedding")
    assert ivfpq_serve(spark, out, queries, k=3, nprobe=2).count() > 0

    # (a) kill BEFORE the marker: data overwritten (marker cleared by
    # the overwrite), meta still the old epoch
    def boom(*a, **k):
        raise RuntimeError("killed before marker")

    monkeypatch.setattr(serving, "write_epoch_marker", boom)
    with pytest.raises(RuntimeError, match="killed before marker"):
        write_ivfpq_index(emb.limit(50), out, n_lists=8, m=4, k=16)
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="crashed between"):
        ivfpq_serve(spark, out, queries, k=3, nprobe=2).count()

    # repair: a completed publish serves again
    write_ivfpq_index(emb, out, n_lists=8, m=4, k=16)
    assert ivfpq_serve(spark, out, queries, k=3, nprobe=2).count() > 0

    # (b) kill BETWEEN marker and meta: marker carries the new epoch,
    # meta still the old one
    real_write = fs.fs_write_json

    def meta_boom(spark_, path, obj):
        if path.endswith(INDEX_EPOCH_FILE):
            return real_write(spark_, path, obj)
        raise RuntimeError("killed before meta")

    monkeypatch.setattr(fs, "fs_write_json", meta_boom)
    with pytest.raises(RuntimeError, match="killed before meta"):
        write_ivfpq_index(emb.limit(50), out, n_lists=8, m=4, k=16)
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="crashed between"):
        ivfpq_serve(spark, out, queries, k=3, nprobe=2).count()


def test_bm25_kill_between_data_and_meta_serves_loud(
    spark, tmp_path, monkeypatch
):
    """Same done-condition for the postings kind: a re-publish killed
    after the data write must make bm25_serve and an incremental update
    from it fail loud, and a completed publish must serve again."""
    from transitlog_hfp_sink_spark.operators import serving
    from transitlog_hfp_sink_spark.operators.search import (
        bm25_serve,
        build_postings,
        update_postings_index,
        write_postings_index,
    )

    docs = spark.createDataFrame(
        [(i, f"apple banana doc{i}") for i in range(20)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "bm")
    postings, doclens = build_postings(docs)
    write_postings_index(postings, doclens, out, n_buckets=16)
    assert bm25_serve(spark, out, [(1, "apple")], topk=3).count() > 0

    def boom(*a, **k):
        raise RuntimeError("killed before marker")

    monkeypatch.setattr(serving, "write_epoch_marker", boom)
    with pytest.raises(RuntimeError, match="killed before marker"):
        write_postings_index(postings, doclens, out, n_buckets=16)
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="crashed between"):
        bm25_serve(spark, out, [(1, "apple")], topk=3).count()
    # an incremental update runs the same gate on its source
    with pytest.raises(RuntimeError, match="crashed between"):
        update_postings_index(docs.limit(2), out, str(tmp_path / "bm2"))
    assert not (tmp_path / "bm2").exists()

    write_postings_index(postings, doclens, out, n_buckets=16)
    assert bm25_serve(spark, out, [(1, "apple")], topk=3).count() > 0


def test_ivf_stale_meta_over_new_data_serves_loud(spark, sf_dir, tmp_path):
    """IVF kind: publish with write_ivf_index, then overwrite the
    assignment data as a crashed re-publish would (marker cleared, meta
    stale) — ivf_serve must fail loud; a meta with a future
    format_version must also fail loud (VERDICT r10 #6)."""
    from transitlog_hfp_sink_spark.operators.similarity import (
        ivf_centroids,
        ivf_serve,
        write_ivf_index,
    )

    emb = _emb(spark, sf_dir)
    out = str(tmp_path / "ivf")
    write_ivf_index(
        emb, out, n_lists=8, centroids=ivf_centroids(emb, n_lists=8, max_iter=4)
    )
    meta = fs_read_json(spark, f"{out}/centroids.json")
    assert meta["format_version"] == SERVING_META_VERSION and meta["epoch"]
    queries = emb.limit(2).selectExpr("vec_id as query_id", "embedding")
    assert ivf_serve(spark, out, queries, k=3, nprobe=2).count() > 0

    # crashed re-publish: new data, old meta
    index = spark.read.parquet(f"{out}/ivf_assign")
    index.limit(100).write.mode("overwrite").partitionBy("list_id").parquet(
        f"{out}/ivf_assign"
    )
    with pytest.raises(RuntimeError, match="crashed between"):
        ivf_serve(spark, out, queries, k=3, nprobe=2).count()

    # future-version meta: refused before any data is touched
    fs_write_json(
        spark, f"{out}/centroids.json",
        {**meta, "format_version": SERVING_META_VERSION + 1},
    )
    with pytest.raises(ValueError, match="newer than this engine"):
        ivf_serve(spark, out, queries, k=3, nprobe=2)


def test_update_from_crashed_publish_fails_loud(
    spark, sf_dir, tmp_path, monkeypatch
):
    """An incremental update runs the serving read gate on its SOURCE
    before reading any data: re-publishing an ivfpq index with other
    quantizers and killing it before the meta leaves data whose codes
    the meta does not describe, and merging from it must fail loud —
    otherwise the merged index would mix codes from two quantizer sets
    under a fresh, valid-looking epoch. (The postings update takes the
    same gate: test_bm25_kill_between_data_and_meta_serves_loud.)"""
    from transitlog_hfp_sink_spark import fs
    from transitlog_hfp_sink_spark.operators.similarity import (
        update_ann_index,
        write_ivfpq_index,
    )

    emb = _emb(spark, sf_dir)
    src = str(tmp_path / "pq")
    write_ivfpq_index(emb, src, n_lists=8, m=4, k=16)
    batch = emb.limit(20).selectExpr("vec_id + 1000000 as vec_id", "embedding")
    real_write = fs.fs_write_json

    def meta_boom(spark_, path, obj):
        if path.endswith(INDEX_EPOCH_FILE):
            return real_write(spark_, path, obj)
        raise RuntimeError("killed before meta")

    monkeypatch.setattr(fs, "fs_write_json", meta_boom)
    with pytest.raises(RuntimeError, match="killed before meta"):
        write_ivfpq_index(emb, src, n_lists=8, m=4, k=16, seed=99)
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="crashed between"):
        update_ann_index("ivfpq", batch, src, str(tmp_path / "pq2"))
    assert not (tmp_path / "pq2").exists()
