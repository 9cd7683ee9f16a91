"""The one Hadoop FileSystem seam of the package.

Every driver-side filesystem call — existence probes, listings, deletes
and the small JSON documents the stores keep beside their data — goes
through the FileSystem that the path's own scheme selects (file://,
hdfs://, s3a://, abfs://, gs://; fs.defaultFS when bare), the same API
Spark's committers use. Builtin ``open()`` and ``os.path`` only see the
driver's local disk: on a cluster store they miss existing tables and
fail on scheme-qualified URIs.

- hadoop_fs: the (FileSystem, Path) pair for a path;
- path_exists: the "does the table exist yet" probe of the
  read-modify-overwrite writers (sinks/merge.py, sinks/compact.py,
  sinks/retention.py, streaming/rollup_sink.py);
- fs_write_json / fs_read_json: one small JSON document, published
  atomically — the serving index metas (operators/serving.py) and the
  rollup sink's batch high-water mark.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path` under the session's Hadoop conf."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def path_exists(spark: SparkSession, path: str) -> bool:
    """True if `path` exists on the filesystem its scheme selects."""
    fs, p = hadoop_fs(spark, path)
    return bool(fs.exists(p))


def fs_write_json(spark: SparkSession, path: str, obj) -> None:
    """Write `obj` as one UTF-8 JSON document at `path` (overwrite).
    Single file, not a Spark job: the documents are a few KB and must
    stay readable as one file (`centroids.json`, `ivfpq_meta.json`).

    ATOMIC publish: the document is written to ``<path>.__tmp__`` in
    full and RENAMED onto the final path — the stage-then-promote
    discipline the export sinks follow — so a reader never observes a
    half-written document. HDFS-style rename refuses an existing
    destination, so the old document is deleted first; the residual
    crash window (between delete and rename) leaves NO document, which
    reads as a loud failure — never a silent truncated parse. A crash
    mid-temp-write leaves the OLD document intact plus a stray temp file
    the next publish overwrites."""
    fs, p = hadoop_fs(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(path + ".__tmp__")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise IOError(
            f"atomic meta publish failed: rename {path}.__tmp__ -> {path}"
        )


def fs_read_json(spark: SparkSession, path: str):
    """Read one JSON document written by fs_write_json (or by builtin
    ``open()`` on a local path — the local FS is just another Hadoop
    filesystem)."""
    fs, p = hadoop_fs(spark, path)
    inp = fs.open(p)
    try:
        # FSDataInputStream is a java.io.InputStream; readAllBytes()
        # (Java 9+) avoids a commons-io dependency for a few-KB document
        raw = bytes(inp.readAllBytes())
    finally:
        inp.close()
    return json.loads(raw.decode("utf-8"))
