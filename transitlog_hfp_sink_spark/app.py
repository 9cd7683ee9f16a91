"""Application entrypoint — Main.java parity (SURVEY §3.1).

Startup path: parse config (env + flags) -> build session -> wire source
-> HfpPipeline(transform + sink) -> start -> awaitTermination. Failure
anywhere logs and stops the query/session (Main.java:31-38 behavior).

Usage::

    python -m transitlog_hfp_sink_spark.app \
        --source /data/hfp-drops --source-format parquet \
        --sink parquet:/data/vehicles \
        --checkpoint /data/ckpt --dead-letter /data/dead \
        [--max-runtime-s 60]

    # JDBC sink (connection string from /run/secrets/db_conn_string or
    # $DB_CONN_STRING, README.md:40-41 parity):
    python -m transitlog_hfp_sink_spark.app --source ... --sink jdbc:vehicles

Every source carries ``Hfp.Data`` wire frames: ``parquet`` drops are
``value binary`` files (one message per row), ``pulsar``/``kafka`` are
the connector frames (``--source`` is then the topic). All of them decode
through ``sources.protowire.decode_hfp_wire``.

Maintenance subcommands (TimescaleDB background-job parity: the
reference's hypertable relies on compress_chunks / drop_chunks policies,
run/init.sql:21-85; here they are explicit operator-invoked jobs over the
partitioned parquet store):

    python -m transitlog_hfp_sink_spark.app compact --path /data/vehicles
    python -m transitlog_hfp_sink_spark.app retention --path /data/vehicles \
        --cutoff received_date=2024-01-05 [--cutoff received_hour=3] [--dry-run]
    python -m transitlog_hfp_sink_spark.app refresh-rollup \
        --store /data/rollup --base /data/events.parquet \
        --ts-col ts --value-col value --dims event_type \
        --start "2024-01-01 00:00:00" --end "2024-01-02 00:00:00"

Training-data export (tail of the curation pipeline; content-keyed
shards, so re-exports rewrite only changed shards):

    python -m transitlog_hfp_sink_spark.app export \
        --input /data/curated.parquet --output /data/shards \
        --format jsonl --n-shards 64 --id-col doc_id
    python -m transitlog_hfp_sink_spark.app export \
        --input /data/media.parquet --output /data/wds \
        --format wds --n-shards 64 --id-col media_id \
        --content-col content --meta-cols media_type

Each prints a one-line JSON report and exits 0 on success.
"""

from __future__ import annotations

import argparse
import logging
import os
import sys

from transitlog_hfp_sink_spark.config import (
    PipelineConfig,
    connection_string_from_file_or_env,
)
from transitlog_hfp_sink_spark.session import build_session
from transitlog_hfp_sink_spark.sinks.jdbc import JdbcVehiclesSink
from transitlog_hfp_sink_spark.sinks.parquet import write_vehicles_parquet
from transitlog_hfp_sink_spark.sources.files import read_hfp_stream
from transitlog_hfp_sink_spark.streaming.pipeline import HfpPipeline, RateLoggingListener

logger = logging.getLogger(__name__)


def make_sink(spec: str):
    """'parquet:<path>' -> partitioned parquet appender; 'jdbc:<table>' ->
    JDBC writer with the secret-resolved connection string."""
    kind, _, arg = spec.partition(":")
    if kind == "parquet":
        def sink(df, batch_id):
            write_vehicles_parquet(df, arg, mode="append")
        return sink
    if kind == "jdbc":
        return JdbcVehiclesSink(url=connection_string_from_file_or_env(), table=arg or "vehicles")
    raise ValueError(f"unknown sink spec: {spec}")


def _maintain_compact(argv: list[str]) -> int:
    """Chunk-compaction job (sinks/compact.py): the compress_chunks
    background-policy parity, run on demand."""
    import json

    p = argparse.ArgumentParser(prog="app compact")
    p.add_argument("--path", required=True)
    p.add_argument("--partition-cols", default="received_date,received_hour",
                   help="comma-separated partition columns of the store")
    p.add_argument("--max-files", type=int, default=4)
    p.add_argument("--target-file-bytes", type=int, default=None)
    args = p.parse_args(argv)
    from transitlog_hfp_sink_spark.sinks.compact import (
        DEFAULT_TARGET_FILE_BYTES,
        compact_partitioned,
    )

    spark = build_session(app_name="hfp-maintenance-compact")
    try:
        report = compact_partitioned(
            spark,
            args.path,
            partition_cols=[c for c in args.partition_cols.split(",") if c],
            max_files_per_partition=args.max_files,
            target_file_bytes=args.target_file_bytes or DEFAULT_TARGET_FILE_BYTES,
        )
        print(json.dumps({"job": "compact", "path": args.path, **report}))
        return 0
    except Exception:
        logger.exception("compaction failed")
        return 1
    finally:
        spark.stop()


def _maintain_retention(argv: list[str]) -> int:
    """Retention job (sinks/retention.py): drop_chunks parity — deletes
    whole leaf partitions strictly older than the cutoff; numeric-aware
    component compare, failed deletes reported not counted."""
    import json

    p = argparse.ArgumentParser(prog="app retention")
    p.add_argument("--path", required=True)
    p.add_argument("--cutoff", action="append", required=True,
                   metavar="COL=VALUE",
                   help="partition cutoff component; repeat for nested "
                        "partitions, order = compare order")
    p.add_argument("--dry-run", action="store_true")
    args = p.parse_args(argv)
    from transitlog_hfp_sink_spark.sinks.retention import drop_partitions_older_than

    cutoff: dict[str, str] = {}
    for item in args.cutoff:
        col, sep, val = item.partition("=")
        if not sep or not col or not val:
            p.error(f"--cutoff must be COL=VALUE, got {item!r}")
        cutoff[col] = val
    spark = build_session(app_name="hfp-maintenance-retention")
    try:
        report = drop_partitions_older_than(
            spark, args.path, cutoff=cutoff, dry_run=args.dry_run
        )
        print(json.dumps({
            "job": "retention", "path": args.path, "dry_run": args.dry_run,
            **report,
        }))
        return 0 if not report.get("failed") else 1
    except Exception:
        logger.exception("retention failed")
        return 1
    finally:
        spark.stop()


def _maintain_refresh_rollup(argv: list[str]) -> int:
    """Targeted rollup-range refresh (streaming/rollup_sink.py): the
    refresh_continuous_aggregate background-job parity, run on demand."""
    import json

    p = argparse.ArgumentParser(prog="app refresh-rollup")
    p.add_argument("--store", required=True, help="rollup store path")
    p.add_argument("--base", required=True, help="base table parquet path")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--value-col", default="value")
    p.add_argument("--dims", default="", help="comma-separated extra group keys")
    p.add_argument("--start", required=True, help="hour-aligned timestamp")
    p.add_argument("--end", required=True, help="hour-aligned timestamp (exclusive)")
    p.add_argument(
        "--granularity", default="auto", choices=["auto", "hour", "date"],
        help="store partition granularity; auto = detect from the store "
        "layout (a mismatched granularity would silently double-count)",
    )
    args = p.parse_args(argv)
    from transitlog_hfp_sink_spark.streaming.rollup_sink import (
        ContinuousRollupSink,
        detect_granularity,
    )

    spark = build_session(app_name="hfp-maintenance-refresh")
    try:
        gran = args.granularity
        if gran == "auto":
            gran = detect_granularity(spark, args.store)
            if gran is None:
                print(json.dumps({
                    "job": "refresh-rollup", "store": args.store,
                    "error": "store missing/empty: pass --granularity "
                             "hour|date explicitly",
                }))
                return 1
        sink = ContinuousRollupSink(
            spark=spark, path=args.store, ts_col=args.ts_col,
            value_col=args.value_col,
            dims=[d for d in args.dims.split(",") if d],
            granularity=gran,
        )
        report = sink.refresh(
            spark.read.parquet(args.base), args.start, args.end
        )
        print(json.dumps({"job": "refresh-rollup", "store": args.store, **report}))
        return 0
    except Exception:
        logger.exception("rollup refresh failed")
        return 1
    finally:
        spark.stop()


def _backfill(argv: list[str]) -> int:
    """Idempotent BATCH reprocessing of HFP wire drops into the parquet
    sink (the ops path for topic replays / late corrections): decode the
    wire frames, run the SAME transform the stream runs, MERGE on the
    natural key so re-running a backfill (or overlapping it with
    already-streamed data) never duplicates rows — the M3 at-least-once
    story applied to batch repair."""
    import json

    p = argparse.ArgumentParser(prog="app backfill")
    p.add_argument("--source", required=True, help="wire drops dir (value binary parquet)")
    p.add_argument("--sink-path", required=True, help="partitioned vehicles store")
    p.add_argument("--dead-letter", default=None)
    args = p.parse_args(argv)
    from transitlog_hfp_sink_spark.schema import PARTITION_COLUMNS, VEHICLES_DEDUP_KEY
    from transitlog_hfp_sink_spark.sinks.merge import upsert_partitioned
    from transitlog_hfp_sink_spark.sources.protowire import decode_hfp_wire
    from transitlog_hfp_sink_spark.transform import hfp_split, with_partition_columns

    spark = build_session(app_name="hfp-backfill")
    try:
        # the dead-letter write and the upsert each read the decoded rows
        # (each side is one filter over hfp_tag); pin them so the Python
        # decode runs once
        raw = decode_hfp_wire(spark.read.parquet(args.source)).persist()
        valid, dead = hfp_split(raw)
        if args.dead_letter:
            dead.write.mode("append").parquet(args.dead_letter)
        updates = with_partition_columns(valid)
        # rows_upserted must be the POST-dedup merged count the sink
        # reports (count_rows=True), not a pre-dedup count() of the raw
        # updates — which would over-report AND cost a redundant pass
        report = upsert_partitioned(
            spark,
            args.sink_path,
            updates,
            key_cols=list(VEHICLES_DEDUP_KEY),
            partition_cols=list(PARTITION_COLUMNS),
            count_rows=True,
        )
        print(json.dumps({
            "job": "backfill", "source": args.source, "sink": args.sink_path,
            "rows_upserted": report["rows_upserted"],
        }))
        return 0
    except Exception:
        logger.exception("backfill failed")
        return 1
    finally:
        spark.stop()


def _export(argv: list[str]) -> int:
    """Training-data export (the tail of the curation pipeline as an ops
    command): deterministic sharded JSONL (sinks/export.py) or
    WebDataset-style tar shards for bytes+meta (sinks/wds.py). Both are
    content-keyed, so re-running after an upstream change rewrites only
    the shards whose membership changed."""
    import json

    p = argparse.ArgumentParser(prog="app export")
    p.add_argument("--input", required=True, help="parquet path to export")
    p.add_argument("--output", required=True, help="shard output dir")
    p.add_argument("--format", default="jsonl", choices=["jsonl", "wds"])
    p.add_argument("--n-shards", type=int, required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--salt", default="export")
    p.add_argument("--content-col", default="content", help="wds: bytes column")
    p.add_argument("--ext-col", default=None, help="wds: per-row extension column")
    p.add_argument("--meta-cols", default="", help="wds: comma-separated meta columns")
    args = p.parse_args(argv)
    spark = build_session(app_name="hfp-export")
    try:
        df = spark.read.parquet(args.input)
        if args.format == "jsonl":
            from transitlog_hfp_sink_spark.sinks.export import write_jsonl_shards

            write_jsonl_shards(
                df, args.output, args.n_shards, id_col=args.id_col, salt=args.salt
            )
            print(json.dumps({
                "job": "export", "format": "jsonl", "output": args.output,
                "n_shards": args.n_shards,
            }))
        else:
            from transitlog_hfp_sink_spark.sinks.wds import write_wds_shards

            manifest = write_wds_shards(
                df, args.output, args.n_shards, id_col=args.id_col,
                content_col=args.content_col, ext_col=args.ext_col,
                meta_cols=tuple(c for c in args.meta_cols.split(",") if c),
                salt=args.salt,
            )
            print(json.dumps({
                "job": "export", "format": "wds", "output": args.output,
                "n_shards": args.n_shards,
                "n_items": sum(s["n_items"] for s in manifest["shards"]),
            }))
        return 0
    except Exception:
        logger.exception("export failed")
        return 1
    finally:
        spark.stop()


def _build_index(argv: list[str]) -> int:
    """Build (or incrementally update) a persisted serving index — the
    index-once/query-many ops step the serving-shape benchmarks assume:
    a BM25 postings index (operators/search.py) or an IVF-flat / IVF-PQ
    ANN index (operators/similarity.py). This parses the flags and makes
    one library call per kind; the libraries own the layouts and the
    publish protocol (operators/serving.py). Updates write to a NEW
    --output (flip a pointer to deploy) so a crash mid-write can never
    corrupt the live index, and read their source only after it passes
    the serving read gate."""
    import json

    p = argparse.ArgumentParser(prog="app build-index")
    p.add_argument("--kind", required=True, choices=["postings", "ivf", "ivfpq"])
    p.add_argument("--input", required=True, help="corpus parquet path")
    p.add_argument("--output", required=True, help="index output dir")
    p.add_argument("--id-col", default=None, help="default: doc_id / vec_id")
    p.add_argument("--text-col", default="text", help="postings: text column")
    p.add_argument("--update-from", default=None,
                   help="existing index dir to merge --input into "
                   "(incremental: postings never re-tokenize history; ivf "
                   "reuses the trained centroids and upserts only the new "
                   "batch's assignments)")
    p.add_argument("--vec-col", default="embedding", help="ivf: vector column")
    p.add_argument("--n-lists", type=int, default=None,
                   help="ivf: list count (default 16; NOT combinable with "
                   "--update-from, which inherits the old index's lists)")
    p.add_argument("--n-buckets", type=int, default=None,
                   help="postings: term-hash partition count (default 256; "
                   "production sizing rule: scale with the corpus so one "
                   "bucket stays a few hundred MB — see SCALING.md's "
                   "round-8 BM25 serving probe)")
    args = p.parse_args(argv)
    if args.update_from and os.path.abspath(args.update_from) == os.path.abspath(
        args.output
    ):
        p.error("--output must differ from --update-from: the merged index "
                "is written fresh and deployed by pointer flip")
    if args.update_from and args.n_lists is not None:
        p.error("--n-lists cannot be combined with --update-from: an "
                "incremental update inherits the old index's list count "
                "(re-listing requires a full rebuild)")
    spark = build_session(app_name="hfp-build-index")
    try:
        corpus = spark.read.parquet(args.input)
        if args.kind == "postings":
            from transitlog_hfp_sink_spark.operators.search import (
                N_TERM_BUCKETS,
                build_postings,
                update_postings_index,
                write_postings_index,
            )

            id_col = args.id_col or "doc_id"
            n_buckets = args.n_buckets or N_TERM_BUCKETS
            if args.update_from:
                update_postings_index(
                    corpus, args.update_from, args.output,
                    text_col=args.text_col, id_col=id_col, n_buckets=n_buckets,
                )
            else:
                postings, doclens = build_postings(
                    corpus, text_col=args.text_col, id_col=id_col
                )
                write_postings_index(
                    postings, doclens, args.output, n_buckets=n_buckets
                )
            report = {
                "postings_rows": spark.read.parquet(f"{args.output}/postings").count(),
                "docs": spark.read.parquet(f"{args.output}/doclens").count(),
            }
        else:
            from transitlog_hfp_sink_spark.operators.similarity import (
                ANN_LAYOUTS,
                update_ann_index,
                write_ivf_index,
                write_ivfpq_index,
            )

            n_lists = args.n_lists if args.n_lists is not None else 16
            if args.update_from:
                n_lists = update_ann_index(
                    args.kind, corpus, args.update_from, args.output,
                    id_col=args.id_col, vec_col=args.vec_col,
                )["n_lists"]
            else:
                write = write_ivf_index if args.kind == "ivf" else write_ivfpq_index
                write(
                    corpus, args.output, n_lists=n_lists,
                    id_col=args.id_col or "vec_id", vec_col=args.vec_col,
                )
            data_dir = ANN_LAYOUTS[args.kind][0]
            report = {
                "vectors": spark.read.parquet(f"{args.output}/{data_dir}").count(),
                "n_lists": n_lists,
            }
        print(json.dumps({
            "job": "build-index", "kind": args.kind, "output": args.output,
            **report,
        }))
        return 0
    except Exception:
        logger.exception("build-index failed")
        return 1
    finally:
        spark.stop()


def _sql(argv: list[str]) -> int:
    """SQL entry point over the registered catalog — the reference's psql
    parity surface (run/init.sql's hypertable queried interactively) as an
    ops command: register every view + SQL function (catalog.py), then run
    one or more SQL statements and print rows as JSON lines.
    ``--materialize-dedup`` wires register_catalog's one-time dedup
    localCheckpoint through the CLI (round 8, VERDICT r7 #8) — worth it
    whenever more than one statement touches a vehicles_* view."""
    import json

    p = argparse.ArgumentParser(prog="app sql")
    p.add_argument("--sf-dir", default=None, help="testdata dir to register as views")
    p.add_argument("--vehicles", default=None, help="vehicles parquet path")
    p.add_argument("--materialize-dedup", action="store_true",
                   help="localCheckpoint vehicles_dedup once at registration")
    p.add_argument("--histogram-bounds", default="0,30,15",
                   help="lo,hi,nbuckets for vehicles_speed_histogram")
    p.add_argument("--gapfill-count-fill", default="zero",
                   choices=["zero", "null", "locf", "interpolate"],
                   help="count-fill policy for vehicles_hourly_gapfill")
    p.add_argument("--max-rows", type=int, default=1000,
                   help="cap on printed rows per statement")
    p.add_argument("query", nargs="+", help="SQL statement(s), run in order")
    args = p.parse_args(argv)
    try:
        lo, hi, nb = args.histogram_bounds.split(",")
        bounds = (float(lo), float(hi), int(nb))
    except ValueError:
        p.error(
            f"--histogram-bounds {args.histogram_bounds!r}: "
            "expected lo,hi,nbuckets (e.g. 0,30,15)"
        )
    spark = build_session(app_name="hfp-sql")
    try:
        from transitlog_hfp_sink_spark.catalog import register_catalog

        register_catalog(
            spark, sf_dir=args.sf_dir, vehicles_path=args.vehicles,
            materialize_dedup=args.materialize_dedup,
            histogram_bounds=bounds,
            gapfill_count_fill=args.gapfill_count_fill,
        )
        for q in args.query:
            for r in spark.sql(q).limit(args.max_rows).collect():
                print(json.dumps(r.asDict(recursive=True), default=str))
        return 0
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["sql"]:
        return _sql(argv[1:])
    if argv[:1] == ["backfill"]:
        return _backfill(argv[1:])
    if argv[:1] == ["export"]:
        return _export(argv[1:])
    if argv[:1] == ["build-index"]:
        return _build_index(argv[1:])
    if argv[:1] == ["compact"]:
        return _maintain_compact(argv[1:])
    if argv[:1] == ["retention"]:
        return _maintain_retention(argv[1:])
    if argv[:1] == ["refresh-rollup"]:
        return _maintain_refresh_rollup(argv[1:])
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source", required=True, help="input dir (file stream) or topic")
    p.add_argument("--source-format", default="parquet",
                   choices=["parquet", "pulsar", "kafka"])
    p.add_argument("--sink", required=True, help="parquet:<path> | jdbc:<table>")
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--dead-letter", default=None)
    p.add_argument("--trigger-s", type=float, default=None)
    p.add_argument("--dedup", action="store_true",
                   help="natural-key dedup per batch (at-least-once -> effectively-once)")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--max-runtime-s", type=float, default=None,
                   help="stop after N seconds (tests/bounded runs)")
    args = p.parse_args(argv)

    logging.basicConfig(level=logging.INFO, format="%(asctime)s %(levelname)s %(message)s")
    cfg = PipelineConfig.from_env(
        **{k: v for k, v in {
            "checkpoint": args.checkpoint,
            "dump_interval_s": args.trigger_s,
        }.items() if v is not None}
    )

    spark = build_session(app_name="hfp-sink")
    listener = RateLoggingListener()
    spark.streams.addListener(listener)
    query = None
    try:
        stream = read_hfp_stream(
            spark, args.source, fmt=args.source_format,
            max_files_per_trigger=args.max_files_per_trigger,
            max_rows_per_trigger=cfg.max_rows_per_trigger,
        )
        pipe = HfpPipeline(
            sink=make_sink(args.sink),
            checkpoint=cfg.checkpoint,
            trigger_seconds=cfg.dump_interval_s,
            dead_letter_path=args.dead_letter,
            dedup=args.dedup,
        )
        query = pipe.start(stream)
        logger.info("pipeline started: %s -> %s (trigger=%.1fs)",
                    args.source, args.sink, cfg.dump_interval_s)
        if args.max_runtime_s:
            # bounded run: the deadline is a CEILING, not a sleep — once
            # the stream has processed data and then found none for a few
            # consecutive polls (a drained file source), exit early. A
            # stateless query runs no micro-batch without new data, so the
            # batch id stops advancing; the drain shows in query.status.
            import time as _time

            deadline = _time.time() + args.max_runtime_s
            saw_data, idle_polls = False, 0
            while _time.time() < deadline:
                if query.awaitTermination(1.0):
                    break
                st = query.status
                saw_data = saw_data or (query.lastProgress or {}).get("numInputRows", 0) > 0
                idle = not st["isDataAvailable"] and not st["isTriggerActive"]
                idle_polls = idle_polls + 1 if saw_data and idle else 0
                if idle_polls >= 3:
                    logger.info("bounded run drained; stopping early")
                    break
            query.stop()
        else:
            query.awaitTermination()
        return 0
    except Exception:
        logger.exception("pipeline failed")  # Main.java:31-38: log + close
        return 1
    finally:
        if query is not None and query.isActive:
            query.stop()
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
