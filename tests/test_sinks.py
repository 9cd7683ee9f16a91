"""Sink + config parity tests (no live database: the JDBC failure path is
exercised against an unreachable URL, which is exactly the retry/crash
surface; the success path is the stock Spark JDBC writer)."""

import pytest
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.config import (
    PipelineConfig,
    connection_string_from_file_or_env,
)
from transitlog_hfp_sink_spark.sinks.jdbc import ENUM_CAST, JdbcVehiclesSink, create_vehicles_ddl


def test_jdbc_properties_enum_and_batching():
    sink = JdbcVehiclesSink(url="jdbc:postgresql://db/hfp", batchsize=12345)
    props = sink.jdbc_properties()
    # ?::ENUM-cast equivalence (QueueWriter.java:45-46) via stringtype
    assert props["stringtype"] == "unspecified"
    assert props["reWriteBatchedInserts"] == "true"
    assert props["batchsize"] == "12345"
    assert set(ENUM_CAST) == {"journey_type", "event_type", "mode", "loc"}


def test_jdbc_retry_then_crash(spark, monkeypatch):
    """Unreachable DB: the sink must retry max_retries times, then raise
    (query dies WITHOUT committing offsets -> replay on restart). The
    attempt log keeps only the newest entries however many batches run."""
    df = spark.range(3).select(F.col("id").alias("veh"))
    sink = JdbcVehiclesSink(
        url="jdbc:postgresql://127.0.0.1:1/nope",
        max_retries=3,
        retry_backoff_s=0.0,
        properties={"connectTimeout": "1", "socketTimeout": "1", "loginTimeout": "1"},
    )
    with pytest.raises(Exception):
        sink(df, batch_id=7)
    assert [a for (_, a, ok) in sink.attempts_log if not ok] == [1, 2, 3]

    from transitlog_hfp_sink_spark.sinks import jdbc

    monkeypatch.setattr(jdbc, "ATTEMPTS_HISTORY", 2)
    capped = JdbcVehiclesSink(url="jdbc:unused", max_retries=3, retry_backoff_s=0.0)
    outcomes = iter([Exception("down"), Exception("down"), None])

    def write_once(df):
        err = next(outcomes)
        if err is not None:
            raise err

    monkeypatch.setattr(capped, "_write_once", write_once)
    capped(df, batch_id=8)
    assert list(capped.attempts_log) == [(8, 2, False), (8, 3, True)]


def test_vehicles_ddl_bootstrap(spark):
    """S4 parity: the DDL must actually create a partitioned table."""
    ddl = create_vehicles_ddl()
    spark.sql("DROP TABLE IF EXISTS vehicles")
    spark.sql(ddl)
    cols = spark.table("vehicles").columns
    assert len(cols) == 42  # 40 + 2 partition columns
    detail = spark.sql("DESCRIBE TABLE EXTENDED vehicles").collect()
    text = "\n".join(str(r) for r in detail)
    assert "received_date" in text and "received_hour" in text
    spark.sql("DROP TABLE vehicles")


def test_config_env_overrides(monkeypatch):
    monkeypatch.setenv("DUMP_INTERVAL", "5")
    monkeypatch.setenv("CHECKPOINT_LOCATION", "/data/ckpt")
    cfg = PipelineConfig.from_env()
    assert cfg.dump_interval_s == 5.0
    assert cfg.checkpoint == "/data/ckpt"
    assert cfg.max_rows_per_trigger == 250_000  # F2 replacement default
    monkeypatch.setenv("MAX_ROWS_PER_TRIGGER", "1000")
    assert PipelineConfig.from_env().max_rows_per_trigger == 1000


def test_connection_string_sources(tmp_path, monkeypatch):
    secret = tmp_path / "db_conn_string"
    secret.write_text("jdbc:postgresql://h/hfp?user=u\n")
    assert connection_string_from_file_or_env(str(secret)) == "jdbc:postgresql://h/hfp?user=u"
    monkeypatch.setenv("DB_CONN_STRING", "jdbc:postgresql://env/hfp")
    assert connection_string_from_file_or_env(str(tmp_path / "missing")) == "jdbc:postgresql://env/hfp"
    monkeypatch.delenv("DB_CONN_STRING")
    with pytest.raises(FileNotFoundError):
        connection_string_from_file_or_env(str(tmp_path / "missing"))
