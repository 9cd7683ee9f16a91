"""Golden tests for the HFP transform core (SURVEY §2.3 P1-P40, §2.2 F1/F3).

The reference ships zero tests (SURVEY §5), so this file defines the
correctness surface: per-column parse semantics, null paths, enum domains,
the dead-letter split, and at-least-once replay idempotency.
"""

import datetime

import pytest
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.schema import (
    HFP_RAW_SCHEMA,
    VEHICLES_COLUMNS,
    VEHICLES_SCHEMA,
)
from transitlog_hfp_sink_spark.transform import (
    dedup_vehicles,
    hfp_flatten,
    hfp_split,
    hfp_transform,
    with_partition_columns,
)
from tests.hfp_fixtures import make_hfp_rows


@pytest.fixture(scope="module")
def raw_df(spark):
    return spark.createDataFrame(make_hfp_rows(), schema=HFP_RAW_SCHEMA).cache()


@pytest.fixture(scope="module")
def vehicles(raw_df):
    return hfp_transform(raw_df).cache()


def test_output_columns_match_ddl(vehicles):
    assert vehicles.columns == VEHICLES_COLUMNS


def test_output_types_match_ddl(vehicles):
    got = {f.name: f.dataType for f in vehicles.schema.fields}
    want = {f.name: f.dataType for f in VEHICLES_SCHEMA.fields}
    assert got == want


def test_split_accounts_for_every_row(spark, raw_df, vehicles):
    valid, dead = hfp_split(raw_df)
    assert valid.count() + dead.count() == raw_df.count()
    reasons = {r["reject_reason"] for r in dead.select("reject_reason").distinct().collect()}
    assert reasons == {"invalid_protobuf_schema", "unparseable_tst"}


def test_f1_schema_filter(raw_df, vehicles):
    n_invalid = raw_df.where(~F.col("schema_valid")).count()
    assert n_invalid > 0
    _, dead = hfp_split(raw_df)
    assert dead.where(F.col("reject_reason") == "invalid_protobuf_schema").count() == n_invalid


def test_f3_tst_invariant(vehicles):
    assert vehicles.where(F.col("tst").isNull()).count() == 0


def test_not_null_contract(vehicles):
    from transitlog_hfp_sink_spark.schema import VEHICLES_NOT_NULL

    for c in VEHICLES_NOT_NULL:
        assert vehicles.where(F.col(c).isNull()).count() == 0, c


def test_p1_received_at_epoch_millis(spark, raw_df):
    row = hfp_flatten(raw_df).select("received_at").first()
    src = raw_df.select(F.col("topic.received_at").alias("ms")).first()["ms"]
    assert row["received_at"] == datetime.datetime.utcfromtimestamp(src / 1000.0)


def test_p5_is_ongoing(raw_df):
    flat = hfp_flatten(raw_df)
    both = flat.select("is_ongoing").groupBy("is_ongoing").count().collect()
    assert {r["is_ongoing"] for r in both} == {True, False}


def test_p14_p36_time_parse_semantics(spark):
    from transitlog_hfp_sink_spark.functions.timeparse import safe_parse_time

    df = spark.createDataFrame(
        [("7:05",), ("23:59",), ("25:99",), ("",), ("x",), (None,), ("07:05:30",)],
        "raw string",
    ).select(safe_parse_time("raw").alias("t"))
    got = [r["t"] for r in df.collect()]
    assert got == ["07:05", "23:59", None, None, None, None, "07:05"]


def test_p20_dir_safe_parse_int(raw_df):
    flat = hfp_flatten(raw_df)
    joined = raw_df.select(
        F.col("payload.dir").alias("raw_dir"), F.monotonically_increasing_id().alias("i")
    ).join(
        flat.select(F.col("dir"), F.monotonically_increasing_id().alias("i")), "i"
    )
    bad = joined.where((F.col("raw_dir") == "X") & F.col("dir").isNotNull())
    assert bad.count() == 0
    ok = joined.where((F.col("raw_dir") == "1") & (F.col("dir") != 1))
    assert ok.count() == 0


def test_p32_drst_safe_parse_boolean(spark):
    from transitlog_hfp_sink_spark.schema import HFP_RAW_SCHEMA
    rows = make_hfp_rows(100)
    df = spark.createDataFrame(rows, schema=HFP_RAW_SCHEMA)
    flat = hfp_flatten(df)
    pairs = (
        df.select(F.col("payload.drst").alias("raw"), F.col("payload.tsi").alias("k"))
        .join(flat.select("drst", F.col("tsi").alias("k")), "k")
        .select("raw", "drst")
        .distinct()
        .collect()
    )
    for r in pairs:
        if r["raw"] == "1":
            assert r["drst"] is True
        elif r["raw"] == "0":
            assert r["drst"] is False
        else:  # None or malformed '2'
            assert r["drst"] is None


def test_p33_oday_safe_parse_date(vehicles, raw_df):
    n_malformed = raw_df.where(F.col("payload.oday") == "2024-13-45").count()
    assert n_malformed > 0
    assert vehicles.where(F.col("oday").isNotNull()).count() > 0
    # malformed oday must not survive as a date
    dates = {str(r["oday"]) for r in vehicles.select("oday").distinct().collect() if r["oday"]}
    assert all(d.startswith("2024-03") for d in dates)


def test_enum_domains(vehicles, raw_df):
    from transitlog_hfp_sink_spark.schema import ENUM_DOMAINS

    # vehicles column per input enum field; temporal_type has none (it
    # becomes is_ongoing), so its domain is checked on the input
    out_col = {"transport_mode": "mode"}
    for field, domain in ENUM_DOMAINS.items():
        if field == "temporal_type":
            vals = {r[0] for r in raw_df.select("topic.temporal_type").distinct().collect()}
        else:
            col = out_col.get(field, field)
            vals = {r[col] for r in vehicles.select(col).distinct().collect()}
        vals.discard(None)
        assert vals <= set(domain), f"{field}: {vals - set(domain)}"
        assert len(vals) == len(domain), f"{field} fixture should cover whole domain"


def test_at_least_once_replay_dedup(vehicles):
    deduped = dedup_vehicles(vehicles)
    assert deduped.count() < vehicles.count()  # fixture contains replays
    twice = dedup_vehicles(vehicles.unionAll(vehicles))
    assert twice.count() == deduped.count()  # replaying whole input is stable


def test_partition_columns(vehicles):
    out = with_partition_columns(vehicles)
    assert {"received_date", "received_hour"} <= set(out.columns)
    hours = [r["received_hour"] for r in out.select("received_hour").distinct().collect()]
    assert all(0 <= h <= 23 for h in hours)


def test_transform_is_codegen_only(vehicles):
    """No Python UDFs in the hot path: plan must not contain BatchEvalPython
    / ArrowEvalPython nodes, and the scan must prune to the needed struct."""
    plan = vehicles._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_split_output_is_frozen(spark, raw_df):
    """hfp_split's two sides, schema (nullability included) and rows, as
    the two-branch split produced them on the fixtures. Rows are compared
    by the program's order-independent digest over their string forms."""
    from pyspark.sql import types as T

    from transitlog_hfp_sink_spark.queries.power import agg_digest_spark

    def digest(df):
        cols = [F.col(c).cast("string").alias(c) for c in df.columns]
        return tuple(agg_digest_spark(df.select(cols), [(c, "string") for c in df.columns])
                     .first())

    valid, dead = hfp_split(raw_df)
    assert valid.columns == VEHICLES_COLUMNS
    assert [f.name for f in valid.schema.fields if not f.nullable] == [
        "received_at", "topic_prefix", "topic_version", "journey_type", "is_ongoing",
        "owner_operator_id", "vehicle_number", "unique_vehicle_id", "veh", "tsi",
    ]
    assert dead.schema == T.StructType([
        T.StructField("reject_reason", T.StringType(), False),
        T.StructField("raw", T.StringType(), True),
    ])
    assert digest(valid) == (598, 1260582148109, 1255668635632)
    assert digest(dead) == (12, 35376032838, 32048924820)
    by_reason = dict(dead.groupBy("reject_reason").count().collect())
    assert by_reason == {"invalid_protobuf_schema": 11, "unparseable_tst": 1}

    # a NULL schema flag (the decoder's column is nullable) is a wrong schema
    nullable = T.StructType([T.StructField("schema_valid", T.BooleanType(), True),
                             *HFP_RAW_SCHEMA.fields[1:]])
    rows = make_hfp_rows(5)
    rows[0]["schema_valid"] = None
    valid, dead = hfp_split(spark.createDataFrame(rows, schema=nullable))
    assert [r["reject_reason"] for r in dead.collect()] == ["invalid_protobuf_schema"]
    assert valid.count() == len(rows) - 1
