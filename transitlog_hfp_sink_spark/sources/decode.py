"""JVM-side protobuf decode: ``from_protobuf`` (spark-protobuf module)
against the compiled descriptor — the deploy-time twin of
``sources.protowire.decode_hfp_wire``.

The reference consumes protobuf ``Hfp.Data`` messages (Topic + Payload,
MessageProcessor.java:118-119, QueueWriter.java:60,97). The descriptor set
ships with the package (resources/hfp.desc); the connector jar is a
deployment artifact not present in this container, so
``decode_hfp_protobuf`` raises a clear error until it is provided. Every
in-repo ingest path (file stream, backfill, pulsar/kafka frames) decodes
through ``decode_hfp_wire``; the downstream plan (transform/split) is
identical either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def has_spark_protobuf(spark) -> bool:
    """True when the org.apache.spark:spark-protobuf connector jar is on
    the JVM classpath (a deployment artifact, not bundled with pyspark)."""
    try:
        # NOT ...sql.protobuf.functions: spark-sql bundles that as a stub
        # that raises PROTOBUF_NOT_LOADED at call time; ProtobufUtils only
        # exists when the real connector jar is present
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.protobuf.utils.ProtobufUtils"
        )
        return True
    except Exception:
        return False


def decode_hfp_protobuf(
    df: DataFrame,
    value_col: str = "value",
    descriptor_path: str | None = None,
    message_name: str = "Data",
) -> DataFrame:
    """Protobuf decode via spark-protobuf (the JVM-side production path,
    MessageProcessor.java:119). The compiled descriptor set ships with
    the package (resources/hfp.desc, built by sources/descriptor.py from
    the same field tables as the pure-Python wire codec); only the
    connector jar remains a deployment artifact — without it this raises
    the documented capability gate."""
    from pyspark.sql import SparkSession

    if descriptor_path is None:
        from transitlog_hfp_sink_spark.sources.descriptor import RESOURCE

        descriptor_path = RESOURCE
    spark = SparkSession.getActiveSession()
    if spark is not None and not has_spark_protobuf(spark):
        raise NotImplementedError(
            "protobuf decode needs the org.apache.spark:spark-protobuf jar "
            "on the classpath (--packages org.apache.spark:spark-protobuf_"
            "2.13:<spark version>). The descriptor set is bundled "
            "(resources/hfp.desc); sources.protowire.decode_hfp_wire "
            "feeds the identical downstream plan without the jar."
        )
    from pyspark.sql.protobuf.functions import from_protobuf

    parsed = from_protobuf(F.col(value_col), message_name, descFilePath=descriptor_path)
    return df.select(
        F.lit(True).alias("schema_valid"),
        parsed["topic"].alias("topic"),
        parsed["payload"].alias("payload"),
    )
