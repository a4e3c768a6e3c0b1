"""Protobuf column codec — capability-gated wrappers over
``pyspark.sql.protobuf.functions``.

Protobuf is a *column* format here (binary cell ↔ struct), not a file
format: the natural edge for CDC/event buses that frame records as
proto messages. Spark's implementation lives in the separate
``org.apache.spark:spark-protobuf_2.13`` connector; this container's
distribution does not carry it (verified by JVM class probe — unlike
avro, whose classes ship sans registration, see ``sources/formats.py``).
The wrappers therefore gate on a capability probe and raise an error
that names the package to add, instead of surfacing a raw Py4J
ClassNotFound three calls deep inside an executor stage.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession

_PROTO_CLASS = "org.apache.spark.sql.protobuf.ProtobufDataToCatalyst"
_PKG_HINT = (
    "protobuf support needs the spark-protobuf connector on the classpath "
    "(submit with --packages org.apache.spark:spark-protobuf_2.13:"
    "<spark-version>); use parquet/avro for interchange until then"
)


def protobuf_available(spark: SparkSession) -> bool:
    """True iff the spark-protobuf connector classes are loadable."""
    try:
        getattr(spark._jvm, "java.lang.Class").forName(_PROTO_CLASS)
        return True
    except Exception:  # noqa: BLE001 — Py4J wraps ClassNotFoundException
        return False


def _require(spark: SparkSession) -> None:
    if not protobuf_available(spark):
        raise RuntimeError(_PKG_HINT)


def from_protobuf_column(
    spark: SparkSession,
    data: Column,
    message_name: str,
    desc_file_path: str,
) -> Column:
    """binary → struct under the descriptor-set schema (decode edge)."""
    _require(spark)
    from pyspark.sql.protobuf.functions import from_protobuf

    return from_protobuf(data, message_name, descFilePath=desc_file_path)


def to_protobuf_column(
    spark: SparkSession,
    data: Column,
    message_name: str,
    desc_file_path: str,
) -> Column:
    """struct → binary under the descriptor-set schema (encode edge)."""
    _require(spark)
    from pyspark.sql.protobuf.functions import to_protobuf

    return to_protobuf(data, message_name, descFilePath=desc_file_path)
