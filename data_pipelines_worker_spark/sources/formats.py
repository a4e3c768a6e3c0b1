"""Format-agnostic dataset IO (SURVEY §1.1: the reference ingests opaque
objects from MinIO and sniffs mime types — pipeline_block_data_registry.go
:291-334; on Spark the same role is a format matrix over any
Hadoop-filesystem URI).

Parquet is the engine's native interchange (typed, splittable, predicate
pushdown); CSV/JSON exist for interop at the edges and ORC for
warehouse-side handoff. The matrix preserves round-trip fidelity where the
format allows it and documents the loss where it doesn't:

- parquet / orc: full fidelity (nested types, binary, timestamp micros);
- json: no binary columns (base64 would silently change hashes — callers
  drop or encode them explicitly); timestamps serialized ISO-8601 UTC;
- csv: scalar columns only (arrays/structs/binary rejected loudly),
  timestamps pinned to ``yyyy-MM-dd HH:mm:ss[.SSSSSS]`` UTC;
- avro: row-oriented interchange for streaming/CDC edges — full
  fidelity for the engine's column types, but gated on the spark-avro
  connector jar (not in the base distribution): the capability probe
  :func:`avro_available` reports it, and read/write raise a
  package-naming error rather than a Py4J class-not-found when absent.

Readers take an explicit schema whenever the format is schema-poor
(csv/json): at 100 TB, schema inference is a full extra pass over the
data and type drift between files becomes silent corruption — an
explicit schema makes both impossible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FORMATS = ("parquet", "orc", "json", "csv", "avro")

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


#: spark-avro's provider class. The short name "avro" resolves only when
#: the connector's DataSourceRegister service entry is on the classpath;
#: some distributions (this one included) ship the classes WITHOUT the
#: service registration, where the explicit provider class still works —
#: so reads/writes always go through the class name, which covers both.
_AVRO_PROVIDER = "org.apache.spark.sql.avro.AvroFileFormat"


def avro_available(spark: SparkSession) -> bool:
    """True iff the spark-avro provider class is loadable in the JVM.

    Avro is a *connector* (``org.apache.spark:spark-avro_2.13``) rather
    than a guaranteed part of the distribution — only the avro core
    libraries are always in ``jars/``. The capability probe asks the JVM
    for the provider class instead of attempting a write, so it is cheap
    and side-effect-free.
    """
    try:
        getattr(spark._jvm, "java.lang.Class").forName(_AVRO_PROVIDER)
        return True
    except Exception:  # noqa: BLE001 — Py4J raises wrapped ClassNotFound
        return False


def _require_avro(spark: SparkSession) -> None:
    if not avro_available(spark):
        raise RuntimeError(
            "avro support needs the spark-avro connector on the classpath "
            "(submit with --packages org.apache.spark:spark-avro_2.13:"
            "<spark-version>); the Spark distribution ships only the avro "
            "core libraries. Interchange falls back to parquet/orc."
        )


def _check_csv_schema(schema: T.StructType) -> None:
    for f in schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)):
            raise ValueError(
                f"csv cannot carry column {f.name!r} of type "
                f"{f.dataType.simpleString()}; use parquet/orc (or json for "
                "arrays/structs)"
            )


def _check_json_schema(schema: T.StructType) -> None:
    for f in schema.fields:
        if isinstance(f.dataType, T.BinaryType):
            raise ValueError(
                f"json would base64-mangle binary column {f.name!r}; use "
                "parquet/orc"
            )


def write_dataset(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Write ``df`` at ``path`` in ``fmt``, rejecting silent-loss column
    types per format (see module docstring)."""
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; one of {FORMATS}")
    w = df.write.mode("overwrite")
    if fmt == "csv":
        _check_csv_schema(df.schema)
        w = w.option("header", "true").option("timestampFormat", _TS_FMT)
    elif fmt == "json":
        _check_json_schema(df.schema)
        w = w.option("timestampFormat", _TS_FMT)
    elif fmt == "avro":
        _require_avro(df.sparkSession)
        fmt = _AVRO_PROVIDER
    w.format(fmt).save(path)


def read_dataset(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read a dataset written by :func:`write_dataset`.

    ``schema`` is required for csv/json (inference is an extra full pass
    and admits type drift); parquet/orc carry their own."""
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; one of {FORMATS}")
    r = spark.read
    if fmt in ("csv", "json"):
        if schema is None:
            raise ValueError(f"{fmt} read requires an explicit schema")
        r = r.schema(schema)
        r = r.option("timestampFormat", _TS_FMT)
        if fmt == "csv":
            r = r.option("header", "true")
    elif fmt == "avro":
        _require_avro(spark)
        fmt = _AVRO_PROVIDER
    return r.format(fmt).load(path)
