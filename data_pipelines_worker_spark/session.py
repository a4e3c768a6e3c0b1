"""SparkSession factory and table loading.

Local test harness runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configuration choices (AQE, sane shuffle partitions, Arrow) are what you'd
deploy on a 1000-executor cluster — only master/memory change.
"""

from __future__ import annotations

import gc
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(app_name: str = "data_pipelines_worker_spark") -> SparkSession:
    """Build (or reuse) the SparkSession.

    - AQE on: runtime coalescing + skew-join mitigation matter at 100 TB.
    - ``spark.sql.shuffle.partitions`` ~ cores locally; AQE coalesces down
      anyway, and on a real cluster this would be set to ~2-3x total cores.
    - Arrow on: all pandas-UDF operators (media, LLM, ANN) batch via Arrow.
    - Session timezone pinned UTC so timestamp semantics match the DuckDB
      oracle used by correctness gates.
    - ``spark.driver.maxResultSize`` is a quarter of the driver memory: a
      pipeline stage is collected to the driver (``stage_store.write_stage``)
      and held there while the run lasts, so this is the largest stage a
      run can publish.
    - ``spark.python.sql.dataFrameDebugging.enabled`` off: PySpark 4 wraps
      every ``Column`` method and ``functions`` builtin to record the
      Python call site with the JVM (per call a session lookup, a conf
      read and a stack walk, then a ``set`` and a ``clear`` over py4j);
      off, they pass straight through, which halves the driver's py4j
      round trips per pipeline block. A DataFrame runtime error keeps its
      error class, message and SQLSTATE; its query context names the JVM
      function (``divide``, not ``__truediv__``) and a Java frame instead
      of the Python ``file:line``. The runner's status snapshot names the
      block that failed.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", result_budget(driver_mem))
        # A long-lived engine JVM compiles one generated class per codegen
        # stage; ~370 query executions put the default 240 MB code cache at
        # 68% (BENCH_LOCAL_r07 env side-channel: 162.8 MB used, profiled
        # segment at 72% — the UseCodeCacheFlushing threshold). Past it the
        # sweeper flushes warm methods and expression-heavy queries
        # (64-agg minhash signatures, higher-order folds) re-JIT or run
        # interpreted at 5-15x. 512 MB keeps steady-state compilation
        # unconditional; on a real cluster this is a spark-defaults knob.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        .config("spark.ui.enabled", "false")
        # workers import pyspark from site-packages, not from pyspark.zip:
        # see worker_daemon (saves ~0.25 s of worker CPU per Python task)
        .config("spark.python.daemon.module", "data_pipelines_worker_spark.worker_daemon")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def result_budget(driver_mem: str) -> str:
    """A quarter of ``driver_mem``, a JVM size string (MiB when it has no
    unit), in MiB; Spark's default ``1g`` for a string it cannot read."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", driver_mem.strip().lower())
    if m is None:
        return "1g"
    mib = int(m[1]) * {"k": 1 / 1024, "": 1, "m": 1, "g": 1024, "t": 1024**2}[m[2]]
    return f"{max(1, int(mib // 4))}m"


def shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an explicit partition count; the
    cluster's ``defaultParallelism`` where the value is not a number (a
    caller-owned session may say ``auto``)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Small control-plane frame as a LocalRelation (Arrow), never a
    parallelized Python RDD.

    ``createDataFrame(list)`` spreads the rows over
    ``defaultParallelism`` Python partitions; every downstream action then
    pays one Python task *per partition* (~0.02 s of worker CPU each from
    :mod:`.worker_daemon`, ~0.25 s from pyspark's stock daemon). Routing
    through pandas + Arrow yields a ``LocalTableScan`` — pure JVM, no
    Python workers — for the metadata/fan-out frames the pipeline runner
    creates. (Table-scale data never comes from Python lists.)
    """
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    # parse the DDL properly — naive string-splitting on ',' mis-splits
    # types that contain commas (decimal(10,2), map<string,int>, struct<>)
    names = [f.name for f in _parse_datatype_string(schema).fields]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def release_cached(spark: SparkSession) -> None:
    """Drop everything finished queries left cached; call it between
    queries, outside timing windows.

    ``clearCache`` only drops SQL-cached plans. RDD blocks from
    ``localCheckpoint`` (CC loops, pagerank, k-means) outlive it: they stay
    pinned in the block manager until Python's GC releases the py4j handles
    and the ContextCleaner runs. Across hundreds of executions the leaked
    blocks build eviction pressure that lands on whichever iterative query
    runs next (one ~5 s CC query was seen at 21-34 s, a different victim
    each run), so they are unpersisted here deterministically.
    """
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    gc.collect()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Parquet scan → pushdown + pruning free.

    Caller-owned sessions (the correctness driver builds its own plain
    SparkSession) won't carry our session configs, so the two that change
    query *semantics* are (re)applied dynamically here:

    - UTC session timezone — timestamp literals / to_date must bin the same
      as the (UTC-naive) DuckDB oracle;
    - ``nanosAsLong`` — some generations of the synthetic data write
      ``events.ts`` as TIMESTAMP(NANOS) parquet, which Spark's reader
      otherwise rejects; we read long nanos and truncate to microseconds,
      exactly what micro-precision engines (DuckDB included) do with nanos
      parquet. Micro-precision generations read as a timestamp directly and
      need no conversion — detect by the materialized type, not by fiat.

    Parquet TIMESTAMP-without-zone columns surface as TIMESTAMP_NTZ in Spark
    4; they are normalized to plain TimestampType here (identical instants
    under the pinned UTC session zone) so downstream epoch arithmetic
    (``cast(ts as bigint)``, window math) keeps working across data
    generations.
    """
    from pyspark.sql.types import LongType, TimestampNTZType

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
