"""Per-stage Parquet materialization — the engine's checkpoint/resume substrate.

Reference: every block's outputs are persisted to local + object storage at
``<pipeline-slug>/<processing-id>/<block-slug>/output_{i}.<mime>``
(types/registries/pipeline_block_data_registry.go:291-334,296-297) and lazily
rehydrated on resume (:186-219). Here a stage is one Parquet dataset at
``<root>/<pipeline>/<processing>/<block>/`` with the canonical stage schema.
A runner stage (``write_stage``, ``merge_stage``) is one driver-written file,
``part-00000.parquet``, plus ``_SUCCESS``: the rows come to the driver as
Arrow in one collect job, pyarrow writes them and ``publish`` moves the
directory in through the Hadoop FileSystem API — no Spark write job, and
the next block reads the stage from memory. Resume = ``spark.read.parquet``
of that path (column-pruned, predicate-pushed).

At 100 TB the stage store is an append-only Parquet lake partitioned by
(pipeline, processing, block); ``input_index`` filtering for target-index
recompute prunes row groups via min/max stats. Runner stages are
control-sized data (prompts, fan-out items, media payloads of one
processing) that fit the driver: a stage above ``spark.driver.maxResultSize``
fails with :class:`StageTooLarge`. Large stages arrive through the
streaming sink (streaming/sink.py), written by Spark's writer from the
executors, and are right-sized by ``compact_stage``.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dataflow import json_auto_detect

#: Canonical stage schema (SURVEY §7): one row per (input_index, output_index).
STAGE_SCHEMA = T.StructType(
    [
        T.StructField("input_index", T.LongType(), False),
        T.StructField("output_index", T.LongType(), False),
        T.StructField("payload_str", T.StringType(), True),
        T.StructField("payload_bin", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
    ]
)


def stage_path(root: str, pipeline_slug: str, processing_id: str, block_slug: str) -> str:
    return os.path.join(root, pipeline_slug, processing_id, block_slug)


def write_stage(
    df: DataFrame, root: str, pipeline_slug: str, processing_id: str, block_slug: str
) -> DataFrame:
    """Materialize one block's outputs (checkpoint for resume/regenerate)
    and return the stage as an in-memory frame.

    Deliberately not fused across block boundaries (SURVEY §4): the stage
    is durable in the store before the next block runs, which is what the
    reference's resume/goto semantics rely on. The rows reach the driver
    in one collect job and are published by :func:`publish`; the next
    block reads them from the returned frame, a ``LocalTableScan``, not
    from the store.

    ``root`` is any Hadoop-filesystem URI — a local path in tests, an
    ``s3a://bucket/prefix`` on a real cluster (the MinIO role of the
    reference's storage layer, pipeline_block_data_registry.go:291-334,
    maps to object storage with no code change here).
    """
    path = stage_path(root, pipeline_slug, processing_id, block_slug)
    table = _collect(df, path)
    publish(df.sparkSession, table, path)
    return _in_memory(df.sparkSession, table, df.schema)


def merge_stage(
    df: DataFrame,
    root: str,
    pipeline_slug: str,
    processing_id: str,
    block_slug: str,
    index: int,
) -> DataFrame:
    """Replace one fan-out index of a stored stage with ``df`` (that index
    recomputed) and return the merged stage as an in-memory frame.

    Target-index recompute (pipeline.go:358-377). The recomputed index and
    the stored rows of the other indices are collected in one task, put in
    ``(input_index, output_index)`` order and published as the stage's one
    file (:func:`publish`), replacing the files it read.
    """
    spark = df.sparkSession
    path = stage_path(root, pipeline_slug, processing_id, block_slug)
    prior = _open(spark, path, df.schema).where(F.col("input_index") != index)
    table = _collect(df.unionByName(prior).coalesce(1), path).sort_by(
        [("input_index", "ascending"), ("output_index", "ascending")]
    )
    publish(spark, table, path)
    return _in_memory(spark, table, df.schema)


def publish(spark: SparkSession, table: pa.Table, path: str) -> None:
    """Make ``table`` the dataset at ``path``: one Parquet file and a
    ``_SUCCESS`` marker, with no Spark job.

    pyarrow writes the file in a driver temp directory, which is copied
    through the Hadoop FileSystem API (so every stage-store URI works) to a
    staging directory beside ``path`` and renamed in, or swapped in when
    ``path`` exists (:func:`_swap_in`). The staging name starts with ``_``,
    which Hadoop and Spark listings treat as hidden, so no reader takes it
    for a dataset; a reader never sees a partial one.
    """
    fs, hpath = hadoop_fs(spark, path)
    parent, name = os.path.split(path.rstrip("/"))
    tmp = os.path.join(parent, f"_publish-{uuid.uuid4().hex[:8]}-{name}")
    Path = getattr(spark._jvm, "org.apache.hadoop.fs.Path")
    with tempfile.TemporaryDirectory(prefix="dpws_stage_") as local:
        pq.write_table(table, os.path.join(local, "part-00000.parquet"))
        open(os.path.join(local, "_SUCCESS"), "wb").close()
        fs.copyFromLocalFile(False, False, Path(local), Path(tmp))
    if fs.exists(hpath):
        _swap_in(spark, tmp, path)
    elif not fs.rename(Path(tmp), hpath):
        raise IOError(f"stage publish: rename {tmp} -> {path} failed")


class StageTooLarge(RuntimeError):
    """A runner stage does not fit the driver's result budget,
    ``spark.driver.maxResultSize``."""


def _collect(df: DataFrame, path: str) -> pa.Table:
    """``df`` on the driver as Arrow (one job). A stage above
    ``spark.driver.maxResultSize`` fails that job; it is reported as
    :class:`StageTooLarge`, naming the stage and the limit."""
    try:
        return df.toArrow()
    except Exception as e:  # noqa: BLE001 - re-raised unless it is the size limit
        if "spark.driver.maxResultSize" not in str(e):
            raise
        limit = df.sparkSession.sparkContext.getConf().get("spark.driver.maxResultSize", "1g")
        raise StageTooLarge(
            f"stage {path} exceeds spark.driver.maxResultSize ({limit}): a runner "
            "stage is collected to the driver; stream large data through "
            "streaming/sink.py"
        ) from e


def _in_memory(spark: SparkSession, table: pa.Table, schema: T.StructType) -> DataFrame:
    """``table`` as a frame typed as ``schema`` read back from the store: a
    Parquet read makes every column nullable. Below Spark's
    ``spark.sql.execution.arrow.localRelationThreshold`` the frame is a
    ``LocalTableScan`` in min(rows, defaultParallelism) partitions."""
    nullable = T.StructType([T.StructField(f.name, f.dataType, True) for f in schema])
    return spark.createDataFrame(table, nullable)


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` through the Hadoop FileSystem API,
    which serves every stage-store URI (local, HDFS, viewfs, s3a)."""
    hpath = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _has_batch_partition_dirs(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` contains ``batch=<id>`` partition subdirectories
    (the streaming sink's layout, streaming/sink.py)."""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return False
    for st in fs.listStatus(hpath):
        if st.isDirectory() and st.getPath().getName().startswith("batch="):
            return True
    return False


def _swap_in(spark: SparkSession, tmp: str, path: str) -> None:
    """Replace the dataset at ``path`` with the one at ``tmp``: two Hadoop FS
    renames (NOT os.rename, so correct on every supported stage-store URI;
    on object stores a rename is copy+delete, slower but correct). A reader
    racing the swap can see a brief stage-missing window, never partial
    data."""
    fs, hpath = hadoop_fs(spark, path)
    Path = getattr(spark._jvm, "org.apache.hadoop.fs.Path")
    old = Path(f"{path}.old-{uuid.uuid4().hex[:8]}")
    if not fs.rename(hpath, old):
        raise IOError(f"stage swap: rename {path} -> {old} failed")
    if not fs.rename(Path(tmp), hpath):
        fs.rename(old, hpath)  # roll back
        raise IOError(f"stage swap: rename {tmp} -> {path} failed")
    fs.delete(old, True)


def read_stage(
    spark: SparkSession,
    root: str,
    pipeline_slug: str,
    processing_id: str,
    block_slug: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Rehydrate a stage (resume substrate, pipeline.go:195-201).

    With ``schema`` (a stage of known shape, e.g. ``STAGE_SCHEMA`` for every
    stage the pipeline runner writes) the read needs no schema-inference
    job; without it Spark infers the shape from the Parquet footers.
    Either way a streamed stage drops the sink's ``batch`` column (_open).
    """
    path = stage_path(root, pipeline_slug, processing_id, block_slug)
    return _open(spark, path, schema)


def _open(spark: SparkSession, path: str, schema: T.StructType | None) -> DataFrame:
    """Stages written by the streaming sink (streaming/sink.py) land in
    ``batch=<id>`` subdirectories; Spark's partition discovery surfaces
    that as a synthetic ``batch`` column (with or without a given schema),
    which is sink bookkeeping, not part of the canonical stage schema —
    drop it so batch pipelines resuming from a streamed stage see the same
    shape as any other stage. The drop is conditional on the ``batch=``
    directory layout actually being present (ADVICE r3): a stage whose
    *data* legitimately contains a ``batch`` column keeps it.
    """
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if "batch" in df.columns and _has_batch_partition_dirs(spark, path):
        df = df.drop("batch")
    return df


# --- mime sniffing ----------------------------------------------------------

# Magic-byte signatures, mirroring the semantics of the reference's
# http.DetectContentType-based sniff (types/helpers/storage.go:10-26: first
# 261 bytes decide the extension used on write, storage.go:130-143).
_MAGIC: list[tuple[bytes, str]] = [
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"ID3", "audio/mpeg"),
    (b"\xff\xfb", "audio/mpeg"),
    (b"\xff\xf3", "audio/mpeg"),
    (b"\xff\xf2", "audio/mpeg"),
    (b"OggS", "audio/ogg"),
    (b"fLaC", "audio/flac"),
    (b"%PDF", "application/pdf"),
    (b"PK\x03\x04", "application/zip"),
    (b"\x1f\x8b", "application/gzip"),
]


def sniff_mime(payload: Column) -> Column:
    """Magic-bytes mime detection as a pure column expression.

    Prefix matches run on the hex of the first 16 bytes (JVM-side, no UDF);
    RIFF/WAVE and MP4 ``ftyp`` need offset checks; anything that decodes as
    UTF-8-ish JSON/text falls through to text/plain like DetectContentType.
    """
    head = F.hex(F.substring(payload, 1, 16))  # uppercase hex string
    expr = None
    for sig, mime in _MAGIC:
        cond = head.startswith(F.lit(sig.hex().upper()))
        expr = F.when(cond, mime) if expr is None else expr.when(cond, mime)
    # RIFF....WAVE (bytes 0-3 and 8-11)
    expr = expr.when(
        head.startswith(F.lit(b"RIFF".hex().upper()))
        & (F.substring(head, 17, 8) == F.lit(b"WAVE".hex().upper())),
        "audio/wav",
    )
    # MP4: bytes 4-7 == 'ftyp'
    expr = expr.when(
        F.substring(head, 9, 8) == F.lit(b"ftyp".hex().upper()),
        "video/mp4",
    )
    # JSON-ish text (HandleResultValue semantics, block.go:502-519)
    expr = expr.when(json_auto_detect(payload.cast("string")), "application/json")
    return expr.otherwise(F.lit("text/plain"))


def compact_stage(
    spark: SparkSession,
    root: str,
    pipeline_slug: str,
    processing_id: str,
    block_slug: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Rewrite a stage into right-sized files and return the new file count.

    Streaming sinks and wide-parallelism writes leave stages as many small
    Parquet files (one per task / micro-batch partition); at scale the
    file-listing and footer overhead dominates resume reads. Compaction
    rewrites the stage through a staging directory and a rename swap done
    through the Hadoop FileSystem API, so it works on every URI the stage
    store accepts (local, HDFS, viewfs, s3a — rename on object stores is
    copy+delete, slower but correct).

    Run it while the stage is quiescent (between pipeline runs): the swap
    is two renames, so a reader racing it can observe a brief
    stage-missing window or list files the cleanup is deleting — no
    *partial data* is ever visible, but racing reads may need a retry.

    Streamed stages (``batch=<id>`` subdirectories from streaming/sink.py)
    keep their partitioned layout (ADVICE r3): committed batches merge
    into a single ``batch=-1`` directory (-1 is outside the epoch-id space,
    which starts at 0) while the *highest* batch directory is carried over
    under its own id — Structured Streaming's foreachBatch may replay only
    the last, possibly-uncommitted epoch on restart, and that replay
    overwrites its own ``batch=<id>`` directory. Flattening (or folding the
    last batch into the merged directory) would either break partition
    discovery when the resumed sink writes the next ``batch=<id>`` subdir
    or duplicate the replayed batch; this layout survives both.
    """
    path = stage_path(root, pipeline_slug, processing_id, block_slug)
    streamed = _has_batch_partition_dirs(spark, path)
    n_rows = None
    tmp = f"{path}.compact-{uuid.uuid4().hex[:8]}"
    if streamed:
        raw = spark.read.parquet(path)  # keep the discovered `batch` column
        max_batch = raw.agg(F.max(F.col("batch").cast("long"))).first()[0]
        b = F.col("batch").cast("long")
        # non-numeric batch values (never produced by our sink) count as
        # committed rather than being silently dropped
        committed = raw.where(b.isNull() | (b < max_batch)).drop("batch")
        n_rows = committed.count()
        n_files = max(1, -(-n_rows // target_rows_per_file))  # ceil div
        committed.coalesce(n_files).write.mode("overwrite").parquet(
            os.path.join(tmp, "batch=-1")
        )
        last = raw.where(F.col("batch").cast("long") == max_batch).drop("batch")
        last.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, f"batch={max_batch}")
        )
    else:
        df = read_stage(spark, root, pipeline_slug, processing_id, block_slug)
        n_rows = df.count()
        n_files = max(1, -(-n_rows // target_rows_per_file))  # ceil div
        df.coalesce(n_files).write.mode("overwrite").parquet(tmp)

    _swap_in(spark, tmp, path)
    return n_files
