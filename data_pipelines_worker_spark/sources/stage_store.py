"""Per-stage Parquet materialization — the engine's checkpoint/resume substrate.

Reference: every block's outputs are persisted to local + object storage at
``<pipeline-slug>/<processing-id>/<block-slug>/output_{i}.<mime>``
(types/registries/pipeline_block_data_registry.go:291-334,296-297) and lazily
rehydrated on resume (:186-219). Here a stage is one Parquet dataset at
``<root>/<pipeline>/<processing>/<block>/`` with the canonical stage schema;
resume = ``spark.read.parquet`` of that path (column-pruned, predicate-pushed).

At 100 TB the stage store is an append-only Parquet lake partitioned by
(pipeline, processing, block); ``input_index`` filtering for target-index
recompute prunes row groups via min/max stats.
"""

from __future__ import annotations

import os
import uuid

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
    and return the stage reopened from the store.

    Deliberately not fused across block boundaries (SURVEY §4): the write is
    the durability point the reference's resume/goto semantics rely on.
    The reopened stage is read with the schema it was just written with, so
    it costs no footer-reading schema-inference job.

    ``root`` is any Hadoop-filesystem URI — a local path in tests, an
    ``s3a://bucket/prefix`` on a real cluster (the MinIO role of the
    reference's storage layer, pipeline_block_data_registry.go:291-334,
    maps to object storage with no code change here).
    """
    path = stage_path(root, pipeline_slug, processing_id, block_slug)
    df.write.mode("overwrite").parquet(path)
    return _open(df.sparkSession, path, df.schema)


def merge_stage(
    df: DataFrame,
    root: str,
    pipeline_slug: str,
    processing_id: str,
    block_slug: str,
    index: int,
) -> DataFrame:
    """Replace one fan-out index of a stored stage with ``df`` (that index
    recomputed) and return the stage reopened from the store.

    Target-index recompute (pipeline.go:358-377). The merge reads the very
    files it replaces, so it is written beside the stage and swapped in by
    rename rather than overwriting in place.

    A one-file stage stays one file. In a larger stage the recomputed index
    becomes a file of its own and a stored file left without rows is not
    written, so a fan-out of one index per file keeps its file count. The
    files are not coalesced: that would pack fan-out items into one task
    of every block downstream, and the partition coalescer may give a task
    only the emptied file, leaving the stage one file short.
    """
    spark = df.sparkSession
    path = stage_path(root, pipeline_slug, processing_id, block_slug)
    fs, hpath = hadoop_fs(spark, path)
    files = sum(
        1 for st in fs.listStatus(hpath) if st.getPath().getName().startswith("part-")
    )
    prior = _open(spark, path, df.schema).where(F.col("input_index") != index)
    tmp = f"{path}.merge-{uuid.uuid4().hex[:8]}"
    # the recomputed index as the first partition: Spark writes a file for
    # the first partition even when it is empty, for no other empty one
    merged = df.coalesce(1).unionByName(prior)
    if files <= 1:
        merged = merged.coalesce(1)
    merged.write.parquet(tmp)
    _swap_in(spark, tmp, path)
    return _open(spark, path, df.schema)


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` through the Hadoop FileSystem API,
    which serves every stage-store URI (local, HDFS, viewfs, s3a)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
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
    Path = spark._jvm.org.apache.hadoop.fs.Path
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
