"""Processing status/log persistence — the observable record of every run.

Reference: each pipeline execution defers ``SavePipelineLog``, writing
``log_%d`` + ``status_%d`` files per processing next to the stage outputs
(pipeline.go:207-214; registry pipeline_block_data_registry.go:222-288).
The read-only API endpoints later *scan storage* to answer
``GET /pipelines/:slug/processings`` (pipeline.go:643-802).

Here: one Parquet snapshot per status write under
``<root>/_meta/status/<pipeline>/<processing>/snap-<ns>/``, a row per
block — append-only metadata beside the stage lake, so the listing
endpoints are a pruned scan, not a storage walk. A read serves the newest
committed snapshot; none is ever deleted or overwritten, so a read racing
a restarted run's write still finds the previous one. At 100 TB the
metadata stays tiny (rows = status writes × blocks) and supports the same
queries the reference answers by listing files.
"""

from __future__ import annotations

import functools
import os
import re
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from .stage_store import hadoop_fs, publish

STATUS_SCHEMA = (
    "pipeline_slug string, processing_id string, block_slug string, "
    "position int, status string, stopped_at string, updated_at double"
)


@functools.cache
def _status_arrow_schema() -> pa.Schema:
    return to_arrow_schema(_parse_datatype_string(STATUS_SCHEMA))


def _status_path(root: str, pipeline_slug: str, processing_id: str | None = None) -> str:
    p = os.path.join(root, "_meta", "status", pipeline_slug)
    return os.path.join(p, processing_id) if processing_id else p


#: A snapshot directory's name: ``snap-`` and ``time.time_ns()`` in 20 digits.
_SNAPSHOT = re.compile(r"snap-\d{20}")


class NoStatus(LookupError):
    """No committed status snapshot exists (yet) for the processing."""


def _newest_snapshot(spark: SparkSession, path: str) -> str | None:
    """The newest committed (``_SUCCESS``-marked) snapshot under a
    processing's status directory ``path``, or None. Only ``snap-<ns>``
    directories count, never a staging directory beside them."""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    names = sorted(
        (st.getPath().getName() for st in fs.listStatus(hpath) if st.isDirectory()),
        reverse=True,
    )
    for name in names:
        snap = os.path.join(path, name)
        if _SNAPSHOT.fullmatch(name) and fs.exists(
            getattr(spark._jvm, "org.apache.hadoop.fs.Path")(snap, "_SUCCESS")
        ):
            return snap
    return None


def write_status(
    spark: SparkSession,
    root: str,
    pipeline_slug: str,
    processing_id: str,
    statuses: dict[str, str],
    block_order: list[str],
    stopped_at: str | None = None,
) -> str:
    """Persist the per-block status snapshot of one processing
    (SavePipelineLog equivalent) as a new snapshot directory; the newest
    wins, like the reference rewriting status_%d on each save. The snapshot
    is published from the driver (``stage_store.publish``), with no Spark
    job. Returns the snapshot's path."""
    now = time.time()
    rows = [
        (
            pipeline_slug,
            processing_id,
            slug,
            block_order.index(slug) if slug in block_order else -1,
            status,
            stopped_at,
            now,
        )
        for slug, status in statuses.items()
    ]
    path = os.path.join(
        _status_path(root, pipeline_slug, processing_id), f"snap-{time.time_ns():020d}"
    )
    schema = _status_arrow_schema()
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
    publish(spark, table, path)
    return path


def read_statuses(
    spark: SparkSession, root: str, pipeline_slug: str, processing_id: str | None = None
) -> DataFrame:
    """The block statuses of one processing's newest snapshot, or of every
    processing's newest snapshot of one pipeline; raises ``NoStatus`` when
    there is none.

    The `GET /pipelines/:slug/processings` analog of the reference's
    storage walk (pipeline.go:643-700): the snapshots are picked by a
    driver-side listing and served by a parquet scan. Every snapshot is
    written with ``STATUS_SCHEMA``, so the read takes it as given: no
    schema-inference job."""
    pids = (
        [processing_id]
        if processing_id
        else list_processings(spark, root, pipeline_slug)
    )
    snaps = [
        snap
        for pid in pids
        if (snap := _newest_snapshot(spark, _status_path(root, pipeline_slug, pid)))
    ]
    if not snaps:
        raise NoStatus(f"no status snapshot for {pipeline_slug}/{processing_id or '*'}")
    return spark.read.schema(STATUS_SCHEMA).parquet(*snaps)


def list_processings(spark: SparkSession, root: str, pipeline_slug: str) -> list[str]:
    """Processing ids with a persisted status (storage-scan parity,
    pipeline.go:643-700), listed through the Hadoop FileSystem API so it
    serves every root ``write_status`` accepts."""
    fs, hpath = hadoop_fs(spark, _status_path(root, pipeline_slug))
    if not fs.exists(hpath):
        return []
    return sorted(
        name
        for st in fs.listStatus(hpath)
        if st.isDirectory() and not (name := st.getPath().getName()).startswith("_")
    )
