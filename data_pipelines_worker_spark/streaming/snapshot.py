"""Streaming CDC snapshot maintenance: the ``foreachBatch`` upsert that
keeps a current-state table in step with an append-only change stream —
the streaming twin of the batch ``latest_snapshot`` query. Both sides
call the same projection/rank-1 kernel (operators/cdc.py) so the
quantization and tie-break can never fork.

Merge discipline per micro-batch: reduce the batch to its own latest row
per key (cheap — batch-sized), union with the standing snapshot, keep
rank-1 per key by (ts, event_id), and publish crash-safely through
``streaming/versions.py``: the merged frame lands in a fresh
``v<batch_id>`` directory and the ``CURRENT`` pointer is atomically
swapped to name it, so a crash at ANY point leaves the pointer naming a
complete directory (the earlier rm-then-rename draft had a window that
lost all prior state on replay). After the swap every version but the new
one and the one it replaced is pruned: a frame from ``read_snapshot``
taken before the swap keeps its files while the next batch merges.

Replayed batches are idempotent by construction: merging the same rows
twice cannot change a latest-wins result (the merge is a join-semilattice
fold — commutative, associative, idempotent), which is why the pattern is
safe under foreachBatch's at-least-once delivery.

At 100 TB the publish step is the transactional commit of a lakehouse
MERGE (Delta/Iceberg make the pointer swap a table-format commit); the
per-batch plan — batch-local rank-1, key-hashed merge join against the
snapshot, rank-1 again — is the same.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.cdc import SNAP_COLS, latest_per_key, project_events
from . import versions


def merge_batch(batch_df: DataFrame, batch_id: int, snapshot_dir: str) -> None:
    """Apply one micro-batch to the published snapshot (module-level so
    the at-least-once replay path is unit-testable).

    A replayed batch whose version is already published is skipped
    (``versions.applied``); re-applying it could not change the result."""
    if versions.applied(snapshot_dir, batch_id):
        return
    spark = batch_df.sparkSession
    incoming = latest_per_key(project_events(batch_df))
    standing_path = versions.current(snapshot_dir)
    if standing_path is not None:
        standing = spark.read.parquet(standing_path)
        merged = latest_per_key(standing.unionByName(incoming))
    else:
        merged = incoming
    merged.write.mode("overwrite").parquet(
        versions.version_dir(snapshot_dir, batch_id)
    )
    versions.publish(snapshot_dir, batch_id)


def snapshot_sink(
    events: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    query_name: str = "cdc-snapshot",
):
    """Start a streaming query maintaining the latest-per-user snapshot
    under ``snapshot_dir`` (pointer file ``CURRENT`` → version dir) from
    an event stream with columns (event_id, ts, user_id, event_type,
    value)."""
    os.makedirs(snapshot_dir, exist_ok=True)

    return (
        events.writeStream.foreachBatch(
            lambda df, bid: merge_batch(df, bid, snapshot_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )


def read_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    return versions.read(spark, snapshot_dir).select(*SNAP_COLS)
