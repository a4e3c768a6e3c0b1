"""Versioned publish: the one commit protocol of the ``foreachBatch``
stores that publish a new version per micro-batch (the CDC snapshot, the
Merkle tree, the top-p and greedy-coverage manifests, the prefix index's
df snapshot).

Layout of a store directory: one ``v<batch_id>`` directory per published
version and a ``CURRENT`` pointer file naming the live one. A batch
writes its whole version into a fresh ``v<batch_id>`` directory, then
``publish`` atomically replaces the pointer (tmp file + ``os.replace``):
the standing version is never deleted before the new one is complete, so
a crash at any point leaves the pointer naming a complete directory.

Replay guard: ``foreachBatch`` is at-least-once — a batch whose publish
ran but whose streaming checkpoint commit did not is delivered again. A
batch whose version the pointer already names is fully applied, so the
store skips it (``applied``). Without the guard the rerun would re-read
``v<batch_id>`` through the pointer while its ``mode("overwrite")`` write
deletes that same directory, which Spark refuses — a permanent crash
loop.

Pruning keeps a one-version grace window: after the swap every
``v<digits>`` directory goes except the new one and the one the pointer
named before it, which a reader that resolved the pointer just before the
swap may still be scanning lazily (the grace a lakehouse commit gives
concurrent readers). Pruning is best-effort: a crash there leaves
garbage, never corruption. Other entries of the store are left alone.

At 100 TB the pointer swap is a table-format commit (Delta/Iceberg) and
the grace window is its snapshot retention.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

_POINTER = "CURRENT"


def current(store: str) -> str | None:
    """Path of the published version under ``store``, or None."""
    p = os.path.join(store, _POINTER)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        name = fh.read().strip()
    path = os.path.join(store, name)
    return path if name and os.path.exists(path) else None


def applied(store: str, batch_id: int) -> bool:
    """True when the pointer already names this batch's version (replay)."""
    path = current(store)
    return path is not None and os.path.basename(path) == f"v{batch_id}"


def version_dir(store: str, batch_id: int) -> str:
    """The directory a batch writes its version into."""
    return os.path.join(store, f"v{batch_id}")


def publish(store: str, batch_id: int) -> None:
    """Point ``CURRENT`` at ``v<batch_id>``, then prune all but it and
    the version it replaced."""
    prior = current(store)
    tmp = os.path.join(store, _POINTER + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(f"v{batch_id}")
    os.replace(tmp, os.path.join(store, _POINTER))
    keep = {f"v{batch_id}", prior and os.path.basename(prior)}
    for name in os.listdir(store):
        if name[:1] == "v" and name[1:].isdigit() and name not in keep:
            shutil.rmtree(os.path.join(store, name), ignore_errors=True)


def read(spark: SparkSession, store: str, sub: str | None = None) -> DataFrame:
    """The published version (or its ``sub`` directory) as a frame."""
    path = current(store)
    if path is None:
        raise FileNotFoundError(f"no published version under {store}")
    return spark.read.parquet(os.path.join(path, sub) if sub else path)
