"""Streaming Merkle-tree maintenance: keep the release-audit digest tree
(`operators/merkle.py` — the SAME kernels the batch `merkle_diff` query
uses, so the two faces cannot fork) current over an append/upsert
document stream, recomputing only the tree PATHS the batch touches.

The state shape is new among the streaming faces: a hierarchical
aggregate where a micro-batch invalidates the leaf buckets it writes and
then exactly the ancestor chain of those leaves — level k recomputes the
parents of the level-(k-1) recompute set, reading the untouched sibling
digests from the standing tree. Per batch the recompute work is
O(touched_leaves * FAN * LEVELS) regardless of corpus size; every other
tree row is carried over by anti-join. (Contrast: `streaming/snapshot.py`
maintains a flat latest-wins table; `streaming/selection.py` and
`streaming/coverage.py` maintain versioned manifests with per-source /
per-round invalidation — none propagates invalidation up an aggregation
tree.)

Store layout per version directory ``v<batch_id>``: ``docs/`` the
upsert-keyed fingerprint table (doc_id, node, fp) and ``tree/`` the
digest rows (lvl, node, d). Publish goes through ``streaming/versions.py``:
fresh version directory, atomic pointer swap, replay guard (a batch whose
version the pointer already names is fully applied — skipped outright),
and a one-version grace window on pruning so a reader holding a lazy scan
of the previous version never loses its files mid-scan.

Semantics: the stream carries (doc_id, text) APPENDS and UPSERTS (a
re-emitted doc_id replaces its text; within one batch the lexicographic
max text wins, deterministically). Deletes are out of scope — a deletion
stream would carry a tombstone column and drop rows at the docs-merge
step; the tree recompute below is unchanged by that.

At 100 TB: ``docs/`` is the lakehouse MERGE target (partition-local with
bucketed doc_id); the tree tables are manifest-sized (corpus/LEAF rows at
level 0, a geometric tail above), and the per-batch recompute touches
only affected partitions — this module IS that plan, minus the table
format.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import merkle as mk
from ..functions.intmath import exact_floordiv
from . import versions


def read_tree(spark: SparkSession, tree_dir: str) -> DataFrame:
    """The published digest tree: (lvl, node, d) rows, all levels."""
    return versions.read(spark, tree_dir, "tree")


def merge_batch(
    batch_df: DataFrame, batch_id: int, tree_dir: str
) -> dict[int, int] | None:
    """Apply one micro-batch of (doc_id, text) upserts to the published
    tree. Returns {level: recomputed_node_count} (None on a replayed
    no-op) so tests can pin the path-recompute economics.

    Path recompute: affected level-0 nodes are the batch's leaf buckets
    (an upsert keeps its bucket — node is a function of doc_id); affected
    level-k nodes are the parents of affected level-(k-1) nodes. Each
    level recomputes ONLY its affected nodes, aggregating the CURRENT
    level-(k-1) digests of their children (broadcast semi-join on the
    batch-bounded affected set), and carries every other row via
    anti-join — the untouched-subtree digests are never re-derived."""
    if versions.applied(tree_dir, batch_id):
        return None
    standing_path = versions.current(tree_dir)
    spark = batch_df.sparkSession

    # deterministic within-batch upsert collapse: max text per doc_id
    batch = batch_df.groupBy("doc_id").agg(F.max("text").alias("text"))
    # persist discipline (review fix): the ladder below chains each level
    # off the previous one AND runs a control-plane count per level, and
    # the final writes re-derive everything once more — without eager
    # cuts the per-batch work is O(LEVELS²) redundant stage executions,
    # the exact class the kcore localCheckpoint lesson measured at 10×.
    batch_fp = mk.doc_fingerprints(batch).persist()
    pinned = [batch_fp]

    if standing_path is not None:
        standing_docs = spark.read.parquet(
            os.path.join(standing_path, "docs")
        )
        standing_tree = spark.read.parquet(
            os.path.join(standing_path, "tree")
        )
        docs = standing_docs.join(
            batch_fp.select("doc_id"), "doc_id", "left_anti"
        ).unionByName(batch_fp)
    else:
        standing_tree = None
        docs = batch_fp

    counts: dict[int, int] = {}
    affected = batch_fp.select("node").distinct()
    levels = []
    for lvl in range(0, mk.LEVELS + 1):
        counts[lvl] = affected.count()  # batch-bounded control-plane count
        if lvl == 0:
            children = docs.join(F.broadcast(affected), "node", "left_semi")
            recomputed = mk.leaf_digests(children.select("node", "fp"))
        else:
            prev = levels[-1]  # current level-(lvl-1) rows, already merged
            children = prev.withColumn(
                "parent", exact_floordiv(F.col("node"), mk.FAN)
            ).join(
                F.broadcast(affected.withColumnRenamed("node", "parent")),
                "parent",
                "left_semi",
            )
            recomputed = mk.parent_digests(children.select("node", "d"), lvl)
        recomputed = recomputed.persist()  # manifest-sized; cuts lineage
        pinned.append(recomputed)
        if standing_tree is not None:
            carried = standing_tree.where(F.col("lvl") == lvl).join(
                F.broadcast(affected), "node", "left_anti"
            )
            merged = carried.unionByName(recomputed)
        else:
            merged = recomputed
        levels.append(merged.select("lvl", "node", "d"))
        affected = recomputed.select(
            exact_floordiv(F.col("node"), mk.FAN).alias("node")
        ).distinct()

    tree = levels[0]
    for lv_df in levels[1:]:
        tree = tree.unionByName(lv_df)

    out = versions.version_dir(tree_dir, batch_id)
    docs.write.mode("overwrite").parquet(os.path.join(out, "docs"))
    tree.write.mode("overwrite").parquet(os.path.join(out, "tree"))
    versions.publish(tree_dir, batch_id)
    for frame in pinned:
        frame.unpersist()
    return counts


def merkle_sink(
    docs: DataFrame, tree_dir: str, checkpoint_dir: str
):
    """foreachBatch wiring: maintain the digest tree over a (doc_id,
    text) stream."""
    os.makedirs(tree_dir, exist_ok=True)
    return (
        docs.writeStream.foreachBatch(
            lambda df, bid: merge_batch(df, bid, tree_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
