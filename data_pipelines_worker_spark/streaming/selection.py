"""Streaming top-p (nucleus) selection: maintain the per-source budgeted
quality manifest over a GROWING corpus — the streaming face of the batch
``top_p_selection`` query, sharing its scoring/budget kernel
(``operators/selection.py``) so the two can never fork.

Why this shape: top-p selection is NOT incrementally foldable — a new
high-quality document can both displace selected ones (it outranks them)
and admit new ones (it grows the source's total token mass, loosening the
half-mass budget) — so per-key O(1) state cannot be exact. What IS
bounded is the metadata: one (source, doc_id, n_tokens, q) row per
document ever seen — the score table a curation pipeline keeps anyway,
~1e-4 of corpus bytes (never bodies). Each micro-batch therefore:

1. appends its scored rows to the standing score store, idempotently
   (``scores/batch=<id>`` overwritten on replay — the exactly-once
   pattern of ``streaming/sink.py``);
2. recomputes the selection ONLY for the sources present in the batch
   (a micro-batch touches few sources; untouched sources' manifest rows
   are carried over verbatim — recompute cost scales with the affected
   slice, not the corpus);
3. publishes the merged manifest crash-safely through
   ``streaming/versions.py``: fresh ``v<batch_id>`` directory, atomic
   pointer swap, replay guard (a replayed batch whose version the pointer
   already names is fully applied and skipped; the standing manifest
   directory is never overwritten while being read), one-version grace
   window on pruning.

At 100 TB the score store is a lakehouse table and step 2's
``source IN (batch sources)`` filter partition-prunes it; the manifest
swap is a table-format commit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.selection import SCORE_COLS, score_docs, top_p_select
from . import versions

_SCORES = "scores"
_MANIFEST = "manifest"


def merge_batch(batch_df: DataFrame, batch_id: int, store_dir: str) -> None:
    """Apply one micro-batch of documents to the published manifest
    (module-level so the at-least-once replay path is unit-testable)."""
    manifest_dir = os.path.join(store_dir, _MANIFEST)
    if versions.applied(manifest_dir, batch_id):
        return
    spark = batch_df.sparkSession
    scored = score_docs(batch_df).select(*SCORE_COLS)
    batch_dir = os.path.join(store_dir, _SCORES, f"batch={batch_id}")
    scored.write.mode("overwrite").parquet(batch_dir)
    # A doc_id legitimately re-emitted in a later batch (re-crawl/update)
    # must resolve DETERMINISTICALLY to its newest score row — the
    # `batch=` partition column the store layout already provides is the
    # version axis (a bare dropDuplicates picks a partition-order-
    # dependent row, silently breaking the stream ≡ batch discipline).
    # The window is keyed by doc_id ALONE: `source` is a VALUE resolved
    # by the newest batch, so a doc re-emitted under a different source
    # migrates instead of double-counting (one manifest row per doc).
    all_scores = spark.read.parquet(os.path.join(store_dir, _SCORES))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("batch").cast("long").desc(),
        F.col("q").desc(),
        "n_tokens",
        "source",
    )
    # Affected sources = every source that EVER scored one of this
    # batch's doc_ids — the batch's own sources (their budgets grew) AND
    # any former owner of a migrated doc (its selection must shrink).
    # One semi-join on the metadata store; the distinct-source collect
    # is control-plane sized (≤ number of sources, never corpus rows).
    affected = [
        r.source
        for r in all_scores.join(
            batch_df.select("doc_id").distinct(), "doc_id", "semi"
        )
        .select("source")
        .distinct()
        .collect()
    ]
    standing = (
        all_scores.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*SCORE_COLS)
    )
    recomputed = top_p_select(standing.where(F.col("source").isin(affected)))
    standing_path = versions.current(manifest_dir)
    if standing_path is not None:
        prior = spark.read.parquet(standing_path)
        merged = prior.where(~F.col("source").isin(affected)).unionByName(
            recomputed
        )
    else:
        merged = recomputed
    merged.write.mode("overwrite").parquet(
        versions.version_dir(manifest_dir, batch_id)
    )
    versions.publish(manifest_dir, batch_id)


def selection_sink(
    docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    query_name: str = "top-p-selection",
):
    """Start a streaming query maintaining the top-p manifest under
    ``store_dir`` from a document stream with columns
    (doc_id, text, source)."""
    os.makedirs(os.path.join(store_dir, _MANIFEST), exist_ok=True)

    return (
        docs.writeStream.foreachBatch(
            lambda df, bid: merge_batch(df, bid, store_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )


def read_manifest(spark: SparkSession, store_dir: str) -> DataFrame:
    return versions.read(spark, os.path.join(store_dir, _MANIFEST))
