"""Streaming greedy max-coverage selection: maintain the batch
``greedy_coverage_selection`` manifest over a GROWING corpus — the
streaming face of the submodular coreset query, driven by the SAME round
kernel (``operators/selection.greedy_cover_rounds``) so the two faces
cannot fork.

Why this state shape is new (VERDICT r6 #4): greedy max-cover is even
less foldable than top-p — pick r's value depends on picks 1..r-1, so a
new document can cascade-invalidate the whole suffix of the selection.
What submodularity gives back is a MONOTONE upper-bound gate:

    a doc's marginal gain at ANY round is bounded by its total distinct
    unit count (gain can only shrink as coverage grows — the CELF/lazy-
    greedy inequality).

So each micro-batch:

1. appends its documents' distinct (doc, unit-digest) rows to the
   standing gram store, idempotently (``grams/batch=<id>`` overwritten
   on replay — the exactly-once pattern of ``streaming/sink.py``);
2. computes ``ub = max`` distinct-unit count over the batch's docs — ONE
   control-plane number — and compares it against the standing picks'
   gains: if ``ub < gain_r`` for every round r, no new doc can displace
   any pick (strict: ties re-examine, because the doc-id tie-break could
   flip), and the published manifest carries over UNTOUCHED — the fast
   path costs one aggregate on the batch frame;
3. otherwise recomputes ONLY rounds >= r* (the first contended round),
   seeding the kernel with the VERSIONED COVERED SET of round r*-1 —
   per-round cumulative covered-unit sets persisted next to the picks,
   the state that makes suffix recomputation possible without replaying
   the prefix. Any recompute runs over the FULL standing gram store, so
   the gate never causes a stale exclusion (it only decides WHERE to
   restart, never WHO is a candidate);
4. publishes picks + covered sets crash-safely through
   ``streaming/versions.py``: fresh ``v<batch_id>`` directory, atomic
   pointer swap, replay guard, one-version grace window for concurrent
   readers.

Re-emitted doc_ids (re-crawl that CHANGES a doc's units) invalidate the
gate's history, so they force a full recompute — detected with one
semi-join against the prior batches. The append-only crawl is the fast
path.

Units are word bigrams hashed to 64-bit digests (``xxhash64``): the
store carries longs, never text — at 100 TB the gram store is ~8 bytes
x distinct (doc, bigram), the same metadata-not-bodies discipline as
``streaming/selection.py``. Digest collisions would perturb counts with
probability ~|vocab|^2 / 2^65 (~1e-9 at 1e5 bigrams); the batch face
counts gram strings, so the parity tests double as a collision check on
the test corpora.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import explode_ngrams
from ..operators.selection import greedy_cover_rounds
from ..session import local_df
from . import versions

_GRAMS = "grams"
_MANIFEST = "manifest"
N_ROUNDS = 3

_PICK_COLS = ("round", "doc_id", "gain", "covered_after")


def doc_grams(docs: DataFrame) -> DataFrame:
    """(doc, w) — distinct word-bigram digests per document; the scan-
    stage map shared by every path into the gram store."""
    return (
        explode_ngrams(docs, "doc_id", "text", 2)
        .select(
            F.col("doc_id").alias("doc"),
            F.xxhash64("gram").alias("w"),
        )
        .distinct()
    )


def _standing_grams(spark: SparkSession, store_dir: str) -> DataFrame:
    """All stored grams with newest-batch-wins doc resolution (a
    re-emitted doc's old rows must not leak into the candidate pool)."""
    g = spark.read.parquet(os.path.join(store_dir, _GRAMS))
    newest = g.groupBy("doc").agg(F.max(F.col("batch").cast("long")).alias("_nb"))
    return (
        g.withColumn("batch", F.col("batch").cast("long"))
        .join(newest, "doc")
        .where(F.col("batch") == F.col("_nb"))
        .select("doc", "w")
    )


def merge_batch(
    batch_df: DataFrame, batch_id: int, store_dir: str, n_rounds: int = N_ROUNDS
) -> None:
    """Apply one micro-batch of documents (doc_id, text) to the published
    coverage manifest (module-level so the at-least-once replay path is
    unit-testable)."""
    manifest_dir = os.path.join(store_dir, _MANIFEST)
    if versions.applied(manifest_dir, batch_id):
        return
    standing_path = versions.current(manifest_dir)
    spark = batch_df.sparkSession

    grams = doc_grams(batch_df).localCheckpoint()
    # no explicit `batch` data column: every reader scans the store ROOT,
    # so partition discovery of the batch=<id> directory supplies it
    # (matching the selection.py store layout; a duplicated in-file copy
    # would lean on reader-side partition/data-column reconciliation).
    grams.write.mode("overwrite").parquet(
        os.path.join(store_dir, _GRAMS, f"batch={batch_id}")
    )

    first_round = 1
    prior_picks: list = []
    if standing_path is not None:
        prior_picks = sorted(
            spark.read.parquet(os.path.join(standing_path, "picks")).collect(),
            key=lambda r: r["round"],
        )
        # the CELF gate: one control-plane number per batch
        ub_row = grams.groupBy("doc").agg(F.count("*").alias("n")).agg(
            F.max("n").alias("ub")
        ).collect()
        ub = ub_row[0]["ub"] if ub_row and ub_row[0]["ub"] is not None else 0
        # a re-emitted doc invalidates the gate's history outright
        prior_batches = spark.read.parquet(
            os.path.join(store_dir, _GRAMS)
        ).where(F.col("batch").cast("long") != batch_id)
        reemitted = (
            prior_batches.join(
                grams.select("doc").distinct(), "doc", "semi"
            ).limit(1).count()
            > 0
        )
        if reemitted:
            first_round = 1
        else:
            contended = [r["round"] for r in prior_picks if r["gain"] <= ub]
            if not contended:
                return  # fast path: manifest carries over untouched
            first_round = min(contended)

    tok = _standing_grams(spark, store_dir)
    covered_cnt = None
    if first_round > 1:
        # seed from the versioned covered set of round r*-1
        prev_covered = spark.read.parquet(
            os.path.join(standing_path, f"covered_r{first_round - 1}")
        ).localCheckpoint()
        kept_docs = [r["doc_id"] for r in prior_picks if r["round"] < first_round]
        tok = tok.join(F.broadcast(prev_covered), "w", "left_anti").where(
            ~F.col("doc").isin(kept_docs)
        )
        covered_cnt = local_df(
            spark,
            [(int(prior_picks[first_round - 2]["covered_after"]),)],
            "covered_after long",
        )

    rows, newly_frames = greedy_cover_rounds(
        tok.localCheckpoint(),
        n_rounds - (first_round - 1),
        first_round=first_round,
        covered_cnt=covered_cnt,
    )

    # assemble the new version: carried prefix + recomputed suffix
    vdir = versions.version_dir(manifest_dir, batch_id)
    picks = None
    if first_round > 1:
        picks = local_df(
            spark,
            [
                (
                    int(r["round"]),
                    int(r["doc_id"]),
                    int(r["gain"]),
                    int(r["covered_after"]),
                )
                for r in prior_picks
                if r["round"] < first_round
            ],
            "round long, doc_id long, gain long, covered_after long",
        )
    for frame in rows:
        picks = frame if picks is None else picks.unionByName(frame)
    picks.select(*_PICK_COLS).write.mode("overwrite").parquet(
        os.path.join(vdir, "picks")
    )
    # versioned cumulative covered sets: carried prefix copied forward,
    # recomputed suffix accumulated from the kernel's newly-frames
    cum = None
    if first_round > 1:
        cum = spark.read.parquet(
            os.path.join(standing_path, f"covered_r{first_round - 1}")
        )
        for r in range(1, first_round):
            spark.read.parquet(
                os.path.join(standing_path, f"covered_r{r}")
            ).write.mode("overwrite").parquet(os.path.join(vdir, f"covered_r{r}"))
    for r, newly in newly_frames:
        cum = newly if cum is None else cum.unionByName(newly).distinct()
        cum = cum.localCheckpoint()
        cum.write.mode("overwrite").parquet(os.path.join(vdir, f"covered_r{r}"))
    versions.publish(manifest_dir, batch_id)


def coverage_sink(
    docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    query_name: str = "greedy-coverage",
):
    """Start a streaming query maintaining the greedy-coverage manifest
    under ``store_dir`` from a document stream with columns
    (doc_id, text)."""
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
    return versions.read(spark, os.path.join(store_dir, _MANIFEST), "picks")
