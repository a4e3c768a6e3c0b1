"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (the reference's canonical pipeline
spine: scan → JSONPath fan-out → scalar transform → ordered gather →
join_strings) on sf0.001.

``queries()`` / ``oracle_sql()`` — built from the package's query registry
(data_pipelines_worker_spark/queries/*): one entry per implemented operator
from SURVEY.md §2, plus the beyond-reference scale operators (dedup,
similarity search, text analysis).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from data_pipelines_worker_spark.queries import load_all

_SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: explode → wrap_text → gather → join_strings over the
    documents table (the yt-short pipeline spine, SURVEY §7 M1)."""
    registry = load_all()
    fn, _ = registry["gather_join_strings"]
    return fn(spark, _SF0001)


# The external correctness check records at most ~50 rows, taking them in
# dict order. The queries whose operator body the latest change touched
# head the window: that check's oracle is the only independent hash
# authority, and a rebuilt operator must not ship unchecked. Every other query
# follows in staleness order, derived from the committed
# CORRECTNESS_r*.json records: last round checked, never-checked first,
# ties alphabetical. tools/check_oracle.py's triple-gate runs stay the
# backstop for the tail the window cannot reach.
_CHANGED = (
    # the queries that reach the near-dup pair kernels (candidate
    # self-join, exact-Jaccard verify, df-cap, exact collapse) of
    # operators/dedup.py
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_graph_pagerank",
    "containment_dedup",
    "dedup_allpairs_prefix",
    "dedup_weighted_jaccard",
    "dedup_clusters",
    "dedup_clusters_logstar",
    "leakage_safe_split",
    "audio_fingerprint_dedup",
)


def _last_checked() -> dict[str, int]:
    """Query name -> last round whose CORRECTNESS record checked it."""
    last: dict[str, int] = {}
    for path in Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.split("_r")[1])
        for name in json.loads(path.read_text()):
            last[name] = max(rnd, last.get(name, 0))
    return last


def _ordered() -> dict[str, tuple]:
    registry = load_all()
    last = _last_checked()
    tail = sorted(set(registry) - set(_CHANGED), key=lambda n: (last.get(n, 0), n))
    return {n: registry[n] for n in (*_CHANGED, *tail)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _oracle) in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: oracle
        for name, (_fn, oracle) in _ordered().items()
        if oracle is not None
    }
