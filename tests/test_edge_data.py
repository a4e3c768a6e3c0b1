"""Adversarial-data gate as a unit test: build the edge SF dir (empty /
one-word / all-stopword / repeated-space docs, half-cent money, exact
date boundaries, negative/NULL event values) and hash-compare the
queries that live closest to those divergence classes against DuckDB.

The full-registry run (`python tools/check_oracle.py /tmp/sf_edge`) is
the committed artifact (`ORACLE_EDGE_r05.txt`); this test keeps the six
formerly-red queries plus the boundary-date TPC-H shapes permanently
gated in CI.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

from data_pipelines_worker_spark.queries import load_all
from data_pipelines_worker_spark.session import TABLES
from tools.check_oracle import value_hash

# the six queries the gate's first run turned red, plus the boundary
# classes the edge rows target
EDGE_QUERIES = [
    "quality_score",
    "corpus_prep",
    "corpus_final_manifest",
    "mixture_sample",
    "ass_time_format",
    "approx_quantile_binned",
    "char_coverage",
    "quality_logit_filter",
    "q8_market_share",
    "q12_ship_delay_priority",
    "dq_checks",
    "latest_snapshot",
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf_edge"))
    subprocess.run(
        [sys.executable, "tools/make_edge_data.py", out],
        check=True,
        cwd=Path(__file__).resolve().parents[1],
    )
    return out


@pytest.mark.parametrize("name", EDGE_QUERIES)
def test_edge_query_matches_duckdb(spark, edge_dir, name):
    fn, oracle = load_all()[name]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{edge_dir}/{t}.parquet'")
    sdf = fn(spark, edge_dir)
    srows = [tuple(r) for r in sdf.collect()]
    spark.catalog.clearCache()
    rel = con.sql(oracle)
    drows = rel.fetchall()
    assert len(srows) == len(drows)
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert value_hash(srows, sdf.columns) == value_hash(drows, rel.columns)


def test_hybrid_rerank_survives_missing_query_vector(spark, edge_dir, tmp_path):
    # remove vec_id 0 (the fixed query embedding): every candidate must
    # degrade to lexical-only (NULL sim, doc_id rank order) on BOTH
    # engines — not an empty result, not a Spark-only fallback
    import shutil

    holey = tmp_path / "sf_holey"
    holey.mkdir()
    for t in TABLES:
        if t == "embeddings":
            continue  # written filtered below
        shutil.copy(f"{edge_dir}/{t}.parquet", str(holey / f"{t}.parquet"))
    con = duckdb.connect()
    con.sql(
        f"COPY (SELECT * FROM '{edge_dir}/embeddings.parquet' WHERE vec_id != 0)"
        f" TO '{holey}/embeddings.parquet'"
    )
    fn, oracle = load_all()["hybrid_retrieval_rerank"]
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{holey}/{t}.parquet'")
    sdf = fn(spark, str(holey))
    srows = [tuple(r) for r in sdf.collect()]
    spark.catalog.clearCache()
    rel = con.sql(oracle)
    drows = rel.fetchall()
    assert len(srows) == len(drows) == 10
    assert all(r[2] is None for r in srows)  # sim column all NULL
    assert value_hash(srows, sdf.columns) == value_hash(drows, rel.columns)
