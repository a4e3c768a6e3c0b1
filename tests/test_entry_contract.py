"""Driver-contract smoke: entry() returns rows; every oracle key has a
query; a fast subset hash-matches DuckDB at sf0.001 (the full gate runs via
tools/check_oracle.py)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from data_pipelines_worker_spark.queries import load_all
from data_pipelines_worker_spark.session import TABLES
from tools.check_oracle import value_hash

FAST_QUERIES = [
    "wrap_text",
    "gather_join_strings",
    "q1_pricing_summary",
    "top_k_per_group",
    "token_count",
    "dedup_exact",
    "quality_logit_filter",
    "training_shards",
]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_oracle_keys_subset_of_queries():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30


@pytest.mark.parametrize("name", FAST_QUERIES)
def test_query_matches_duckdb(spark, sf_dir, name):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sdf = qs[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    rel = con.sql(oracles[name])
    drows = rel.fetchall()
    assert len(srows) == len(drows)
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert value_hash(srows, sdf.columns) == value_hash(drows, rel.columns)


def test_rotation_changed_head_then_stalest_first():
    # every registered query exactly once; the hand-kept changed-operator
    # head first; then staleness order derived from CORRECTNESS_r*.json
    # (last round checked ascending, never-checked as 0, ties by name)
    names = list(entrymod.queries())
    assert len(names) == len(set(names))
    assert set(names) == set(load_all())
    head = list(entrymod._CHANGED)
    assert names[: len(head)] == head
    last = entrymod._last_checked()
    assert last  # the committed records were found
    tail = names[len(head) :]
    assert tail == sorted(tail, key=lambda n: (last.get(n, 0), n))


@pytest.mark.slowsuite
def test_every_registered_query_analyzes(spark, sf_dir):
    """Catalyst analysis (schema resolution) must succeed for every
    registered query — catches unresolved columns/ambiguous joins at
    registration time without executing anything."""
    qs = entrymod.queries()
    failed = {}
    for name, fn in qs.items():
        try:
            _ = fn(spark, sf_dir).schema
        except Exception as ex:  # noqa: BLE001
            failed[name] = str(ex)[:200]
    assert not failed, failed


def test_bench_local_record_path_never_clobbers_derived(tmp_path):
    # VERDICT r8 #1 / r9 #2: two rounds running, the driver's
    # end-of-round bench run (env tag unset) overwrote the builder's
    # committed BENCH_LOCAL record. The derived tag must divert to a
    # .driver.json name on collision; an explicit tag may overwrite
    # (the builder's deliberate recert flow).
    import bench

    d = str(tmp_path)
    (tmp_path / "BENCH_r08.json").write_text("{}")
    # fresh round: derives r09
    assert bench.local_record_path(d, None).endswith("BENCH_LOCAL_r09.json")
    # builder committed its local record; a derived-tag rerun diverts
    (tmp_path / "BENCH_LOCAL_r09.json").write_text("{}")
    got = bench.local_record_path(d, None)
    assert got.endswith("BENCH_LOCAL_r09.driver.json")
    # a SECOND derived-tag run must not clobber the first diversion
    (tmp_path / "BENCH_LOCAL_r09.driver.json").write_text("{}")
    got = bench.local_record_path(d, None)
    assert got.endswith("BENCH_LOCAL_r09.driver2.json")
    # explicit tag keeps the plain name even when the file exists
    assert bench.local_record_path(d, "r09").endswith("BENCH_LOCAL_r09.json")
    # no BENCH_r files at all: round zero
    for f in tmp_path.iterdir():
        f.unlink()
    assert bench.local_record_path(d, None).endswith("BENCH_LOCAL_r00.json")
