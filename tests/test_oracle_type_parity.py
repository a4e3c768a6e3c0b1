"""Registry-wide output-type parity lint (round-6 diagnosis guard).

The r02–r05 driver-red streak was caused by oracle SQL returning DuckDB
HUGEINT (int128) columns — ``sum()`` over any integer expression — whose
Python conversion differs by fetch API (``fetchall`` → int, ``fetchdf``
→ float64, ``arrow`` → Decimal), so a stringified value-hash diverges
from Spark's BIGINT even when every numeric value is identical. See the
module docstring of ``queries/probe_queries.py`` for the full evidence
chain.

This test makes the whole class impossible to reintroduce:

1. No oracle query may return HUGEINT / UHUGEINT / DECIMAL — the types
   whose client conversion is API-dependent.
2. No Spark query may return DecimalType — same hazard on the Spark
   side (collect → decimal.Decimal, arrow → decimal128).
3. Per column name, the Spark type and DuckDB type must sit in the same
   conversion-equivalence class (long↔BIGINT, double↔DOUBLE, …), so
   both engines stringify a cell identically under every fetch API.

DuckDB relations are planned (not executed) via LIMIT 0 where possible;
Spark schemas come from the lazy DataFrame, so the lint is fast.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tests.conftest import SF_SMALL

# DuckDB type → equivalence class
_DUCK_CLASS = {
    "BIGINT": "int",
    "INTEGER": "int",
    "SMALLINT": "int",
    "TINYINT": "int",
    "UBIGINT": "int",
    "UINTEGER": "int",
    "DOUBLE": "float",
    "FLOAT": "float",
    "VARCHAR": "str",
    "BOOLEAN": "bool",
    "DATE": "date",
    "TIMESTAMP": "ts",
    "TIMESTAMP_NS": "ts",
    "TIMESTAMP WITH TIME ZONE": "ts",
    "BLOB": "bytes",
}

_BANNED_DUCK = ("HUGEINT", "UHUGEINT", "DECIMAL")


def _spark_class(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return "float"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.DecimalType):
        return "DECIMAL-BANNED"
    if isinstance(dt, T.ArrayType):
        return "array:" + _spark_class(dt.elementType)
    return type(dt).__name__


def _duck_class(t: str) -> str:
    t = str(t)
    if t.endswith("[]"):
        return "array:" + _duck_class(t[:-2])
    return _DUCK_CLASS.get(t, t)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        p = f"{SF_SMALL}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as e

    return e.queries(), e.oracle_sql()


def test_no_banned_duckdb_output_types(duck, registry):
    """No oracle result column may be HUGEINT/UHUGEINT/DECIMAL."""
    _, oracles = registry
    bad = {}
    for name, sql in sorted(oracles.items()):
        rel = duck.sql(sql)
        hits = [
            f"{c}:{t}"
            for c, t in zip(rel.columns, map(str, rel.types))
            if any(b in str(t) for b in _BANNED_DUCK)
        ]
        if hits:
            bad[name] = hits
    assert not bad, (
        "oracle queries returning client-conversion-unstable types "
        f"(add an outer CAST AS BIGINT / VARCHAR): {bad}"
    )


@pytest.mark.slowsuite
def test_spark_duckdb_type_classes_match(spark, duck, registry):
    """Per column, Spark and DuckDB output types must stringify alike."""
    qs, oracles = registry
    problems = {}
    for name, sql in sorted(oracles.items()):
        fn = qs[name]
        sdf = fn(spark, SF_SMALL)
        rel = duck.sql(sql)
        stypes = {f.name: _spark_class(f.dataType) for f in sdf.schema.fields}
        dtypes = {c: _duck_class(t) for c, t in zip(rel.columns, map(str, rel.types))}
        diffs = []
        for col in stypes:
            if col not in dtypes:
                diffs.append(f"{col}: missing in oracle")
            elif stypes[col] != dtypes[col]:
                diffs.append(f"{col}: spark={stypes[col]} duck={dtypes[col]}")
        if diffs:
            problems[name] = diffs
    assert not problems, f"type-class mismatches: {problems}"
