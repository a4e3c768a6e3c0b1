"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row count, column names, and an
order-insensitive value hash. Usage::

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    return str(v)


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e
    from data_pipelines_worker_spark.session import TABLES, get_spark, release_cached

    spark = get_spark("oracle-check")
    con = duckdb.connect()

    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written parquet is a directory of parts
            p = f"{p}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            continue
        finally:
            # some queries persist() shared frames for intra-plan reuse;
            # drop them between queries so a full-registry session doesn't
            # accumulate pinned blocks
            release_cached(spark)
        t1 = time.time()
        if name not in oracles:
            print(f"ok?   {name}: rows={len(srows)} (no oracle, rows-only) [{t1-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            sh, dh = value_hash(srows, scols), value_hash(drows, dcols)
            if sh != dh:
                problems.append("value-hash mismatch")
                # show a few differing lines for debugging
                so = sorted(
                    "|".join(
                        _norm_cell(r[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for r in srows
                )
                do = sorted(
                    "|".join(
                        _norm_cell(r[i])
                        for i in sorted(range(len(dcols)), key=lambda i: dcols[i])
                    )
                    for r in drows
                )
                diff = [(a, b) for a, b in zip(so, do) if a != b][:3]
                for a, b in diff:
                    print(f"      spark:  {a[:160]}")
                    print(f"      duckdb: {b[:160]}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            failures.append(name)
        else:
            print(f"PASS  {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
