"""Registry-wide physical-plan census (screening pass for optimization
rounds). For every registered query, builds the plan (nothing executed)
and counts the signals the optimization guide says to look for (§1.1,
§2.4, §3.1, §4): parquet scans per table (duplicated-subtree smell),
Exchange nodes, join strategies, Python-boundary nodes, cartesian
products. Output is one TSV row per query, sorted by the
duplicate-scan score, so recompute suspects float to the top. Usage::

    python tools/plan_census.py [sf_dir] [out_tsv]

Caveat: a persisted frame prints its InMemoryRelation build plan once
per reference, so queries that already persist intermediates can show
inflated textual scan counts; runtime A/B decides those. The census is
a screen, not a verdict.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def census(plan: str) -> dict[str, int]:
    scans: dict[str, int] = {}
    for m in re.finditer(r"Scan parquet[^\n]*?([a-z_0-9]+)\.parquet", plan):
        t = m.group(1)
        scans[t] = scans.get(t, 0) + 1
    return {
        "scan_total": sum(scans.values()),
        "scan_max_per_table": max(scans.values(), default=0),
        "n_tables": len(scans),
        "exchange": len(re.findall(r"\bExchange\b", plan)),
        "reused_exchange": len(re.findall(r"\bReusedExchange\b", plan)),
        "smj": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "bhj": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "bnlj": len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan)),
        "cartesian": len(re.findall(r"\bCartesianProduct\b", plan)),
        "py_batch": len(re.findall(r"\bBatchEvalPython\b", plan)),
        "py_arrow": len(
            re.findall(r"\bArrowEvalPython\b|\bMapInArrow\b|\bFlatMapGroupsInPandas\b", plan)
        ),
        "inmem": len(re.findall(r"\bInMemoryTableScan\b", plan)),
        "window": len(re.findall(r"\bWindow\b", plan)),
        "plan_kb": len(plan) // 1024,
    }


COLS = [
    "scan_total", "scan_max_per_table", "n_tables", "exchange",
    "reused_exchange", "smj", "bhj", "bnlj", "cartesian", "py_batch",
    "py_arrow", "inmem", "window", "plan_kb",
]


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    out_tsv = args[1] if len(args) > 1 else "/tmp/plan_census.tsv"

    from data_pipelines_worker_spark.queries import load_all
    from data_pipelines_worker_spark.session import get_spark, release_cached

    spark = get_spark("plan-census")
    registry = load_all()
    rows: list[tuple[str, dict[str, int]]] = []
    for name, (fn, _oracle) in sorted(registry.items()):
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            rows.append((name, census(plan)))
        except Exception as ex:  # noqa: BLE001 — screening must not die on one query
            print(f"{name}: FAILED {ex}", file=sys.stderr)
        finally:
            release_cached(spark)

    # duplicate-scan score: extra scans beyond one per distinct table
    rows.sort(key=lambda r: -(r[1]["scan_total"] - r[1]["n_tables"]))
    with open(out_tsv, "w") as f:
        f.write("query\t" + "\t".join(COLS) + "\n")
        for name, c in rows:
            f.write(name + "\t" + "\t".join(str(c[k]) for k in COLS) + "\n")
    print(f"wrote {out_tsv} ({len(rows)} queries)")
    for name, c in rows[:25]:
        extra = c["scan_total"] - c["n_tables"]
        print(
            f"{name:32s} extra_scans={extra:3d} exch={c['exchange']:2d} "
            f"smj={c['smj']} py={c['py_batch']}/{c['py_arrow']} "
            f"inmem={c['inmem']} kb={c['plan_kb']}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
