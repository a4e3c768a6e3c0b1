"""Dump ``explain('formatted')`` for named registry queries to files.

Usage::

    python tools/dump_query_plan.py <out_dir> <suffix> query [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` for each query — the
before/after plan evidence trail for optimization rounds
(``plans/r12/...``). Plan-only: nothing is executed.

Plans are written normalised (:func:`normalize_plan`): the ids Spark hands
out per session are replaced by fixed tokens, so two checkouts' dumps of the
same plan are byte-identical and a refactor's proof is
``diff -r before/ after/``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: per-session ids in a formatted plan: expression ids (``input_index#123L``,
#: a Python UDF's result ``gen(...)#45``), exchange/subquery plan ids,
#: Python function object addresses (``<function f at 0x7f...>``), JVM
#: identity hashes of folded constants (``UnsafeArrayData@3f24243f``), RDD
#: ids (``MapPartitionsRDD[57]`` of a checkpointed scan) and whole-stage
#: codegen ids (``[codegen id : 3]``, numbered in the order sibling stages
#: happen to be planned)
_SESSION_IDS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"0x[0-9a-fA-F]+"), "0xN"),
    (re.compile(r"(?<=Data)@[0-9a-f]+\b"), "@N"),
    (re.compile(r"(?<=RDD)\[\d+\]"), "[N]"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
)
#: an adaptive query stage's node details: its one argument is the stage
#: id, handed out as the stages materialise (``Arguments: 2``)
_QUERY_STAGE_ID = re.compile(r"(^\(\d+\) \w*QueryStage\n(?:.+\n)*?)Arguments: \d+$", re.M)
#: a higher-order function's lambda variable (``lambda x_7``): pyspark
#: numbers them from a per-process counter
_LAMBDA_VAR = re.compile(r"\blambda (\w+)_\d+\b")


def normalize_plan(plan: str) -> str:
    """``plan`` with every per-session id replaced by a fixed token."""
    for pattern, token in _SESSION_IDS:
        plan = pattern.sub(token, plan)
    plan = _QUERY_STAGE_ID.sub(r"\1Arguments: N", plan)
    for var in set(_LAMBDA_VAR.findall(plan)):
        plan = re.sub(rf"\b{re.escape(var)}_\d+#", f"{var}_N#", plan)
    return plan


def main() -> int:
    if len(sys.argv) < 4:
        print("usage: dump_query_plan.py out_dir suffix query [query ...]")
        return 2
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from data_pipelines_worker_spark.queries import load_all
    from data_pipelines_worker_spark.session import get_spark, release_cached

    spark = get_spark("plan-dump")
    registry = load_all()
    for name in names:
        if name not in registry:
            print(f"{name}: unknown query", file=sys.stderr)
            continue
        fn, _ = registry[name]
        df = fn(spark, sf_dir)
        plan = normalize_plan(
            df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
        # drop any persists the query body registered so the next
        # query's plan is built from a clean slate
        release_cached(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
