"""``tools/dump_query_plan.normalize_plan`` on plan text: no Spark needed."""

from __future__ import annotations

from tools.dump_query_plan import normalize_plan

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   CollectLimit (8)
   +- * Project (7)
      +- ShuffleQueryStage (6)
         +- Exchange (5)
            +- * Scan ExistingRDD (1)

(1) Scan ExistingRDD [codegen id : {cg1}]
Output [2]: [doc#{e1}L, h#{e2}L]
Arguments: [doc#{e1}L, h#{e2}L], MapPartitionsRDD[{rdd}] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(6) ShuffleQueryStage
Output [2]: [doc#{e1}L, h#{e2}L]
Arguments: {stage}

(7) Project [codegen id : {cg2}]
Output [1]: [doc#{e1}L]
Input [2]: [doc#{e1}L, h#{e2}L]

(8) CollectLimit
Input [1]: [doc#{e1}L]
Arguments: 21
"""


def test_session_ids_are_masked():
    one = PLAN.format(cg1=1, cg2=2, e1=12, e2=13, rdd=57, stage=0)
    two = PLAN.format(cg1=2, cg2=1, e1=40, e2=41, rdd=203, stage=3)
    assert one != two
    assert normalize_plan(one) == normalize_plan(two)
    out = normalize_plan(one)
    assert "[codegen id : N]" in out and "MapPartitionsRDD[N]" in out
    assert "(6) ShuffleQueryStage\nOutput [2]: [doc#NL, h#NL]\nArguments: N\n" in out
    # an argument that is part of the plan (the limit) stays
    assert "(8) CollectLimit\nInput [1]: [doc#NL]\nArguments: 21\n" in out
