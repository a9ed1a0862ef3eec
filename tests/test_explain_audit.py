"""tools/explain_audit.py counts a query's own plan nodes: a cached
frame's nested build plan (under ``InMemoryRelation``) and the AQE
"Initial Plan" sections are not counted. Pure string; no Spark."""

from __future__ import annotations

import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# executed plan of a query over a cache built from another cache, as
# Spark 4 prints it (lines cut at 96 chars). Nested cached plans print
# "== Final Plan ==" headers at columns left of their InMemoryRelation,
# so indentation alone cannot bound a subtree. The query's own final
# plan holds 4 exchanges; the cached subtrees hold 2 more.
PLAN = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 5
   +- *(5) BroadcastNestedLoopJoin BuildRight, Cross
      :- *(5) HashAggregate(keys=[], functions=[count(1)], output=[n#64L])
      :  +- ShuffleQueryStage 2
      :     +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=161]
      :        +- *(2) HashAggregate(keys=[], functions=[partial_count(1)], output=[count#104L])
      :           +- TableCacheQueryStage 0
      :              +- InMemoryTableScan
      :                    +- InMemoryRelation [k#1L, c2#18L], StorageLevel(disk, memory, deseri
      :                          +- AdaptiveSparkPlan isFinalPlan=true
                                 +- == Final Plan ==
                                    ResultQueryStage 1
                                    +- *(1) Project [k#1L, (count#2L * 2) AS c2#18L]
                                       +- TableCacheQueryStage 0
                                          +- InMemoryTableScan [count#2L, k#1L]
                                                +- InMemoryRelation [k#1L, count#2L], StorageLev
                                                      +- AdaptiveSparkPlan isFinalPlan=true
                     +- == Final Plan ==
                        ResultQueryStage 1
                        +- *(2) HashAggregate(keys=[_groupingexpression#5L], functions=[count(1)
                           +- ShuffleQueryStage 0
                              +- Exchange hashpartitioning(_groupingexpression#5L, 8), ENSURE_RE
                                 +- *(1) HashAggregate(keys=[_groupingexpression#5L], functions=
                                    +- *(1) Project [(id#0L % 7) AS _groupingexpression#5L]
                                       +- *(1) Range (0, 1000, step=1, splits=2)
                     +- == Initial Plan ==
                        HashAggregate(keys=[_groupingexpression#5L], functions=[count(1)], outpu
                        +- Exchange hashpartitioning(_groupingexpression#5L, 8), ENSURE_REQUIREM
                           +- HashAggregate(keys=[_groupingexpression#5L], functions=[partial_co
                              +- Project [(id#0L % 7) AS _groupingexpression#5L]
                                 +- Range (0, 1000, step=1, splits=2)
                                 +- == Initial Plan ==
                                    Project [k#1L, (count#2L * 2) AS c2#18L]
                                    +- InMemoryTableScan [count#2L, k#1L]
                                          +- InMemoryRelation [k#1L, count#2L], StorageLevel(dis
                                                +- AdaptiveSparkPlan isFinalPlan=true
               +- == Final Plan ==
                  ResultQueryStage 1
                  +- *(2) HashAggregate(keys=[_groupingexpression#5L], functions=[count(1)], out
                     +- ShuffleQueryStage 0
                        +- Exchange hashpartitioning(_groupingexpression#5L, 8), ENSURE_REQUIREM
                           +- *(1) HashAggregate(keys=[_groupingexpression#5L], functions=[parti
                              +- *(1) Project [(id#0L % 7) AS _groupingexpression#5L]
                                 +- *(1) Range (0, 1000, step=1, splits=2)
               +- == Initial Plan ==
                  HashAggregate(keys=[_groupingexpression#5L], functions=[count(1)], output=[k#1
                  +- Exchange hashpartitioning(_groupingexpression#5L, 8), ENSURE_REQUIREMENTS,
                     +- HashAggregate(keys=[_groupingexpression#5L], functions=[partial_count(1)
                        +- Project [(id#0L % 7) AS _groupingexpression#5L]
                           +- Range (0, 1000, step=1, splits=2)
      +- BroadcastQueryStage 4
         +- BroadcastExchange IdentityBroadcastMode, [plan_id=236]
            +- *(4) HashAggregate(keys=[], functions=[sum(m#61L)], output=[s#68L])
               +- ShuffleQueryStage 3
                  +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=201]
                     +- *(3) HashAggregate(keys=[], functions=[partial_sum(m#61L)], output=[sum#
                        +- *(3) HashAggregate(keys=[_groupingexpression#92L], functions=[max(id#
                           +- AQEShuffleRead coalesced
                              +- ShuffleQueryStage 1
                                 +- Exchange hashpartitioning(_groupingexpression#92L, 8), ENSUR
                                    +- *(1) HashAggregate(keys=[_groupingexpression#92L], functi
                                       +- *(1) Project [id#59L, (id#59L % 5) AS _groupingexpress
                                          +- *(1) Range (0, 40, step=1, splits=2)
+- == Initial Plan ==
   BroadcastNestedLoopJoin BuildRight, Cross
   :- HashAggregate(keys=[], functions=[count(1)], output=[n#64L])
   :  +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=60]
   :     +- HashAggregate(keys=[], functions=[partial_count(1)], output=[count#104L])
   :        +- InMemoryTableScan
   :              +- InMemoryRelation [k#1L, c2#18L], StorageLevel(disk, memory, deserialized, 1
   :                    +- AdaptiveSparkPlan isFinalPlan=true
                        +- == Final Plan ==
                           ResultQueryStage 1
                           +- *(1) Project [k#1L, (count#2L * 2) AS c2#18L]
                              +- TableCacheQueryStage 0
                                 +- InMemoryTableScan [count#2L, k#1L]
                                       +- InMemoryRelation [k#1L, count#2L], StorageLevel(disk,
                                             +- AdaptiveSparkPlan isFinalPlan=true
                     +- == Final Plan ==
                        ResultQueryStage 1
                        +- *(2) HashAggregate(keys=[_groupingexpression#5L], functions=[count(1)
                           +- ShuffleQueryStage 0
                              +- Exchange hashpartitioning(_groupingexpression#5L, 8), ENSURE_RE
                                 +- *(1) HashAggregate(keys=[_groupingexpression#5L], functions=
                                    +- *(1) Project [(id#0L % 7) AS _groupingexpression#5L]
                                       +- *(1) Range (0, 1000, step=1, splits=2)
                     +- == Initial Plan ==
                        HashAggregate(keys=[_groupingexpression#5L], functions=[count(1)], outpu
                        +- Exchange hashpartitioning(_groupingexpression#5L, 8), ENSURE_REQUIREM
                           +- HashAggregate(keys=[_groupingexpression#5L], functions=[partial_co
                              +- Project [(id#0L % 7) AS _groupingexpression#5L]
                                 +- Range (0, 1000, step=1, splits=2)
                        +- == Initial Plan ==
                           Project [k#1L, (count#2L * 2) AS c2#18L]
                           +- InMemoryTableScan [count#2L, k#1L]
                                 +- InMemoryRelation [k#1L, count#2L], StorageLevel(disk, memory
                                       +- AdaptiveSparkPlan isFinalPlan=true
               +- == Final Plan ==
                  ResultQueryStage 1
                  +- *(2) HashAggregate(keys=[_groupingexpression#5L], functions=[count(1)], out
                     +- ShuffleQueryStage 0
                        +- Exchange hashpartitioning(_groupingexpression#5L, 8), ENSURE_REQUIREM
                           +- *(1) HashAggregate(keys=[_groupingexpression#5L], functions=[parti
                              +- *(1) Project [(id#0L % 7) AS _groupingexpression#5L]
                                 +- *(1) Range (0, 1000, step=1, splits=2)
               +- == Initial Plan ==
                  HashAggregate(keys=[_groupingexpression#5L], functions=[count(1)], output=[k#1
                  +- Exchange hashpartitioning(_groupingexpression#5L, 8), ENSURE_REQUIREMENTS,
                     +- HashAggregate(keys=[_groupingexpression#5L], functions=[partial_count(1)
                        +- Project [(id#0L % 7) AS _groupingexpression#5L]
                           +- Range (0, 1000, step=1, splits=2)
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=69]
      +- HashAggregate(keys=[], functions=[sum(m#61L)], output=[s#68L])
         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=66]
            +- HashAggregate(keys=[], functions=[partial_sum(m#61L)], output=[sum#106L])
               +- HashAggregate(keys=[_groupingexpression#92L], functions=[max(id#59L)], output=
                  +- Exchange hashpartitioning(_groupingexpression#92L, 8), ENSURE_REQUIREMENTS,
                     +- HashAggregate(keys=[_groupingexpression#92L], functions=[partial_max(id#
                        +- Project [id#59L, (id#59L % 5) AS _groupingexpression#92L]
                           +- Range (0, 40, step=1, splits=2)
"""


def _load():
    spec = importlib.util.spec_from_file_location(
        "explain_audit", REPO / "tools" / "explain_audit.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_cached_subtree_is_not_counted():
    audit = _load()
    outer = audit.outer_plan(PLAN)
    assert "Range (0, 1000" not in outer  # the cached aggregate
    assert "BroadcastQueryStage 4" in outer  # the join's other side
    assert "== Initial Plan ==" not in outer
    line = audit.summary_line("q", PLAN)
    assert "exchanges= 4 " in line
    assert "codegen=5 " in line
