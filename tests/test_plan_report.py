"""tools/plan_report.py: final-plan-only operator counting (r3 VERDICT
item #4)."""

from __future__ import annotations

from tools import plan_report

# A condensed executed-AQE explain("formatted"): nested cached plan with its
# own Final/Initial sections, a top-level Initial section whose replaced
# nodes (13, 14, 28-34) have their own detail entries, and the detail zone.
_AQE_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (35)
+- == Final Plan ==
   ResultQueryStage (27)
   +- * HashAggregate (26)
      +- AQEShuffleRead (25)
         +- ShuffleQueryStage (24), Statistics(sizeInBytes=672.0 B)
            +- Exchange (23)
               +- * BroadcastHashJoin Inner BuildRight (20)
                  :- * Project (3)
                  :  +- * Range (1)
                  +- BroadcastQueryStage (19)
                     +- BroadcastExchange (18)
                        +- TableCacheQueryStage (16)
                           +- InMemoryTableScan (4) (columnarIn=false)
                                 +- InMemoryRelation (5)
                                       +- AdaptiveSparkPlan (15)
                                       +- == Final Plan ==
                                          ResultQueryStage (12)
                                          +- ShuffleQueryStage (10)
                                             +- Exchange (9)
                                                +- * Range (6)
                                       +- == Initial Plan ==
                                          HashAggregate (14)
                                          +- Exchange (13)
                                             +- Range (6)
+- == Initial Plan ==
   HashAggregate (34)
   +- Exchange (33)
      +- BroadcastHashJoin Inner BuildRight (30)
         :- Project (3)
         :  +- Range (1)
         +- BroadcastExchange (29)
            +- InMemoryTableScan (4) (columnarIn=false)

(1) Range
Output [1]: [id#0L]

(3) Project
Output [2]: [id#0L, k#1L]

(4) InMemoryTableScan
Output [2]: [k#1L, count#2L]

(6) Range
Output [1]: [id#0L]

(9) Exchange
Arguments: hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS

(13) Exchange
Arguments: hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS

(14) HashAggregate
Keys [1]: [k#1L]

(18) BroadcastExchange
Arguments: HashedRelationBroadcastMode

(20) BroadcastHashJoin
Join condition: None

(23) Exchange
Arguments: hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS

(26) HashAggregate
Keys [1]: [k#1L]

(29) BroadcastExchange
Arguments: HashedRelationBroadcastMode

(30) BroadcastHashJoin
Join condition: None

(33) Exchange
Arguments: hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS

(34) HashAggregate
Keys [1]: [k#1L]
"""


def test_plan_report_counts_final_plan_only():
    ids = plan_report.final_plan_ids(_AQE_PLAN)
    # Initial-plan-only nodes excluded, at BOTH nesting levels
    assert {13, 14, 28, 29, 30, 33, 34}.isdisjoint(ids)
    # final-plan nodes present, incl. the nested cached plan's final section
    assert {1, 3, 4, 9, 18, 20, 23, 26}.issubset(ids)
    s = plan_report.summarize(_AQE_PLAN)
    # Exchange(23) + Exchange(9) + BroadcastExchange(18); NOT 13/29/33
    assert s["exchanges"] == 3
    assert s["broadcast_joins"] == 1
    assert not s["cartesian"]


def test_plan_report_handles_plain_plans():
    plain = """== Physical Plan ==
* HashAggregate (3)
+- Exchange (2)
   +- * Range (1)

(1) Range
Output [1]: [id#0L]

(2) Exchange
Arguments: hashpartitioning(id#0L, 8)

(3) HashAggregate
Keys [1]: [id#0L]
"""
    assert plan_report.summarize(plain)["exchanges"] == 1
