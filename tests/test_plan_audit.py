"""The plan audit counts RESIDUAL plans: everything printed inside an
InMemoryRelation (a cached frame's build lineage, which runs once per
session, not once per query) is dropped before counting."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from plan_audit import _strip_cached_subtrees  # noqa: E402

# executedPlan().toString() of an AQE query joining a persisted, counted
# aggregate (Spark 4.1): the cached subtree prints its own Final and
# Initial plans, once under each of the consumer's Final and Initial plans
PLAN = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 3
   +- *(3) HashAggregate(keys=[k#75L], functions=[sum(n#2L)], output=[k#75L, s#76L])
      +- AQEShuffleRead coalesced
         +- ShuffleQueryStage 2
            +- Exchange hashpartitioning(k#75L, 2), ENSURE_REQUIREMENTS, [plan_id=237]
               +- *(2) HashAggregate(keys=[k#75L], functions=[partial_sum(n#2L)], output=[k#75L, sum#112L])
                  +- *(2) Project [k#75L, n#2L]
                     +- *(2) BroadcastHashJoin [k#75L], [k#1L], Inner, BuildRight, false
                        :- *(2) Project [(id#74L % 5) AS k#75L]
                        :  +- *(2) Filter isnotnull((id#74L % 5))
                        :     +- *(2) Range (0, 20, step=1, splits=2)
                        +- BroadcastQueryStage 1
                           +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=190]
                              +- *(1) Filter isnotnull(k#1L)
                                 +- TableCacheQueryStage 0
                                    +- InMemoryTableScan [k#1L, n#2L], [isnotnull(k#1L)]
                                          +- InMemoryRelation [k#1L, n#2L], StorageLevel(disk, memory, deserialized, 1 replicas)
                                                +- AdaptiveSparkPlan isFinalPlan=true
                                                +- == Final Plan ==
                                                   ResultQueryStage 1
                                                   +- *(2) HashAggregate(keys=[k#1L], functions=[count(1)], output=[k#1L, n#2L])
                                                      +- ShuffleQueryStage 0
                                                         +- Exchange hashpartitioning(k#1L, 2), ENSURE_REQUIREMENTS, [plan_id=46]
                                                            +- *(1) HashAggregate(keys=[k#1L], functions=[partial_count(1)], output=[k#1L, count#7L])
                                                               +- *(1) Project [(id#0L % 7) AS k#1L]
                                                                  +- *(1) Range (0, 100, step=1, splits=2)
                                                +- == Initial Plan ==
                                                   HashAggregate(keys=[k#1L], functions=[count(1)], output=[k#1L, n#2L])
                                                   +- Exchange hashpartitioning(k#1L, 2), ENSURE_REQUIREMENTS, [plan_id=15]
                                                      +- HashAggregate(keys=[k#1L], functions=[partial_count(1)], output=[k#1L, count#7L])
                                                         +- Project [(id#0L % 7) AS k#1L]
                                                            +- Range (0, 100, step=1, splits=2)
+- == Initial Plan ==
   HashAggregate(keys=[k#75L], functions=[sum(n#2L)], output=[k#75L, s#76L])
   +- Exchange hashpartitioning(k#75L, 2), ENSURE_REQUIREMENTS, [plan_id=121]
      +- HashAggregate(keys=[k#75L], functions=[partial_sum(n#2L)], output=[k#75L, sum#112L])
         +- Project [k#75L, n#2L]
            +- BroadcastHashJoin [k#75L], [k#1L], Inner, BuildRight, false
               :- Project [(id#74L % 5) AS k#75L]
               :  +- Filter isnotnull((id#74L % 5))
               :     +- Range (0, 20, step=1, splits=2)
               +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=116]
                  +- Filter isnotnull(k#1L)
                     +- InMemoryTableScan [k#1L, n#2L], [isnotnull(k#1L)]
                           +- InMemoryRelation [k#1L, n#2L], StorageLevel(disk, memory, deserialized, 1 replicas)
                                 +- AdaptiveSparkPlan isFinalPlan=true
                                 +- == Final Plan ==
                                    ResultQueryStage 1
                                    +- *(2) HashAggregate(keys=[k#1L], functions=[count(1)], output=[k#1L, n#2L])
                                       +- ShuffleQueryStage 0
                                          +- Exchange hashpartitioning(k#1L, 2), ENSURE_REQUIREMENTS, [plan_id=46]
                                             +- *(1) HashAggregate(keys=[k#1L], functions=[partial_count(1)], output=[k#1L, count#7L])
                                                +- *(1) Project [(id#0L % 7) AS k#1L]
                                                   +- *(1) Range (0, 100, step=1, splits=2)
                                 +- == Initial Plan ==
                                    HashAggregate(keys=[k#1L], functions=[count(1)], output=[k#1L, n#2L])
                                    +- Exchange hashpartitioning(k#1L, 2), ENSURE_REQUIREMENTS, [plan_id=15]
                                       +- HashAggregate(keys=[k#1L], functions=[partial_count(1)], output=[k#1L, count#7L])
                                          +- Project [(id#0L % 7) AS k#1L]
                                             +- Range (0, 100, step=1, splits=2)
"""


def _counts(plan: str) -> tuple[int, int, int]:
    return plan.count("Exchange "), plan.count("Range (0, 100"), plan.count("Range (0, 20")


def test_strip_keeps_residual_plan_only():
    assert _counts(PLAN) == (8, 4, 2)
    stripped = _strip_cached_subtrees(PLAN)
    # the consumer's shuffle + broadcast exchange in each of its two plans
    # stay; the cached aggregate's exchanges and scan are gone
    assert _counts(stripped) == (4, 0, 2)
    assert stripped.count("InMemoryRelation") == 2
    assert stripped.count("== Initial Plan ==") == 1
    assert stripped.splitlines()[-1].strip().startswith("+- InMemoryRelation")


def test_blank_line_inside_cached_subtree_does_not_end_the_skip():
    blank = PLAN.replace("1 replicas)\n", "1 replicas)\n\n")
    assert blank.count("\n\n") == 2
    assert _strip_cached_subtrees(blank) == _strip_cached_subtrees(PLAN)
