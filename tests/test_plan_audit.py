"""Unit tests of the plan-audit cartesian classifier on plan strings."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "tools"))

from plan_audit import bounded_cartesians  # noqa: E402

_CHECKPOINTED = """\
== Physical Plan ==
AdaptiveSparkPlan isFinalPlan=false
+- Project [a#1, b#2]
   +- CartesianProduct (a#1 < b#2)
      :- Scan ExistingRDD[a#1]
      +- Scan ExistingRDD[b#2]
"""

_REUSED = """\
== Physical Plan ==
AdaptiveSparkPlan isFinalPlan=true
+- Union
   :- HashAggregate(keys=[k#1], functions=[count(1)])
   :  +- ShuffleQueryStage 0
   :     +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=10]
   :        +- FileScan parquet [k#1] Batched: true, Format: Parquet
   +- CartesianProduct (k#1 < x#3)
      :- ShuffleQueryStage 1
      :  +- ReusedExchange [k#1], Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=10]
      +- LocalTableScan [x#3]
"""

_LITERAL = """\
== Physical Plan ==
CartesianProduct (a#1 < b#2)
:- LocalTableScan [a#1]
+- LocalTableScan [b#2]
"""


def test_checkpointed_input_under_cartesian_is_risky():
    # a barrier() checkpoint hides the scan of a data-sized relation
    assert bounded_cartesians(_CHECKPOINTED) == (0, 1)
    assert bounded_cartesians(_CHECKPOINTED, "pagerank") == (0, 1)


def test_reused_exchange_under_cartesian_is_risky():
    # the scan sits under the first Union branch only; the cartesian
    # sees it through the reused shuffle
    assert bounded_cartesians(_REUSED) == (0, 1)


def test_level_ladder_queries_are_allowlisted_by_name():
    assert bounded_cartesians(_CHECKPOINTED, "eaglemine_clusters") == (1, 0)
    assert bounded_cartesians(_REUSED, "eaglemine_anderson") == (1, 0)
    # a file scan below is risky even in an allowlisted query
    scan = _LITERAL.replace("LocalTableScan [b#2]", "FileScan parquet [b#2]")
    assert bounded_cartesians(scan, "eaglemine_stitch") == (0, 1)


def test_literal_inputs_stay_bounded():
    assert bounded_cartesians(_LITERAL) == (1, 0)
