"""Plan budgets of CQR op-trees and kNN batches.

Every CQR set op reads its join once (complement rows, operators/cqr.py),
so a ``docs`` tree is one plan and one SQL execution, with no checkpoint
queries beneath it; so is a GeoHierarchy region tree on the same ops.
In-memory plans would include the cached build lineage, so the CQR counts
are taken over a catalog engine at s2-10.  A
kNN batch is one broadcast candidate dimension and Spark's own
per-partition top-k; its plan is pinned over a local mention frame.
"""

from __future__ import annotations

import re
import time

import pytest

import __spark_entry__ as entrymod
from oscar_spatial_index_compare_spark.operators.gh_hcqr import gh_hcqr_docs
from oscar_spatial_index_compare_spark.plans.optree import Node, parse
from tests.test_gh_hcqr import DEEP_TREE, cp  # cp: the GH pieces fixture
from tests.test_local_frames import knn_batch

DEEPEST = entrymod._OPTREES_ZXY["optree_nested"]
TREES = ["join / dup", "join - dup", "dup ^ spark",
         "(join + dup) / window - spark", DEEPEST]


def _last_execution_id(spark) -> int:
    """The newest SQL execution id in the status store.  Ids only grow,
    and the newest are kept when old ones are evicted, so a difference
    of two readings counts executions even in a long session."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    return executions.last().executionId() if executions.nonEmpty() else -1


def _size(n: Node) -> int:
    return 1 + sum(_size(a) for a in n.args if isinstance(a, Node))


@pytest.mark.parametrize("tree", TREES)
def test_cqr_docs_tree_is_one_execution(spark, cat_engine, tree):
    planner = cat_engine.planner("s2", 10)
    planner.docs(tree).count()  # loads the covering and per-context state
    before = _last_execution_id(spark)
    planner.docs(tree).count()
    assert _last_execution_id(spark) - before == 1, tree


def test_gh_docs_tree_is_one_execution(spark, cp):
    """A GH region tree runs the CQR set ops with no checkpoint: building
    and counting the deepest tree is one SQL execution."""
    gh_hcqr_docs(spark, DEEP_TREE, cp).count()  # materializes the cached pieces
    before = _last_execution_id(spark)
    gh_hcqr_docs(spark, DEEP_TREE, cp).count()
    assert _last_execution_id(spark) - before == 1


def test_deepest_tree_plans_in_linear_size_and_bounded_time(cat_engine):
    """Catalyst must not blow up on the deepest oracle tree: the optimized
    plan holds at most one join per tree node plus the flatten's, and
    optimizing and physically planning the analyzed tree (no Python plan
    building, no job) takes ~0.13 s on a 4-core host, so a 5 s bound
    leaves a ~40x margin and still catches a blow-up's minutes."""
    planner = cat_engine.planner("s2", 10)
    planner.docs(DEEPEST)  # loads the covering and per-context state
    df = planner.docs(DEEPEST)  # analyzed as it is built
    t0 = time.perf_counter()
    qe = df._jdf.queryExecution()
    joins = qe.optimizedPlan().toString().count("Join ")
    qe.executedPlan()
    took = time.perf_counter() - t0
    assert 0 < joins <= _size(parse(DEEPEST)) + 1
    assert took < 5.0, f"{took:.1f} s to optimize and plan {DEEPEST}"


_ARRAY_FNS = ("array_except(", "array_union(", "array_intersect(", "array_sort(")


@pytest.mark.parametrize("tree", TREES)
def test_set_op_case_runs_once_per_joined_row(cat_engine, tree):
    """Each array function of a tree's CASE projections appears in the
    optimized plan as often as in the analyzed one: no filter over a CASE
    result is pushed below its projection with the CASE copied into it."""
    qe = cat_engine.planner("s2", 10).docs(tree)._jdf.queryExecution()
    analyzed, optimized = qe.analyzed().toString(), qe.optimizedPlan().toString()
    assert analyzed.count("array_except(") > 0
    for fn in _ARRAY_FNS:
        assert optimized.count(fn) == analyzed.count(fn), (tree, fn)


def test_knn_batch_plan_has_one_broadcast_and_no_python(spark):
    """One broadcast hash join on the candidate dimension, no Python node,
    and the bounded heap as a partial ``WindowGroupLimit`` before the
    window's shuffle."""
    plan = knn_batch(spark)()._jdf.queryExecution().executedPlan().toString()
    assert not re.search("MapInPandas|ArrowEvalPython|BatchEvalPython", plan)
    assert plan.count("BroadcastExchange") == 1
    assert len(re.findall(r"WindowGroupLimit .*, Partial", plan)) == 1
