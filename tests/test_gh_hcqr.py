"""GeoHierarchy HCQR completer (operators/gh_hcqr.py; reference
``src/GeoHierarchyHCQRCompleter.cpp:17-33``): region leaves as pm CQR rows
under the CQR set ops.

The driver entry ``hcqr_docs_gh_region`` oracle-checks one region-rooted
tree; these tests add the cross-engine differential the reference runs
between its completers (``apps/main.cpp:193-205``) over every op kind,
plus the reference-parity error paths.  ``tests/test_plan_budgets.py``
pins the deepest tree at one SQL execution.
"""

import pytest
from pyspark.sql import functions as F

from oscar_spatial_index_compare_spark.operators.gh_hcqr import gh_hcqr_docs
from oscar_spatial_index_compare_spark.operators.index_build import (
    cell_postings,
    mention_cells,
)

GRID, RES = "zxy", 9

DEEP_TREE = ("((($region:2 + $region:6) - $region:1) / "
             "(($region:2 - $region:1) + ($region:6 / $region:2))) "
             "+ ($region:1 - $region:6)")
# region-rooted trees covering every op the completer answers: leaf, ∪,
# ∩ (both spellings), −, nesting, and the disjoint/empty interactions
TREES = [
    "$region:2",
    "$region:2 + $region:6",
    "$region:2 / $region:1",
    "$region:2 $region:1",
    "$region:2 - $region:1",
    "($region:2 - $region:1) / ($region:2 + $region:6)",
    "($region:1 + $region:6) - ($region:2 / $region:1)",
    DEEP_TREE,
]


@pytest.fixture(scope="module")
def cp(spark, engine):
    frame = cell_postings(mention_cells(engine.mentions, GRID, RES)).where(
        (F.col("grid") == GRID) & (F.col("res") == RES)
    ).cache()
    yield frame
    frame.unpersist()


@pytest.mark.parametrize("tree", TREES)
def test_gh_matches_cqr_engine(spark, engine, cp, tree):
    """Differential vs the CQR planner on the same grid/res: the GH
    completer evaluates over region-id pixels and cell_postings pieces,
    the planner over the token/cell index — same doc sets (the check the
    reference runs between its engines)."""
    gh = {r.doc_id for r in gh_hcqr_docs(spark, tree, cp).collect()}
    cqr = {r.doc_id for r in engine.query_docs(tree, grid=GRID, res=RES).collect()}
    assert gh == cqr
    if tree == "$region:2":
        assert gh  # non-vacuous: the base leaf matches documents


def test_gh_region_rooted_only(spark, cp):
    """Non-region leaves raise — the completer answers queries over its
    own hierarchy only, like the reference completer."""
    with pytest.raises(ValueError, match="region-rooted"):
        gh_hcqr_docs(spark, "join / $region:2", cp)


def test_gh_symdiff_unsupported(spark, cp):
    """'^' throws, matching HcqrOpTree (src/HcqrOpTree.cpp:136)."""
    with pytest.raises(ValueError, match="unsupported"):
        gh_hcqr_docs(spark, "$region:2 ^ $region:1", cp)
