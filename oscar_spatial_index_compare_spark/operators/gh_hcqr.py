"""GeoHierarchy HCQR completer: the region hierarchy as the spatial grid.

Reference: ``src/GeoHierarchyHCQRCompleter.cpp:17-33`` — pixels are region
ids (inner nodes) and GeoHierarchy cells (leaves); ``items(region)`` = union
over the region's cells of the cell postings (``regionCellIdxPtr`` →
``cellItemsPtr`` → ``ItemIndex::unite``).  It feeds
``HCQRIndexFromCellIndex``, so its queries use the same ``+ / -`` algebra as
every other engine.

Spark mapping: a GeoHierarchy cell (an arrangement piece that belongs wholly
to its parent regions) is a row of ``cell_postings`` (``operators/
index_build.py``) keyed ``(region_id, cell_id)``, with ``doc_ids`` = the docs
whose mention lies inside the region within that grid cell.  A
``$region:N`` leaf is the region's pieces as pm CQR rows (partial match: the
row lists its docs), and the ops are ``operators/cqr.py``'s.  pm operands
give pm results, so the tree flattens without ``cell_totals``; it is one
lazy plan and one SQL execution.  The set semantics are the (doc, cell)-pair
algebra of the CQR layer and the DuckDB oracle (``plans/oracle.py``), so a
region-rooted tree flattens to the doc set of ``optree_oracle_sql`` — the
differential check the reference runs between its engines
(``apps/main.cpp:193-205``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.optree import Node, parse
from .cqr import cqr_difference, cqr_intersect, cqr_union

_OPS = {"union": cqr_union, "inter": cqr_intersect, "diff": cqr_difference}


def gh_hcqr_docs(spark: SparkSession, tree: str, cp: DataFrame) -> DataFrame:
    """Evaluate a region-rooted op tree (``$region`` leaves; ``+``, ``/`` or
    space, ``-``) over the pieces ``cp`` of one (grid, res) and flatten it
    → (doc_id).  Any other leaf or op raises ``ValueError``: the completer
    answers queries over its own hierarchy only, and the reference's
    ``HcqrOpTree`` throws on ``^`` (``src/HcqrOpTree.cpp:136``)."""

    def ev(n: Node) -> DataFrame:
        if n.op == "region":
            return cp.where(f"region_id = {int(n.args[0])}").selectExpr(
                "cell_id", "false AS is_fm", "doc_ids")
        if n.op not in _OPS:
            raise ValueError(f"unsupported GH-HCQR node {n.op!r}: the "
                             "completer answers region-rooted + / - trees only")
        return _OPS[n.op](ev(n.args[0]), ev(n.args[1]))

    return ev(parse(tree)).selectExpr("explode(doc_ids) AS doc_id").dropDuplicates(
        ["doc_id"])
