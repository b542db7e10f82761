"""GeoHierarchy-as-pixel-tree HCQR completer (SURVEY §2 note; r04 VERDICT
item 8 — the last reference engine variant).

Reference: ``src/GeoHierarchyHCQRCompleter.cpp:17-33`` — the REGION HIERARCHY
itself is the HCQR spatial grid: pixels are region ids (inner nodes) and
GeoHierarchy cells (leaves); ``items(region)`` = union over the region's
cells of the cell postings (``regionCellIdxPtr`` → ``cellItemsPtr`` →
``ItemIndex::unite``), ``items(cell)`` = the cell postings.

Spark mapping: the GeoHierarchy "cell" (an arrangement piece that belongs
wholly to its parent regions) maps to a row of the ``cell_postings`` table
(``operators/index_build.py cell_postings``) keyed ``(region_id, cell_id)``
with ``doc_ids`` = docs whose mention lies INSIDE the region within that
grid cell — exactly the reference's region-qualified piece.  The pixel tree
is then two-level: region nodes over their piece leaves.

Normal form of a GH-HCQR frame:
  (pixel_kind string in {'region','cell'}, pixel_id long, is_fm boolean,
   doc_ids array<long>)
  * a region-fm row is the whole region subtree rolled up into one node —
    its items are resolved lazily from cell_postings (never shipped);
  * op results live at cell granularity; a cell row is fm iff its doc set
    covers every GH item of the cell (union over all regions' pieces),
    mirroring the reference's full-match classification.

Set-op semantics are the same (doc, cell)-pair algebra as the CQR layer and
the DuckDB oracle (plans/oracle.py lowering model), so a region-rooted tree
evaluated here flattens to the identical doc set as ``optree_oracle_sql`` —
the differential check the reference runs between its engines
(``apps/main.cpp:193-205``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.optree import Node, parse
from ..session import local_frame


def gh_cell_items(cp: DataFrame) -> DataFrame:
    """(cell_id, doc_ids): the GH cell postings — union over every region's
    piece in the cell (``cellItemsPtr`` analog).  One groupBy; pieces are
    per-region sorted doc arrays, so flatten+distinct is exact."""
    return (
        cp.select("cell_id", F.explode("doc_ids").alias("doc_id"))
        .dropDuplicates(["cell_id", "doc_id"])
        .groupBy("cell_id")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("doc_ids"))
    )


def gh_region_leaf(spark: SparkSession, region_id: int) -> DataFrame:
    """$region:<id> leaf = ONE full-match region node (the region subtree
    rolled up; reference: a region pixel whose items() resolve lazily)."""
    return local_frame(
        spark,
        "pixel_kind string, pixel_id long, is_fm boolean, doc_ids array<long>",
        [["region"], [int(region_id)], [True], [None]],
    )


def _expand_to_cells(h: DataFrame, cp: DataFrame, gh_items: DataFrame) -> DataFrame:
    """Lower a GH-HCQR to cell granularity → (cell_id, doc_ids).

    region-fm rows pull their pieces from cell_postings (pushed equi-join on
    region_id — never materialized driver-side); cell-fm rows pull the GH
    cell items; same-cell contributions merge with array_union."""
    reg = h.where((F.col("pixel_kind") == "region") & F.col("is_fm")).select(
        F.col("pixel_id").alias("region_id")
    )
    parts = [
        cp.join(F.broadcast(reg), "region_id").select("cell_id", "doc_ids"),
        h.where((F.col("pixel_kind") == "cell") & ~F.col("is_fm")).select(
            F.col("pixel_id").alias("cell_id"), "doc_ids"
        ),
        h.where((F.col("pixel_kind") == "cell") & F.col("is_fm"))
        .select(F.col("pixel_id").alias("cell_id"))
        .join(gh_items, "cell_id")
        .select("cell_id", "doc_ids"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.select("cell_id", F.explode("doc_ids").alias("doc_id"))
        .dropDuplicates(["cell_id", "doc_id"])
        .groupBy("cell_id")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("doc_ids"))
    )


def _classify(cells: DataFrame, gh_items: DataFrame) -> DataFrame:
    """Cell rows → normal form: fm iff the doc set covers every GH item of
    the cell (result docs are always ⊆ GH items, so a size compare is exact)."""
    j = cells.join(
        gh_items.select("cell_id", F.size("doc_ids").alias("_tot")), "cell_id"
    )
    return j.select(
        F.lit("cell").alias("pixel_kind"),
        F.col("cell_id").alias("pixel_id"),
        (F.size("doc_ids") == F.col("_tot")).alias("is_fm"),
        F.when(F.size("doc_ids") == F.col("_tot"), F.lit(None).cast("array<long>"))
        .otherwise(F.col("doc_ids")).alias("doc_ids"),
    )


def gh_hcqr_op(op: str, l: DataFrame, r: DataFrame, cp: DataFrame,
               gh_items: DataFrame) -> DataFrame:
    """Binary set op over GH-HCQRs — cell-keyed doc-array algebra (the same
    pairwise support semantics as the CQR layer / oracle), then fm
    re-classification against the GH cell items."""
    lc = _expand_to_cells(l, cp, gh_items).alias("l")
    rc = _expand_to_cells(r, cp, gh_items).alias("r")
    if op == "union":
        j = lc.join(rc, F.col("l.cell_id") == F.col("r.cell_id"), "full_outer")
        cells = j.select(
            F.coalesce(F.col("l.cell_id"), F.col("r.cell_id")).alias("cell_id"),
            F.when(F.col("l.doc_ids").isNull(), F.col("r.doc_ids"))
            .when(F.col("r.doc_ids").isNull(), F.col("l.doc_ids"))
            .otherwise(F.array_sort(F.array_union(F.col("l.doc_ids"), F.col("r.doc_ids"))))
            .alias("doc_ids"),
        )
    elif op == "inter":
        j = lc.join(rc, F.col("l.cell_id") == F.col("r.cell_id"))
        cells = j.select(
            F.col("l.cell_id").alias("cell_id"),
            F.array_sort(F.array_intersect(F.col("l.doc_ids"), F.col("r.doc_ids"))).alias("doc_ids"),
        ).where(F.size("doc_ids") > 0)
    elif op == "diff":
        j = lc.join(rc, F.col("l.cell_id") == F.col("r.cell_id"), "left")
        cells = j.select(
            F.col("l.cell_id").alias("cell_id"),
            F.when(F.col("r.doc_ids").isNull(), F.col("l.doc_ids"))
            .otherwise(F.array_sort(F.array_except(F.col("l.doc_ids"), F.col("r.doc_ids"))))
            .alias("doc_ids"),
        ).where(F.size("doc_ids") > 0)
    else:
        # the reference GH completer exposes the same op set as HcqrOpTree,
        # where '^' throws (src/HcqrOpTree.cpp:136)
        raise ValueError(f"unsupported GH-HCQR op {op!r}")
    return _classify(cells, gh_items)


def gh_hcqr_docs(spark: SparkSession, tree: str, cp: DataFrame) -> DataFrame:
    """Evaluate a REGION-ROOTED op tree ($region leaves; + / -, space/∩) on
    the GeoHierarchy pixel tree and flatten — the completer's query surface
    (reference: GeoHierarchyHCQRCompleter feeding HCQRIndexFromCellIndex).
    Non-region leaves raise: this engine variant only answers queries over
    its own hierarchy, exactly like the reference completer.

    r06 (VERDICT r05 item 6): the docs surface evaluates in CELL-GRANULAR
    form throughout — (cell_id, doc_ids) only.  The per-node classify →
    re-expand round trip of the normal-form API is a doc-set identity (a
    cell is fm exactly when its docs EQUAL the GH items it would re-pull),
    so a depth-d tree needs zero re-expansions: region leaves are one
    pushed equi-join each (their pieces are already per-cell sorted
    distinct arrays — no merge groupBy), each op is one cell join with a
    lazy plan boundary, and ``gh_cell_items`` is never computed at all.
    The normal-form ops (gh_hcqr_op / _classify) remain the pixel-tree
    API; tests assert both evaluate to identical doc sets."""
    ast = parse(tree)

    def leaf_cells(region_id) -> DataFrame:
        reg = local_frame(spark, "region_id long", [[int(region_id)]])
        return cp.join(F.broadcast(reg), "region_id").select("cell_id", "doc_ids")

    def ev(n: Node) -> DataFrame:
        if n.op == "region":
            return leaf_cells(n.args[0])
        if n.op not in ("union", "inter", "diff"):
            raise ValueError(
                f"GH-HCQR completer answers region-rooted trees only, got {n.op!r}"
            )
        lc = ev(n.args[0]).alias("l")
        rc = ev(n.args[1]).alias("r")
        if n.op == "union":
            j = lc.join(rc, F.col("l.cell_id") == F.col("r.cell_id"), "full_outer")
            cells = j.select(
                F.coalesce(F.col("l.cell_id"), F.col("r.cell_id")).alias("cell_id"),
                F.when(F.col("l.doc_ids").isNull(), F.col("r.doc_ids"))
                .when(F.col("r.doc_ids").isNull(), F.col("l.doc_ids"))
                .otherwise(F.array_sort(F.array_union(F.col("l.doc_ids"),
                                                      F.col("r.doc_ids"))))
                .alias("doc_ids"),
            )
        elif n.op == "inter":
            j = lc.join(rc, F.col("l.cell_id") == F.col("r.cell_id"))
            cells = j.select(
                F.col("l.cell_id").alias("cell_id"),
                F.array_sort(F.array_intersect(F.col("l.doc_ids"),
                                               F.col("r.doc_ids"))).alias("doc_ids"),
            ).where(F.size("doc_ids") > 0)
        else:  # diff
            j = lc.join(rc, F.col("l.cell_id") == F.col("r.cell_id"), "left")
            cells = j.select(
                F.col("l.cell_id").alias("cell_id"),
                F.when(F.col("r.doc_ids").isNull(), F.col("l.doc_ids"))
                .otherwise(F.array_sort(F.array_except(F.col("l.doc_ids"),
                                                       F.col("r.doc_ids"))))
                .alias("doc_ids"),
            ).where(F.size("doc_ids") > 0)
        return cells.localCheckpoint(eager=False)

    return (
        ev(ast)
        .select(F.explode("doc_ids").alias("doc_id"))
        .dropDuplicates(["doc_id"])
    )
