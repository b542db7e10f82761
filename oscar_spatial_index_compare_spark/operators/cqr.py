"""Cell-query-result (CQR) algebra — SURVEY §2.4, Q4-Q10.

A CQR is a DataFrame ``(cell_id long, is_fm boolean, doc_ids array<long>)``
with doc_ids NULL iff is_fm (reference: ``include/hic/static-htm-index.h:
302-313``).  The set operations reproduce the fm/pm case analysis of the
reference evaluators (``src/OscarSearchWithSg.cpp:190-198``,
``src/HcqrOpTree.cpp:106-141``):

  * union        — full-outer join; fm wins
  * intersection — inner join; fm∩fm→fm, fm∩pm→pm(other side), pm∩pm→array_intersect
  * difference   — left join; X−∅=X, fm−fm=∅, pm−fm=∅, fm−pm needs cell totals
  * symdiff      — native one-pass xor via full-outer join (reference
                   ``apps/mainq.cpp:416-481``; HCQR doesn't support ^ at all —
                   ``src/HcqrOpTree.cpp:136-137``)
  * all_to_full  — Q8 FM_CONVERSION ``*`` (``src/HcqrOpTree.cpp:70-79``)
  * flatten      — Q10: fm cells pull their full posting list from
                   cell_totals, pm arrays explode; distinct doc set

Laziness: every op returns an unevaluated DataFrame, so an op-tree becomes
ONE Catalyst plan — the reference's TreedCQR deferred evaluation
(``src/static-htm-index.cpp:213-215``) for free (SURVEY Q11/E2).

Scale: joins are equi-joins on cell_id; CQRs inherit the bucketing of the
postings tables, so same-key joins avoid re-shuffles; AQE handles the hot
metro cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CQR_COLS = ["cell_id", "is_fm", "doc_ids"]
# the fm payload columns: full-match, no doc list
FM_EXPRS = ("true AS is_fm", "CAST(NULL AS ARRAY<BIGINT>) AS doc_ids")

# Expressions are SQL text (selectExpr / where(str) / one F.expr per join
# condition): on classic PySpark each F.col costs ~19 py4j round trips, so
# Column trees made plan construction a visible share of every op-tree.


def _norm(df: DataFrame) -> DataFrame:
    return df.selectExpr(*CQR_COLS)


def _join(left: DataFrame, right: DataFrame, how: str) -> DataFrame:
    """``left`` as l ⋈ ``right`` as r on cell_id."""
    return _norm(left).alias("l").join(
        _norm(right).alias("r"), F.expr("l.cell_id = r.cell_id"), how)


def cqr_union(left: DataFrame, right: DataFrame) -> DataFrame:
    fm = "coalesce(l.is_fm, false) OR coalesce(r.is_fm, false)"
    return _join(left, right, "full_outer").selectExpr(
        "coalesce(l.cell_id, r.cell_id) AS cell_id", f"{fm} AS is_fm",
        f"CASE WHEN {fm} THEN NULL WHEN l.doc_ids IS NULL THEN r.doc_ids"
        " WHEN r.doc_ids IS NULL THEN l.doc_ids"
        " ELSE array_sort(array_union(l.doc_ids, r.doc_ids)) END AS doc_ids")


def cqr_intersect(left: DataFrame, right: DataFrame) -> DataFrame:
    return _join(left, right, "inner").selectExpr(
        "l.cell_id AS cell_id", "l.is_fm AND r.is_fm AS is_fm",
        "CASE WHEN l.is_fm AND r.is_fm THEN NULL WHEN l.is_fm THEN r.doc_ids"
        " WHEN r.is_fm THEN l.doc_ids"
        " ELSE array_sort(array_intersect(l.doc_ids, r.doc_ids)) END AS doc_ids",
    ).where("is_fm OR size(doc_ids) > 0")


def _minus_totals(pairs: DataFrame, ctotals: DataFrame) -> DataFrame:
    """(cell_id, pm_docs) → pm rows of the cell totals minus pm_docs."""
    return (
        pairs.join(ctotals.selectExpr("cell_id", "doc_ids AS t_docs"), "cell_id")
        .selectExpr("cell_id", "false AS is_fm",
                    "array_sort(array_except(t_docs, pm_docs)) AS doc_ids")
        .where("size(doc_ids) > 0")
    )


def cqr_difference(left: DataFrame, right: DataFrame, ctotals: DataFrame) -> DataFrame:
    """L − R.  ``ctotals``: (cell_id, doc_ids) full per-cell lists — joined
    lazily and only for the fm−pm cells (SURVEY §7 hard-part 3)."""
    # the case analysis below references the join THREE times — a plan
    # boundary computes it once instead of once per branch (r06); under
    # AQE this call already runs the join's shuffle and broadcast stages
    j = _join(left, right, "left").localCheckpoint(eager=False)
    passthrough = j.where("r.cell_id IS NULL").selectExpr(
        "l.cell_id AS cell_id", "l.is_fm AS is_fm", "l.doc_ids AS doc_ids")
    pm_pm = j.where("r.cell_id IS NOT NULL AND NOT l.is_fm AND NOT r.is_fm").selectExpr(
        "l.cell_id AS cell_id", "false AS is_fm",
        "array_sort(array_except(l.doc_ids, r.doc_ids)) AS doc_ids",
    ).where("size(doc_ids) > 0")
    fm_pm = j.where("r.cell_id IS NOT NULL AND l.is_fm AND NOT r.is_fm").selectExpr(
        "l.cell_id AS cell_id", "r.doc_ids AS pm_docs")
    # fm−fm and pm−fm vanish
    return passthrough.unionByName(pm_pm).unionByName(_minus_totals(fm_pm, ctotals))


def cqr_symdiff(left: DataFrame, right: DataFrame, ctotals: DataFrame) -> DataFrame:
    """L ^ R — native one-pass xor (reference ``apps/mainq.cpp:416-481``).

    ONE full-outer join computing the xor cases directly (r02 VERDICT item 4:
    the previous ``(L∪R)−(L∩R)`` composition evaluated each operand subtree
    twice and ran three joins):

      * cell only in one side  → pass through unchanged
      * fm ^ fm                → cancels (drop)
      * fm ^ pm                → totals − pm docs (ctotals joined lazily, for
                                 exactly these cells — SURVEY §7 hard-part 3)
      * pm ^ pm                → (L−R) ∪ (R−L), drop when empty
    """
    # four references below (only_l/only_r/pm_pm/fm_pm) — one boundary
    # instead of four evaluations of the operand subtrees (r06)
    j = _join(left, right, "full_outer").localCheckpoint(eager=False)
    only_l = j.where("r.cell_id IS NULL").selectExpr(
        "l.cell_id AS cell_id", "l.is_fm AS is_fm", "l.doc_ids AS doc_ids")
    only_r = j.where("l.cell_id IS NULL").selectExpr(
        "r.cell_id AS cell_id", "r.is_fm AS is_fm", "r.doc_ids AS doc_ids")
    both = j.where("l.cell_id IS NOT NULL AND r.cell_id IS NOT NULL")
    pm_pm = both.where("NOT l.is_fm AND NOT r.is_fm").selectExpr(
        "l.cell_id AS cell_id", "false AS is_fm",
        "array_sort(array_union(array_except(l.doc_ids, r.doc_ids),"
        " array_except(r.doc_ids, l.doc_ids))) AS doc_ids",
    ).where("size(doc_ids) > 0")
    fm_pm = both.where("l.is_fm != r.is_fm").selectExpr(
        "l.cell_id AS cell_id", "coalesce(l.doc_ids, r.doc_ids) AS pm_docs")
    # fm ^ fm cancels
    return (only_l.unionByName(only_r).unionByName(pm_pm)
            .unionByName(_minus_totals(fm_pm, ctotals)))


def cqr_dilate(cqr: DataFrame, grid: str, res: int, ctotals: DataFrame) -> DataFrame:
    """One-ring CELL_DILATION: every cell adjacent to a result cell joins
    the result as a full-match cell (its whole population matches).

    The reference enumerates CELL_DILATION but stubs it in every evaluator
    (``src/OscarSearchWithSg.cpp:167-181``); implemented here for the
    closed-form zxy grid: the 8-neighborhood is pure column bit math
    (x wraps around the antimeridian, y clamps at the poles — slippy-map
    semantics).  Cells already in the CQR keep their rows (a pm cell is NOT
    promoted by being its neighbor's neighbor); added cells are semi-joined
    against the populated-cell set — an unpopulated fm cell flattens to
    nothing, so dropping it early is result-identical and avoids growing
    the CQR with dead rows at scale.
    """
    if grid != "zxy":
        raise NotImplementedError(
            "CELL_DILATION is implemented for the zxy grid (closed-form "
            "neighbors); the reference stubs it everywhere "
            "(src/OscarSearchWithSg.cpp:167-181)"
        )
    c = _norm(cqr)
    n, m = 1 << res, (1 << 28) - 1
    x, y = f"(shiftright(cell_id, 28) & {m})", f"(cell_id & {m})"
    nbrs = ", ".join(
        f"CASE WHEN {y} + {dy} >= 0 AND {y} + {dy} < {n}L THEN"
        f" CAST({res} AS BIGINT) * {1 << 56} + pmod({x} + {dx}, {n}L) * {1 << 28}"
        f" + ({y} + {dy}) END"
        for dx in (-1, 0, 1) for dy in (-1, 0, 1) if dx or dy)
    nb = c.selectExpr(f"explode(array_compact(array({nbrs}))) AS cell_id"
                      ).dropDuplicates(["cell_id"])
    added = (
        nb.join(c.selectExpr("cell_id"), "cell_id", "left_anti")
        .join(ctotals.selectExpr("cell_id"), "cell_id", "left_semi")
        .selectExpr("cell_id", *FM_EXPRS)
    )
    return c.unionByName(added)


def cqr_all_to_full(cqr: DataFrame) -> DataFrame:
    return cqr.selectExpr("cell_id", *FM_EXPRS)


def cqr_flatten(cqr: DataFrame, ctotals: DataFrame) -> DataFrame:
    """→ DataFrame(doc_id) distinct — Q10 ``flaten``."""
    fm = cqr.where("is_fm").selectExpr("cell_id").join(
        ctotals.selectExpr("cell_id", "doc_ids AS t_docs"), "cell_id"
    ).selectExpr("explode(t_docs) AS doc_id")
    pm = cqr.where("NOT is_fm").selectExpr("explode(doc_ids) AS doc_id")
    return fm.unionByName(pm).dropDuplicates(["doc_id"])


def cqr_stats(cqr: DataFrame) -> DataFrame:
    """Q12-ish metrics: cell count, fm/pm split, pm item total."""
    return _norm(cqr).agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum(F.col("is_fm").cast("long")).cast("long").alias("n_fm"),
        F.sum(F.when(F.col("is_fm"), 0).otherwise(F.size("doc_ids"))).cast("long").alias("pm_items"),
    )
