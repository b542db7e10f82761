"""Cell-query-result (CQR) algebra — SURVEY §2.4, Q4-Q10.

A CQR is a DataFrame ``(cell_id long, is_fm boolean, doc_ids array<long>)``
(reference: ``include/hic/static-htm-index.h:302-313``) with three row
kinds, T being the cell's docs:

  * pm         — ``NOT is_fm``: exactly ``doc_ids``;
  * whole cell — ``is_fm AND doc_ids IS NULL``: all of T;
  * complement — ``is_fm AND doc_ids IS NOT NULL``: T − ``doc_ids``; an
                 empty exclusion list is still a complement row.

Complement rows close the reference's fm/pm case analysis
(``include/hic/static-htm-index.h:197-299``), whose fm−pm case needs T:
T−B is a complement row.  So every set op is one cell_id join plus one
CASE projection that reads it once; only ``cqr_flatten`` and
``cqr_normalize`` join ``cell_totals``, attaching T to the fm rows that
read it.  ``Planner.cqr`` returns
normalized rows (no complements), those of the fm/pm rules applied op by
op but for one case: a whole cell minus (or xor) a complement excluding
all of T stays fm under those rules and comes back here as a pm row of T.
Symdiff is native (``apps/mainq.cpp:416-481``; HCQR has no ^).

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
# a row holds docs if it is fm (whole or complement) or a non-empty pm row
_NON_EMPTY = "is_fm OR size(doc_ids) > 0"

# Expressions are SQL text (selectExpr / where(str) / one F.expr per join
# condition): on classic PySpark each F.col costs ~19 py4j round trips, so
# Column trees made plan construction a visible share of every op-tree.
#
# The set ops keep the empty pm rows they make (doc_ids empty or NULL): a
# filter on the CASE result would be pushed below the projection with the
# CASE substituted into it, so each joined row would run its array
# functions twice.  Every op reads an empty row as an absent one, and
# ``cqr_flatten``'s explode and ``cqr_normalize``'s filter drop them.


def _none(side: str) -> str:
    """``side`` of a join holds no docs: it is absent or an empty pm row."""
    return f"NOT coalesce({side}.is_fm OR size({side}.doc_ids) > 0, false)"


def _excl(docs: str) -> str:
    """The exclusion list of an fm row, a whole cell's read as empty."""
    return f"coalesce({docs}, CAST(array() AS ARRAY<BIGINT>))"


def _norm(df: DataFrame) -> DataFrame:
    return df.selectExpr(*CQR_COLS)


def _join(left: DataFrame, right: DataFrame, how: str) -> DataFrame:
    """``left`` as l ⋈ ``right`` as r on cell_id."""
    return _norm(left).alias("l").join(
        _norm(right).alias("r"), F.expr("l.cell_id = r.cell_id"), how)


def cqr_union(left: DataFrame, right: DataFrame) -> DataFrame:
    """L ∪ R: (T−X)∪B = T−(X−B), (T−X)∪(T−Y) = T−(X∩Y); a whole cell wins."""
    return _join(left, right, "full_outer").selectExpr(
        "coalesce(l.cell_id, r.cell_id) AS cell_id",
        "coalesce(l.is_fm, false) OR coalesce(r.is_fm, false) AS is_fm",
        f"CASE WHEN {_none('r')} THEN l.doc_ids WHEN {_none('l')} THEN r.doc_ids"
        " WHEN l.is_fm AND r.is_fm THEN array_intersect(l.doc_ids, r.doc_ids)"
        " WHEN l.is_fm THEN array_except(l.doc_ids, r.doc_ids)"
        " WHEN r.is_fm THEN array_except(r.doc_ids, l.doc_ids)"
        " ELSE array_sort(array_union(l.doc_ids, r.doc_ids)) END AS doc_ids")


def cqr_intersect(left: DataFrame, right: DataFrame) -> DataFrame:
    """L ∩ R: (T−X)∩B = B−X, (T−X)∩(T−Y) = T−(X∪Y)."""
    return _join(left, right, "inner").selectExpr(
        "l.cell_id AS cell_id", "l.is_fm AND r.is_fm AS is_fm",
        "CASE WHEN l.is_fm AND r.is_fm"
        " THEN coalesce(array_union(l.doc_ids, r.doc_ids), l.doc_ids, r.doc_ids)"
        f" WHEN l.is_fm THEN array_except(r.doc_ids, {_excl('l.doc_ids')})"
        f" WHEN r.is_fm THEN array_except(l.doc_ids, {_excl('r.doc_ids')})"
        " ELSE array_sort(array_intersect(l.doc_ids, r.doc_ids)) END AS doc_ids")


def cqr_difference(left: DataFrame, right: DataFrame) -> DataFrame:
    """L − R: (T−X)−B = T−(X∪B), (T−X)−(T−Y) = Y−X, A−(T−Y) = A∩Y."""
    return _join(left, right, "left").selectExpr(
        "l.cell_id AS cell_id",
        "l.is_fm AND NOT coalesce(r.is_fm, false) AS is_fm",
        f"CASE WHEN {_none('r')} THEN l.doc_ids"
        " WHEN l.is_fm AND r.is_fm"
        f" THEN array_sort(array_except(r.doc_ids, {_excl('l.doc_ids')}))"
        " WHEN l.is_fm THEN coalesce(array_union(l.doc_ids, r.doc_ids), r.doc_ids)"
        " WHEN r.is_fm THEN array_sort(array_intersect(l.doc_ids, r.doc_ids))"
        " ELSE array_sort(array_except(l.doc_ids, r.doc_ids)) END AS doc_ids")


def cqr_symdiff(left: DataFrame, right: DataFrame) -> DataFrame:
    """L ^ R — one-pass xor (reference ``apps/mainq.cpp:416-481``).  With
    missing exclusions read as empty, (T−X)^(T−Y) = X^Y and (T−X)^B =
    T−(X^B), so a cell on both sides is one xor of the two lists; it is a
    complement row iff exactly one side is fm, and a whole cell on both
    sides cancels."""
    x, y = _excl("l.doc_ids"), _excl("r.doc_ids")
    return _join(left, right, "full_outer").selectExpr(
        "coalesce(l.cell_id, r.cell_id) AS cell_id",
        "coalesce(l.is_fm != r.is_fm, l.is_fm, r.is_fm) AS is_fm",
        f"CASE WHEN {_none('r')} THEN l.doc_ids WHEN {_none('l')} THEN r.doc_ids"
        f" ELSE array_sort(array_union(array_except({x}, {y}), array_except({y}, {x})))"
        " END AS doc_ids")


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
    the CQR with dead rows at scale.  ``cqr`` must be normalized: an
    empty complement row is no cell and has no neighbors.
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
    """``cqr`` must be normalized: an empty complement row is no cell."""
    return cqr.selectExpr("cell_id", *FM_EXPRS)


def _with_totals(cqr: DataFrame, ctotals: DataFrame, reads: str) -> DataFrame:
    """``cqr`` with its cell's T as ``t_docs`` on the rows where ``reads``
    holds, NULL on the others (and for unpopulated cells): a hot cell's
    list is carried only by the rows that use it."""
    return _norm(cqr).join(
        ctotals.selectExpr("cell_id AS t_cell", "doc_ids AS t_docs"),
        F.expr(f"cell_id = t_cell AND {reads}"), "left")


def cqr_flatten(cqr: DataFrame, ctotals: DataFrame) -> DataFrame:
    """→ DataFrame(doc_id) distinct — Q10 ``flaten``: an fm row yields T
    less its exclusions, a pm row its own list."""
    return _with_totals(cqr, ctotals, "is_fm").selectExpr(
        f"explode(CASE WHEN is_fm THEN array_except(t_docs, {_excl('doc_ids')})"
        " ELSE doc_ids END) AS doc_id"
    ).dropDuplicates(["doc_id"])


def cqr_normalize(cqr: DataFrame, ctotals: DataFrame) -> DataFrame:
    """Complement rows → pm rows of T less their exclusions; empty ones
    go.  Whole-cell and pm rows are unchanged."""
    complement = "is_fm AND doc_ids IS NOT NULL"
    return _with_totals(cqr, ctotals, complement).selectExpr(
        "cell_id", "is_fm AND doc_ids IS NULL AS is_fm",
        f"CASE WHEN {complement}"
        " THEN array_sort(array_except(t_docs, doc_ids)) ELSE doc_ids END AS doc_ids",
    ).where(_NON_EMPTY)


def cqr_stats(cqr: DataFrame) -> DataFrame:
    """Q12-ish metrics: cell count, fm/pm split, pm item total."""
    return _norm(cqr).agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum(F.col("is_fm").cast("long")).cast("long").alias("n_fm"),
        F.sum(F.when(F.col("is_fm"), 0).otherwise(F.size("doc_ids"))).cast("long").alias("pm_items"),
    )
