"""Truth table of the CQR set ops over every pair of row kinds.

Each cell holds one pair of (left, right) kinds out of: absent, pm, whole
cell, complement with an empty exclusion list, complement with a
non-empty one, complement of the whole cell (an empty set), and the two
empty pm rows the ops leave for flatten and normalize to drop (an empty
list and a NULL one).  The expected answer is a Python model of the fm/pm
rules applied to the normalized inputs, where a complement row is the pm
row of its cell's docs less its exclusions (and no row when that is
empty) and an empty pm row is no row.

The one known difference: a whole cell against an empty complement in a
difference or symdiff.  The fm/pm rules see no right-hand row and keep
the whole cell as fm; the ops, which do not read cell totals, cannot
tell the complement is empty and return the same docs as a pm row.
"""

from __future__ import annotations

import itertools

import pytest

from oscar_spatial_index_compare_spark.operators.cqr import (
    cqr_difference,
    cqr_flatten,
    cqr_intersect,
    cqr_normalize,
    cqr_symdiff,
    cqr_union,
)
from oscar_spatial_index_compare_spark.plans.planner import (
    CQR_DDL,
    Planner,
    QueryContext,
)
from oscar_spatial_index_compare_spark.session import local_frame

KINDS = ("absent", "pm", "whole", "comp_empty", "comp", "comp_all",
         "pm_empty", "pm_null")
PAIRS = list(itertools.product(KINDS, KINDS))
# offsets of a cell's docs: T = {1..6}; each side's lists differ so that
# every op has overlapping and non-overlapping members to sort out
TOTAL = (1, 2, 3, 4, 5, 6)
LISTS = {"l": {"pm": (1, 2, 3), "comp": (1, 2)},
         "r": {"pm": (2, 3, 4), "comp": (2, 5)}}


def _docs(cell: int, offsets) -> list[int]:
    return [10 * cell + o for o in offsets]


def _row(side: str, kind: str, cell: int):
    """(is_fm, doc_ids) of one input row, or None when absent."""
    if kind == "absent":
        return None
    if kind == "pm":
        return False, _docs(cell, LISTS[side]["pm"])
    if kind in ("pm_empty", "pm_null"):
        return False, [] if kind == "pm_empty" else None
    if kind == "whole":
        return True, None
    excl = {"comp_empty": (), "comp": LISTS[side]["comp"], "comp_all": TOTAL}[kind]
    return True, _docs(cell, excl)


def _frame(spark, side: str):
    rows = [(c, *_row(side, kind, c)) for c, kind in
            enumerate(k[0 if side == "l" else 1] for k in PAIRS)
            if kind != "absent"]
    return local_frame(spark, CQR_DDL, [list(col) for col in zip(*rows)])


def _parent_form(row, total: set):
    """A row as the fm/pm format has it: ("fm", None), ("pm", set) or None."""
    if row is None:
        return None
    is_fm, docs = row
    if not is_fm:
        return ("pm", set(docs)) if docs else None
    if docs is None:
        return "fm", None
    rest = total - set(docs)
    return ("pm", rest) if rest else None


def _pm(docs: set):
    return ("pm", docs) if docs else None


def _model(op: str, l, r, total: set):
    """The fm/pm case analysis, cell by cell."""
    if op in ("union", "sym") and (l is None or r is None):
        return l or r
    if op == "inter" and (l is None or r is None):
        return None
    if op == "diff":
        if l is None or r is None:
            return l
        if r[0] == "fm":
            return None
        return _pm((total if l[0] == "fm" else l[1]) - r[1])
    (lk, ld), (rk, rd) = l, r
    if op == "union":
        return ("fm", None) if "fm" in (lk, rk) else ("pm", ld | rd)
    if op == "inter":
        if lk == rk == "fm":
            return "fm", None
        return _pm(rd if lk == "fm" else ld if rk == "fm" else ld & rd)
    if lk == rk == "fm":
        return None
    return _pm((total if lk == "fm" else ld) ^ (total if rk == "fm" else rd))


# (op, left, right) kinds whose answer is the whole cell as a pm row
WHOLE_AS_PM = {("diff", "whole", "comp_all"), ("sym", "whole", "comp_all"),
               ("sym", "comp_all", "whole")}
OPS = {"union": cqr_union, "inter": cqr_intersect,
       "diff": cqr_difference, "sym": cqr_symdiff}


@pytest.fixture(scope="module")
def frames(spark):
    cells = range(len(PAIRS))
    totals = local_frame(spark, "cell_id long, doc_ids array<long>, n_docs long", [
        list(cells), [_docs(c, TOTAL) for c in cells], [len(TOTAL)] * len(PAIRS)])
    return _frame(spark, "l"), _frame(spark, "r"), totals


@pytest.mark.parametrize("op", sorted(OPS))
def test_set_op_matches_fm_pm_model(frames, op):
    left, right, totals = frames
    want_rows, want_docs = {}, set()
    for c, (lk, rk) in enumerate(PAIRS):
        total = set(_docs(c, TOTAL))
        got = _model(op, _parent_form(_row("l", lk, c), total),
                     _parent_form(_row("r", rk, c), total), total)
        if (op, lk, rk) in WHOLE_AS_PM:
            got = "pm", total
        if got is not None:
            want_rows[c] = (got[0] == "fm", None if got[1] is None else sorted(got[1]))
            want_docs |= total if got[0] == "fm" else got[1]

    out = OPS[op](left, right)
    rows = {r.cell_id: (r.is_fm, r.doc_ids) for r in cqr_normalize(out, totals).collect()}
    bad = {PAIRS[c]: (rows.get(c), want_rows.get(c))
           for c in set(rows) | set(want_rows) if rows.get(c) != want_rows.get(c)}
    assert not bad, f"{op}: (left, right) kinds → (got, want) {bad}"
    assert {r.doc_id for r in cqr_flatten(out, totals).collect()} == want_docs


def test_planner_drops_empty_complements_before_fm_conversion(spark):
    """``x - (a + b)`` leaves cell 2 as a complement excluding all of its
    docs: ``Planner.cqr`` must drop it, and ``!`` must not turn it back
    into a whole cell."""
    tp = local_frame(spark, "token string, " + CQR_DDL, [
        ["x", "x", "a", "b", "a"], [2, 3, 2, 2, 3],
        [True, True, False, False, False], [None, None, [21], [22], [31]]])
    totals = local_frame(spark, "cell_id long, doc_ids array<long>, n_docs long",
                         [[2, 3], [[21, 22], [31, 32]], [2, 2]])
    p = Planner(QueryContext(spark=spark, grid="zxy", res=9, mcells=None,
                             ctotals=totals, tpostings=tp, tokens=["a", "b", "x"]))

    def rows(q):
        return sorted((r.cell_id, r.is_fm, r.doc_ids) for r in p.cqr(q).collect())

    assert rows("x - (a + b)") == [(3, False, [32])]
    assert rows("!(x - (a + b))") == [(3, True, None)]
    assert sorted(r.doc_id for r in p.docs("!(x - (a + b))").collect()) == [31, 32]
