"""HCQR invariants + HCQR-vs-CQR differential (SURVEY M6, §5 mechanism 1).

Reference analog: the --debug-diff pairwise engine comparison
(``apps/mainq.cpp:399-482``) — here HCQR results must equal flat-CQR results
query-for-query, and compactification must preserve items()
(``src/static-htm-index.cpp:359-362`` compactified trees answer identically).
"""

import numpy as np
import pytest

from oscar_spatial_index_compare_spark.grids.base import get_grid
from oscar_spatial_index_compare_spark.operators import cell_stats as cs
from oscar_spatial_index_compare_spark.operators.hcqr import (
    hcqr_from_cqr,
    hcqr_items,
    hcqr_stats,
)
from oscar_spatial_index_compare_spark.operators.region_query import cached_covering
from oscar_spatial_index_compare_spark.plans.optree import parse

QUERIES = [
    "join",
    "jo*",
    "join / window",
    "dup + spark",
    "join - dup",
    "$region:1 / dup",
    "($region:2 - $region:1) / join",
    "!dup / spark",
]


@pytest.mark.parametrize("grid,res", [("s2", 10), ("zxy", 9)])
@pytest.mark.parametrize("q", QUERIES)
def test_hcqr_matches_cqr(engine, q, grid, res):
    p = engine.planner(grid, res)
    cqr_docs = {r.doc_id for r in p.docs(q).collect()}
    hdocs = {r.doc_id for r in p.hcqr_docs(q).collect()}
    assert hdocs == cqr_docs, f"{grid} {q}: hcqr {len(hdocs)} vs cqr {len(cqr_docs)}"


def _assert_normal_form(rows, grid, res):
    """No row has an fm ancestor among the rows; pm rows sit at res."""
    g = get_grid(grid)
    fmset = {(r.pixel_id, r.level) for r in rows if r.is_fm}
    for r in rows:
        assert r.is_fm or r.level == res, "pm row above leaf res"
        cur = np.array([r.pixel_id])
        for lvl in range(r.level - 1, -1, -1):
            cur = g.parent(cur, lvl)
            assert (int(cur[0]), lvl) not in fmset, "fm ancestor present"


def _rows(df):
    return {(r.pixel_id, r.level, r.is_fm, tuple(r.doc_ids or [])) for r in df.collect()}


@pytest.mark.parametrize("grid,res", [("s2", 10), ("zxy", 9), ("h3", 5)])
def test_compactify_preserves_items_and_normal_form(engine, grid, res):
    p = engine.planner(grid, res)
    ctx = p.ctx
    c = p.cqr("join")
    h = hcqr_from_cqr(c, grid, res, ctx.ctotals)
    rows = h.collect()
    _assert_normal_form(rows, grid, res)
    # items preserved
    from oscar_spatial_index_compare_spark.operators.cqr import cqr_flatten

    items_h = {r.doc_id for r in hcqr_items(h, ctx.ctotals, grid, res).collect()}
    items_c = {r.doc_id for r in cqr_flatten(c, ctx.ctotals).collect()}
    assert items_h == items_c
    # compaction actually happened for a common token at coarse-ish res
    n_leaves = sum(1 for r in rows if r.level == res)
    assert len(rows) <= c.count()


SPATIAL_LEAVES = ["$region:1", "$rect:40.1,55.2,-5.3,15.7", "$poly:concave_c"]
# a rect far smaller than one leaf cell of either grid: its covering has
# boundary cells only
TINY_RECT = "$rect:48.84,48.86,2.34,2.36"


def _check_covering_leaf(engine, q, grid, res):
    """A spatial leaf lifted from the covering: hcqr() rows equal the old
    lift (res-level CQR → compactify) row for row, and items equal the
    flat CQR docs."""
    p = engine.planner(grid, res)
    ctx = p.ctx
    lifted = hcqr_from_cqr(p.cqr(q), grid, res, ctx.ctotals, pop_anc=ctx.pop_anc())
    assert _rows(p.hcqr(q)) == _rows(lifted)
    cqr_docs = {r.doc_id for r in p.docs(q).collect()}
    assert {r.doc_id for r in p.hcqr_docs(q).collect()} == cqr_docs


def _unpruned(engine, grid, res, monkeypatch):
    """Force the no-driver-stats path: MAX_DRIVER_CELLS = -1 on a fresh
    stats memo, so cell_stats returns None and full cells stay unpruned."""
    ctx = engine.planner(grid, res).ctx
    monkeypatch.setattr(cs, "MAX_DRIVER_CELLS", -1)
    monkeypatch.setitem(ctx.mcells.__dict__, cs._MEMO, {})
    assert cs.cell_stats(ctx.mcells, grid, res) is None


@pytest.mark.parametrize("grid,res", [("s2", 10), ("zxy", 9)])
@pytest.mark.parametrize("q", SPATIAL_LEAVES)
def test_covering_leaf_matches_lifted(engine, q, grid, res):
    _check_covering_leaf(engine, q, grid, res)


@pytest.mark.parametrize("grid,res", [("s2", 10), ("zxy", 9)])
@pytest.mark.parametrize("q", SPATIAL_LEAVES)
def test_unpruned_covering_leaf_is_normal_form(engine, q, grid, res, monkeypatch):
    _unpruned(engine, grid, res, monkeypatch)
    p = engine.planner(grid, res)
    poly = p._poly(parse(q))
    full, _ = cached_covering(grid, poly, res)
    rows = p._region_hcqr(poly).collect()
    _assert_normal_form(rows, grid, res)
    # unpruned: every full covering cell is an fm row at its own level
    assert {(r.pixel_id, r.level) for r in rows if r.is_fm} >= {
        (int(c), int(l)) for c, l in zip(full, get_grid(grid).level(full))}
    _check_covering_leaf(engine, q, grid, res)


@pytest.mark.parametrize("grid,res", [("s2", 10), ("zxy", 9)])
def test_covering_leaf_without_full_cells(engine, grid, res):
    p = engine.planner(grid, res)
    full, boundary = cached_covering(grid, p._poly(parse(TINY_RECT)), res)
    assert len(full) == 0 and len(boundary) > 0
    _check_covering_leaf(engine, TINY_RECT, grid, res)


@pytest.mark.parametrize("grid,res", [("s2", 10)])
def test_hcqr_stats_shape(engine, grid, res):
    p = engine.planner(grid, res)
    h = p.hcqr("join")
    s = hcqr_stats(h, grid, res).collect()[0]
    assert s.depth <= res + 1
    assert s.n_nodes >= s.n_leaves
    assert s.n_fm >= 0 and s.pm_items >= 0


def test_hcqr_symdiff_unsupported(engine):
    p = engine.planner("s2", 10)
    with pytest.raises(NotImplementedError):
        p.hcqr("join ^ dup")


@pytest.mark.parametrize("q", ["join - dup", "($region:2 - $region:1) / join",
                               "!($region:1) - spark"])
def test_difference_distributed_fallback_matches(engine, q, monkeypatch):
    """Adversarially force the overlap-pair cap to 0: every difference takes
    the distributed leaf-expansion path; results must equal the driver-side
    decomposition AND the flat CQR answer (r01 VERDICT item 7)."""
    from oscar_spatial_index_compare_spark.operators import hcqr as hc

    p = engine.planner("s2", 10)
    expansions = []
    expand = hc._difference_by_leaf_expansion
    monkeypatch.setattr(hc, "_difference_by_leaf_expansion",
                        lambda *a: expansions.append(a) or expand(*a))
    normal = {r.doc_id for r in p.hcqr_docs(q).collect()}
    assert not expansions  # below the cap: driver-side decomposition
    monkeypatch.setattr(hc, "MAX_DRIVER_OVERLAP_PAIRS", 0)
    forced = {r.doc_id for r in p.hcqr_docs(q).collect()}
    assert expansions  # the forced case took the leaf expansion
    assert forced == normal
    cqr_docs = {r.doc_id for r in p.docs(q).collect()}
    assert forced == cqr_docs


@pytest.mark.parametrize("grid,res", [("s2", 10), ("zxy", 9)])
@pytest.mark.parametrize("q", ["join / window", "dup + spark", "join - dup",
                               "$region:1 / dup"])
def test_hcqr_materialized_matches_lifted(engine, q, grid, res):
    """Token leaves read from the pre-built hcqr_postings table
    (hcqr_postings_build — the static-HCQR create step) must answer exactly
    like the per-query CQR-lift path AND the flat CQR."""
    lifted = {r.doc_id for r in engine.planner(grid, res).hcqr_docs(q).collect()}
    mat = {r.doc_id for r in engine.hcqr_planner(grid, res).hcqr_docs(q).collect()}
    assert mat == lifted
    cqr_docs = {r.doc_id for r in engine.planner(grid, res).docs(q).collect()}
    assert mat == cqr_docs


def test_hcqr_materialized_leaf_is_compacted(engine):
    """A single-token materialized HCQR must equal the lifted+compacted one
    row-for-row (not just items): same normal form."""
    p_l = engine.planner("s2", 10)
    p_m = engine.hcqr_planner("s2", 10)
    rows_l = {(r.pixel_id, r.level, r.is_fm, tuple(r.doc_ids or []))
              for r in p_l.hcqr("join").collect()}
    rows_m = {(r.pixel_id, r.level, r.is_fm, tuple(r.doc_ids or []))
              for r in p_m.hcqr("join").collect()}
    assert rows_m == rows_l


def test_hcqr_stats_oracle_rejects_non_intersection_trees():
    from oscar_spatial_index_compare_spark.plans.oracle import hcqr_stats_oracle_sql

    # the documented validity limit is now enforced (r03 VERDICT item 6)
    for bad in ["dup + spark", "join - dup", "dup ^ spark", "!dup / spark",
                "(a + b) / c"]:
        with pytest.raises(ValueError, match="intersection"):
            hcqr_stats_oracle_sql(bad, res=9)
    # intersection-shaped trees still build SQL
    assert "WITH" in hcqr_stats_oracle_sql("join / window", res=9)
    assert "WITH" in hcqr_stats_oracle_sql("$region:1 / dup", res=9)


def _zxy_anc(pix: int, k: int) -> int:
    z, x, y = pix >> 56, (pix >> 28) & ((1 << 28) - 1), pix & ((1 << 28) - 1)
    return ((z - k) << 56) | ((x >> k) << 28) | (y >> k)


def _py_compactify(rows: dict, pop: set, res: int) -> dict:
    """Independent reimplementation of the engine's single-pass promotion
    rule over zxy pixels.  rows: {(pix,lvl): True(fm) | frozenset(docs)}."""
    pop_anc: dict = {}
    for c in pop:
        for k in range(res + 1):
            key = (_zxy_anc(c, k), res - k)
            pop_anc[key] = pop_anc.get(key, 0) + 1
    covered: dict = {}
    for (pix, lvl), v in rows.items():
        if v is not True:
            continue
        w = 1 if lvl == res else pop_anc.get((pix, lvl), 0)
        for k in range(lvl + 1):
            key = (_zxy_anc(pix, k), lvl - k)
            covered[key] = covered.get(key, 0) + w
    cand = {k for k, cov in covered.items()
            if pop_anc.get(k, 0) == cov and cov > 0}
    maximal = {(p, l) for (p, l) in cand
               if l == 0 or (_zxy_anc(p, 1), l - 1) not in cand}
    out = {k: True for k in maximal}
    for k, v in rows.items():
        if v is not True:
            out[k] = v
    return out


def _py_union(l: dict, r: dict, res: int) -> dict:
    def contained(pix, lvl, fpix, flvl, strict):
        if flvl > lvl or (strict and flvl == lvl):
            return False
        return _zxy_anc(pix, lvl - flvl) == fpix

    fm = {k for k, v in l.items() if v is True} | {
        k for k, v in r.items() if v is True}
    keep = {(p, lv) for (p, lv) in fm
            if not any(contained(p, lv, fp, flv, True) for (fp, flv) in fm)}
    pm: dict = {}
    for src in (l, r):
        for (p, lv), v in src.items():
            if v is True:
                continue
            pm[(p, lv)] = pm.get((p, lv), frozenset()) | v
    out = {k: True for k in keep}
    for (p, lv), docs in pm.items():
        if not any(contained(p, lv, fp, flv, False) for (fp, flv) in keep):
            out[(p, lv)] = docs
    return out


def test_hcqr_stats_union_tree_bruteforce(engine, duck):
    """What the SQL oracle can't verify (union trees keep STRUCTURAL pm),
    checked against an independent numpy/dict reimplementation of leaf
    build → per-leaf compaction → union → root compaction → stats."""
    from oscar_spatial_index_compare_spark.grids.zxy import ZXY
    from oscar_spatial_index_compare_spark.operators.hcqr import hcqr_stats
    from oscar_spatial_index_compare_spark.sources.gazetteer import (
        mentions_subquery_sql,
    )

    res = 9
    cell = ZXY.cell_sql("m.lat", "m.lon", res)
    mc = duck.execute(
        f"SELECT DISTINCT m.doc_id, {cell} AS cell_id"
        f" FROM {mentions_subquery_sql()} m"
    ).fetchall()
    totals: dict = {}
    for doc, c in mc:
        totals.setdefault(c, set()).add(doc)
    pop = set(totals)

    def leaf(token):
        docs = {r[0] for r in duck.execute(
            "SELECT doc_id FROM documents WHERE"
            f" list_contains(string_split(text, ' '), '{token}')").fetchall()}
        rows = {}
        for c, tdocs in totals.items():
            m = frozenset(tdocs & docs)
            if m:
                rows[(c, res)] = True if m == frozenset(tdocs) else m
        return _py_compactify(rows, pop, res)

    u = _py_compactify(_py_union(leaf("dup"), leaf("spark"), res), pop, res)
    depth = max(l for _p, l in u) + 1
    n_leaves = len(u)
    n_fm = sum(1 for v in u.values() if v is True)
    pm_items = sum(len(v) for v in u.values() if v is not True)
    nodes = {(_zxy_anc(p, k), l - k) for (p, l) in u for k in range(l + 1)}

    s = hcqr_stats(
        engine.planner("zxy", res).hcqr("dup + spark"), "zxy", res
    ).collect()[0]
    assert (s.depth, s.n_leaves, s.n_fm, s.pm_items, s.n_nodes) == (
        depth, n_leaves, n_fm, pm_items, len(nodes))
