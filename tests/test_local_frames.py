"""Driver-side frames are Arrow-built local relations.

A ``createDataFrame`` over a Python list is a pickled Python RDD: its
first use runs a job that starts Python workers, which dominated small kNN
batches.  ``session.local_frame`` builds the same frames from an Arrow
table, planned as a ``LocalRelation`` that runs no job.  These tests pin
the helper's types and the plans of the query paths that use it; the AST
guard keeps list-fed ``createDataFrame`` calls out of the package.
"""

from __future__ import annotations

import ast
import pathlib
import re

import numpy as np
import pytest

from oscar_spatial_index_compare_spark.grids.base import get_grid
from oscar_spatial_index_compare_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "oscar_spatial_index_compare_spark"

ALL_TYPES = "a long, b int, c double, d boolean, e array<long>, f string"


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("n", [0, 3])
def test_local_frame_round_trips_every_type(spark, n):
    cols = [
        np.arange(n, dtype=np.int64) + (1 << 40),
        np.arange(n, dtype=np.int64),
        np.linspace(-1.5, 1.5, n),
        np.arange(n) % 2 == 0,
        [None if i == 1 else [i, -i] for i in range(n)],
        [f"t{i}" for i in range(n)],
    ]
    df = local_frame(spark, ALL_TYPES, cols)
    assert df.schema.simpleString() == (
        "struct<a:bigint,b:int,c:double,d:boolean,e:array<bigint>,f:string>")
    assert "LocalRelation" in _analyzed(df)
    assert "LogicalRDD" not in _analyzed(df)
    got = [tuple(r) for r in df.collect()]
    assert got == [tuple(c[i].item() if isinstance(c, np.ndarray) else c[i]
                         for c in cols) for i in range(n)]


def _mcells(spark, grid, res, mentions):
    """mentions: [(doc_id, lat, lon)] → a local mention_cells-shaped frame."""
    doc = np.array([m[0] for m in mentions], np.int64)
    lat = np.array([m[1] for m in mentions], np.float64)
    lon = np.array([m[2] for m in mentions], np.float64)
    cells = get_grid(grid).cell(lat, lon, res) if len(doc) else doc
    return local_frame(
        spark, "grid string, res int, doc_id long, lat double, lon double, "
        "cell_id long", [[grid] * len(doc), [res] * len(doc), doc, lat, lon, cells])


def knn_batch(spark):
    """A 5-query kNN batch over 400 local-frame mentions at h3-5 → a
    function that builds (does not run) the batch's plan."""
    from oscar_spatial_index_compare_spark.operators.knn import knn_docs

    rng = np.random.RandomState(3)
    mentions = [(i // 2, *rng.uniform(-5, 5, 2)) for i in range(400)]
    mc = _mcells(spark, "h3", 5, mentions)
    queries = [(i, *rng.uniform(-4, 4, 2).tolist(), 3 + i) for i in range(5)]
    return lambda: knn_docs(spark, mc, queries, "h3", 5)


def test_knn_batch_runs_no_rdd_scan(spark):
    from oscar_spatial_index_compare_spark.operators.knn import knn_docs

    mc = _mcells(spark, "h3", 5, [(1, 0.1, 0.1), (2, 0.5, 0.4), (3, 3.0, 3.0)])
    out = knn_docs(spark, mc, [(0, 0.0, 0.0, 2), (1, 3.0, 3.1, 1)],
                   grid="h3", res=5)
    got = sorted((r.query_id, r.doc_id) for r in out.collect())
    assert got == [(0, 1), (0, 2), (1, 3)]
    assert "Scan ExistingRDD" not in _executed(out)


def _ctx(spark, mentions):
    from oscar_spatial_index_compare_spark.plans.planner import QueryContext

    mc = _mcells(spark, "s2", 10, mentions)
    by_cell: dict[int, list[int]] = {}
    for r in mc.collect():
        by_cell.setdefault(r.cell_id, []).append(r.doc_id)
    cells = sorted(by_cell)
    ct = local_frame(spark, "cell_id long, doc_ids array<long>, n_docs long", [
        cells, [sorted(by_cell[c]) for c in cells],
        [len(by_cell[c]) for c in cells]])
    return QueryContext(spark, "s2", 10, mc, ct, tpostings=None)


def test_region_cqr_rect_runs_no_rdd_scan(spark):
    from oscar_spatial_index_compare_spark.plans.planner import Planner

    ctx = _ctx(spark, [(1, 10.0, 10.0), (2, 10.3, 10.4), (3, 20.0, 20.0)])
    rect = np.array([[9.9, 9.9], [9.9, 10.6], [10.6, 10.6], [10.6, 9.9]])
    cqr = Planner(ctx)._region_cqr(rect)
    assert cqr.count() > 0
    assert "Scan ExistingRDD" not in _executed(cqr)
    docs = Planner(ctx).docs("$rect:9.9,10.6,9.9,10.6")
    assert sorted(r.doc_id for r in docs.collect()) == [1, 2]


def test_pop_row_bound_empty_populated_list():
    """An empty populated list bounds every cell set at 0 rows (it used to
    index the empty array and raise IndexError)."""
    from oscar_spatial_index_compare_spark.operators.cell_stats import CellStats

    empty = np.empty(0, np.int64)
    stats = CellStats("s2", empty, empty, empty, mstar=0, docs=0)
    assert stats.row_bound(np.array([5, 7], np.int64)) == 0


def test_rect_leaf_over_zero_mention_context_is_empty(spark, monkeypatch):
    """Both distributed covering paths over a zero-mention context yield no
    docs: empty stats with no dimension to ship (the cap forced below
    zero), and no stats at all (populated list above the driver cap).
    Each joins cell_totals on ancestor ids."""
    from oscar_spatial_index_compare_spark.operators import cell_stats as cs
    from oscar_spatial_index_compare_spark.operators import region_query as rq
    from oscar_spatial_index_compare_spark.plans.planner import Planner

    rect = "$rect:9.9,10.6,9.9,10.6"
    with monkeypatch.context() as m:
        m.setattr(rq, "MAX_BROADCAST_CELLS", -1)
        ctx = _ctx(spark, [])
        assert cs.cell_stats(ctx.mcells, "s2", 10) is not None
        assert "Join Inner, (anc#" in _analyzed(Planner(ctx).cqr(rect))
        assert Planner(ctx).docs(rect).count() == 0
    monkeypatch.setattr(cs, "MAX_DRIVER_CELLS", -1)
    ctx = _ctx(spark, [])
    assert "Join Inner, (anc#" in _analyzed(Planner(ctx).cqr(rect))
    assert Planner(ctx).docs(rect).count() == 0
    assert cs.cell_stats(ctx.mcells, "s2", 10) is None


def test_stats_never_alias_across_frames(spark):
    """Stats live on the frame they describe: after frame A is dropped and
    collected, new frames B over other mentions answer region and kNN
    queries exactly as their own brute force does (an id()-keyed memo
    once handed a recycled id another table's populated cells)."""
    import gc

    from oscar_spatial_index_compare_spark.functions.geo import haversine_np
    from oscar_spatial_index_compare_spark.grids.base import point_in_poly
    from oscar_spatial_index_compare_spark.operators.knn import knn_docs
    from oscar_spatial_index_compare_spark.operators.region_query import (
        region_query_docs,
    )

    rect = np.array([[9.9, 9.9], [9.9, 10.6], [10.6, 10.6], [10.6, 9.9]])
    q = (10.0, 10.0, 2)

    def engine(mentions):
        s2 = _mcells(spark, "s2", 10, mentions)
        h3 = _mcells(spark, "h3", 5, mentions)
        region = region_query_docs(spark, s2, rect, "s2", 10).collect()
        knn = knn_docs(spark, h3, [(0, *q)], "h3", 5).collect()
        return (sorted(r.doc_id for r in region),
                [r.doc_id for r in sorted(knn, key=lambda r: r.rank)])

    def brute(mentions):
        doc, lat, lon = (np.array(c) for c in zip(*mentions))
        inside = point_in_poly(lat, lon, rect)
        km = haversine_np(q[0], q[1], lat, lon)
        best: dict[int, float] = {}
        for d, k in zip(doc.tolist(), km.tolist()):
            best[d] = min(best.get(d, k), k)
        near = sorted(best, key=lambda d: (best[d], d))[: q[2]]
        return sorted(set(doc[inside].tolist())), near

    a = [(1, 10.0, 10.0), (2, 10.3, 10.4), (3, 20.0, 20.0)]
    assert engine(a) == brute(a)
    del a
    gc.collect()
    for shift in (10, 20):
        b = [(shift + 1, 10.5, 10.05), (shift + 2, 9.95, 10.55),
             (shift + 3, 10.02, 10.03), (shift + 3, 40.0, 40.0),
             (shift + 4, -5.0, 12.0)]
        assert engine(b) == brute(b)
        gc.collect()


def _normalized(plan: str) -> str:
    return re.sub(r"#\d+|plan_id=\d+", "#", plan)


def test_rect_leaf_pip_form_is_stable(spark):
    """On a fresh context a $rect leaf plans the same PIP form before and
    after a region query over the same frame: the form depends on the
    context's stats, never on which query happened to run first.  (The
    analyzed plan: over local frames the optimizer folds the filter.)"""
    from oscar_spatial_index_compare_spark.operators.region_query import (
        region_query_docs,
    )
    from oscar_spatial_index_compare_spark.plans.planner import Planner

    ctx = _ctx(spark, [(1, 10.0, 10.0), (2, 10.3, 10.4), (3, 20.0, 20.0)])
    rect = np.array([[9.95, 9.95], [9.95, 10.5], [10.5, 10.5], [10.5, 9.95]])
    before = _analyzed(Planner(ctx)._region_cqr(rect))
    poly = np.array([[9.9, 9.9], [9.9, 10.6], [10.6, 10.6], [10.6, 9.9]])
    region_query_docs(spark, ctx.mcells, poly, "s2", 10).collect()
    after = _analyzed(Planner(ctx)._region_cqr(rect))
    assert "aggregate(" in before  # the polygon-independent HOF form
    assert _normalized(before) == _normalized(after)


# ---- AST guard: no list-fed createDataFrame in the package ---------------

_LITERALS = (ast.List, ast.ListComp, ast.Tuple, ast.GeneratorExp)


def _list_fed_calls(src: str) -> list[int]:
    """Line numbers of ``createDataFrame`` calls whose data is a list/tuple
    literal or comprehension, or a name bound to one anywhere in the
    module."""
    tree = ast.parse(src)
    list_names = {
        t.id
        for node in ast.walk(tree) if isinstance(node, (ast.Assign, ast.AnnAssign))
        if isinstance(node.value, _LITERALS)
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
        if isinstance(t, ast.Name)
    }
    bad = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"):
            continue
        data = node.args[0] if node.args else next(
            (k.value for k in node.keywords if k.arg == "data"), None)
        if isinstance(data, _LITERALS) or (
                isinstance(data, ast.Name) and data.id in list_names):
            bad.append(node.lineno)
    return bad


def test_guard_flags_list_fed_frames():
    src = (
        "a = spark.createDataFrame([(1,)], 'x long')\n"
        "b = spark.createDataFrame([(c,) for c in cs], 'x long')\n"
        "rows = []\n"
        "c = spark.createDataFrame(rows, 'x long')\n"
        "d = spark.createDataFrame(data=[], schema='x long')\n"
        "e = spark.createDataFrame(table, schema)\n"
    )
    assert _list_fed_calls(src) == [1, 2, 4, 5]


def test_no_list_fed_create_dataframe_in_package():
    bad = {
        str(p.relative_to(PACKAGE)): lines
        for p in sorted(PACKAGE.rglob("*.py"))
        if (lines := _list_fed_calls(p.read_text()))
    }
    assert not bad, f"list-fed createDataFrame (use session.local_frame): {bad}"


# ---- AST guard: no id()-keyed state; threads only in the build scheduler --

def _id_calls(src: str) -> list[int]:
    """Line numbers of ``id(...)`` calls."""
    return [node.lineno for node in ast.walk(ast.parse(src))
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id == "id"]


def _thread_imports(src: str) -> list[int]:
    """Line numbers of ``threading`` or ``concurrent.futures`` imports."""
    bad = []
    for node in ast.walk(ast.parse(src)):
        names = ([a.name for a in node.names] if isinstance(node, ast.Import)
                 else [node.module or ""] if isinstance(node, ast.ImportFrom)
                 else [])
        if any(n == "threading" or n.split(".")[0] == "concurrent"
               for n in names):
            bad.append(node.lineno)
    return bad


def test_guard_flags_id_calls_and_thread_imports():
    src = (
        "key = (id(df), grid, res)\n"
        "import threading\n"
        "from concurrent.futures import ThreadPoolExecutor\n"
        "import concurrent.futures as cf\n"
        "from concurrent import futures\n"
        "region_by_id(3); obj.id(4); ids = [id]\n"
        "import os, threading\n"
        "from .threading_notes import x; import threadpoolctl\n"
    )
    assert _id_calls(src) == [1]
    assert _thread_imports(src) == [2, 3, 4, 5, 7]


@pytest.mark.parametrize("sub, checks", [
    ("operators", (_id_calls, _thread_imports)),
    ("plans", (_id_calls,)),
], ids=["operators", "plans"])
def test_no_id_keys_or_threads_in_query_layers(sub, checks):
    """Query-side state lives on the objects it describes (no id() keys),
    and the operators start no threads of their own."""
    bad = {
        str(p.relative_to(PACKAGE)): lines
        for p in sorted((PACKAGE / sub).rglob("*.py"))
        if (lines := [n for check in checks for n in check(p.read_text())])
    }
    assert not bad, f"id() call or thread import: {bad}"


def test_only_the_catalog_starts_threads():
    """Build concurrency has one owner, the ``Catalog.build`` scheduler: no
    other module of the package imports a thread API."""
    allowed = PACKAGE / "sources" / "catalog.py"
    bad = {
        str(p.relative_to(PACKAGE)): lines
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != allowed and (lines := _thread_imports(p.read_text()))
    }
    assert not bad, f"thread import outside sources/catalog.py: {bad}"
    assert _thread_imports(allowed.read_text())
