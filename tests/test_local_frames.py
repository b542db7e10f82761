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
    doc, lat, lon = (np.array(c) for c in zip(*mentions))
    cells = get_grid(grid).cell(lat, lon, res)
    return local_frame(
        spark, "grid string, res int, doc_id long, lat double, lon double, "
        "cell_id long", [[grid] * len(doc), [res] * len(doc), doc, lat, lon, cells])


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

    mc = _mcells(spark, "s2", 10, mentions) if mentions else local_frame(
        spark, "doc_id long, lat double, lon double, cell_id long", [[]] * 4)
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
    """An empty memoized populated list bounds every cell set at 0 rows
    (it used to index the empty array and raise IndexError)."""
    from oscar_spatial_index_compare_spark.operators import region_query as rq

    key = ("test-empty", "s2", 10)
    rq._POP_CACHE[key] = (None, np.empty(0, np.int64), np.empty(0, np.int64))
    try:
        assert rq._pop_row_bound(key, np.array([5, 7], np.int64)) == 0
    finally:
        rq._POP_CACHE.pop(key, None)


def test_rect_leaf_over_zero_mention_context_is_empty(spark, monkeypatch):
    """The distributed covering path hands the unpruned boundary to the PIP
    bound; over a zero-mention context that must yield no docs, not raise."""
    from oscar_spatial_index_compare_spark.operators import region_query as rq
    from oscar_spatial_index_compare_spark.plans.planner import Planner

    ctx = _ctx(spark, [])
    rq.populated_cells(ctx.mcells, (id(ctx.mcells), "s2", 10))
    monkeypatch.setattr(rq, "MAX_DRIVER_POP_CELLS", -1)  # ctotals: too big
    assert Planner(ctx).docs("$rect:9.9,10.6,9.9,10.6").count() == 0


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
