"""Region cap sweep: every cap of ``operators/region_query`` forced on every
region entry point, each answer checked against the DuckDB oracle
(``region_query_oracle_sql``) on s2-10.

Forcings:
  * ``none`` — the batch's pruned coverings ship as one dimension;
  * ``no_stats`` — ``MAX_DRIVER_CELLS = -1`` on a fresh stats memo: no
    driver stats, so every region takes the distributed ancestor
    equi-joins;
  * ``no_dim`` — ``MAX_BROADCAST_CELLS = -1``: stats, but no dimension;
  * ``per_region`` — a cap between the largest single pruned covering and
    the batch's combined one: one dimension per region;
  * ``unrolled_pip`` — ``PIP_HOF_MAX_ROWS = 0``: the unrolled PIP form.

Each case also asserts the path that ran, read from the analyzed plans
(the frame's own and every frame it checkpointed), from the PIP text
that ``pip_filter_sql`` returned, and from the coverings asked of the
grid: pruned to the populated cells with driver stats, unpruned without
them, and both for a region whose pruned cells exceed the dimension cap
(its fallback joins the raw covering).
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from oscar_spatial_index_compare_spark.grids.base import Grid
from oscar_spatial_index_compare_spark.operators import cell_stats as cs
from oscar_spatial_index_compare_spark.operators import region_query as rq
from oscar_spatial_index_compare_spark.sources.regions import REGIONS

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "oscar_spatial_index_compare_spark"

BATCH = [(name, poly) for _rid, name, _lvl, poly in REGIONS]
SINGLE = 5  # concave_c: full cells, boundary rows and a concave edge
SINGLE_NAME, SINGLE_POLY = BATCH[SINGLE - 1]

_DIM = re.compile(r"LocalRelation \[cell_id#\d+L, rid#\d+L, needs_pip#\d+\]")


@pytest.fixture(scope="module")
def want(duck):
    """Oracle doc sets by region name."""
    return {name: {r[0] for r in duck.execute(rq.region_query_oracle_sql(poly)).fetchall()}
            for name, poly in BATCH}


@pytest.fixture(scope="module")
def sizes(engine):
    """Pruned covering cells per region at the default caps."""
    ctx = engine.context("s2", 10)
    stats = cs.cell_stats(ctx.mcells, "s2", 10)
    return [sum(map(len, rq.dimension_covering("s2", p, 10, stats))) for _n, p in BATCH]


def _force(forcing, engine, sizes, monkeypatch):
    ctx = engine.context("s2", 10)
    if forcing == "no_stats":
        monkeypatch.setattr(cs, "MAX_DRIVER_CELLS", -1)
        monkeypatch.setitem(ctx.mcells.__dict__, cs._MEMO, {})
        assert cs.cell_stats(ctx.mcells, "s2", 10) is None
    elif forcing == "no_dim":
        monkeypatch.setattr(rq, "MAX_BROADCAST_CELLS", -1)
    elif forcing == "per_region":
        assert max(sizes) < sum(sizes)
        monkeypatch.setattr(rq, "MAX_BROADCAST_CELLS", (max(sizes) + sum(sizes)) // 2)
    elif forcing == "unrolled_pip":
        monkeypatch.setattr(rq, "PIP_HOF_MAX_ROWS", 0)


def _run(entry, spark, engine):
    """→ (frame, answer as {region name: doc set} or {name: count})."""
    ctx = engine.context("s2", 10)
    if entry == "docs":
        df = rq.region_query_docs(spark, ctx.mcells, SINGLE_POLY, "s2", 10)
    elif entry == "batch":
        df = rq.region_query_batch(spark, ctx.mcells, BATCH, "s2", 10)
        out: dict = {n: set() for n, _p in BATCH}
        for r in df.collect():
            out[r.region].add(r.doc_id)
        return df, out
    elif entry == "batch_counts":
        df = rq.region_query_batch_counts(spark, ctx.mcells, BATCH, "s2", 10)
        return df, {r.region: r.n_docs for r in df.collect()}
    elif entry == "planner_docs":
        df = engine.planner("s2", 10).docs(f"$region:{SINGLE}")
    else:
        df = engine.planner("s2", 10).hcqr_docs(f"$region:{SINGLE}")
    return df, {SINGLE_NAME: {r.doc_id for r in df.collect()}}


def _expect(forcing, entry, sizes):
    """→ (dimension joins, whether an ancestor equi-join ran, PIP forms,
    whether each covering asked of the grid was pruned).  Without a pruned
    dimension the region entries join their full cells on ancestor ids and
    ship the raw boundary cells as one dimension.  The planner's leaves
    ship no dimension, and MAX_BROADCAST_CELLS does not gate the HCQR
    leaf; a single region fits the per-region cap."""
    dims = 0 if entry in ("planner_docs", "hcqr_docs") else 1
    if forcing == "per_region" and entry in ("batch", "batch_counts"):
        dims = sum(1 for n in sizes if n)
    anc = forcing in ("no_stats", "no_dim") and entry != "hcqr_docs"
    pip = {"unrolled"} if forcing in ("no_stats", "unrolled_pip") else {"hof"}
    pruned = {False} if forcing == "no_stats" else {True, False} if anc else {True}
    return dims, anc, pip, pruned


@pytest.mark.parametrize("entry", ["docs", "batch", "batch_counts", "planner_docs",
                                   "hcqr_docs"])
@pytest.mark.parametrize("forcing", ["none", "no_stats", "no_dim", "per_region",
                                     "unrolled_pip"])
def test_region_cap_sweep(forcing, entry, spark, engine, want, sizes, monkeypatch):
    _force(forcing, engine, sizes, monkeypatch)
    plans, pips, pruned = [], [], []
    frame_cls = type(spark.range(0))  # the classic DataFrame subclass
    checkpoint, pip_filter = frame_cls.localCheckpoint, rq.pip_filter_sql
    covering = Grid.covering

    def spy_checkpoint(df, *a, **k):
        plans.append(df._jdf.queryExecution().analyzed().toString())
        return checkpoint(df, *a, **k)

    def spy_pip(poly, row_bound):
        pips.append(out := pip_filter(poly, row_bound))
        return out

    def spy_covering(grid, poly, res, populated=None):
        pruned.append(populated is not None)
        return covering(grid, poly, res, populated)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy_checkpoint)
    monkeypatch.setattr(rq, "pip_filter_sql", spy_pip)
    monkeypatch.setattr(Grid, "covering", spy_covering)
    rq._covering.cache_clear()  # a memo hit would skip the unpruned covering
    df, got = _run(entry, spark, engine)
    text = "\n".join(plans + [df._jdf.queryExecution().analyzed().toString()])

    dims, anc, pip, want_pruned = _expect(forcing, entry, sizes)
    assert len(_DIM.findall(text)) == dims
    assert ("anc#" in text) == anc
    assert {"hof" if "aggregate(" in s else "unrolled" for s in pips} == pip
    assert set(pruned) == want_pruned
    if entry == "batch_counts":
        assert got == {n: len(d) for n, d in want.items()}
    else:
        assert got == {n: want[n] for n in got}
    assert any(got.values())


# ---- AST guard: caps are read where they are defined ---------------------

def _cap_imports(src: str) -> list[int]:
    """Line numbers of ``from … import MAX_*`` / ``PIP_HOF_MAX_ROWS``: a
    by-name import copies the value, so a patch of the defining module
    never reaches the importer."""
    return [node.lineno for node in ast.walk(ast.parse(src))
            if isinstance(node, ast.ImportFrom)
            and any(a.name.startswith("MAX_") or a.name == "PIP_HOF_MAX_ROWS"
                    for a in node.names)]


def test_guard_flags_cap_imports():
    src = (
        "from .region_query import (\n    MAX_BROADCAST_CELLS,\n    x,\n)\n"
        "from .region_query import PIP_HOF_MAX_ROWS\n"
        "from . import region_query as rq\n"
        "from .token_index import DEFAULT_MAX_KEY_LEN\n"
        "y = rq.MAX_BROADCAST_CELLS\n"
    )
    assert _cap_imports(src) == [1, 5]


def test_no_cap_imported_by_name():
    bad = {
        str(p.relative_to(PACKAGE)): lines
        for p in sorted(PACKAGE.rglob("*.py"))
        if (lines := _cap_imports(p.read_text()))
    }
    assert not bad, f"cap imported by name (read it as module.CAP): {bad}"
