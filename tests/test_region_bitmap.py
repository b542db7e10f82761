"""Bitmap region-query lowering: grid-derived run strides + parity with the
join-based fallback (ADVICE r03 high: the min-diff-inferred stride made
BETWEEN ranges match covering gaps, overcounting; the path also had zero
test/oracle coverage while being exactly what bench/scaling time)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from oscar_spatial_index_compare_spark.grids.base import get_grid
from oscar_spatial_index_compare_spark.operators.cell_stats import cell_stats
from oscar_spatial_index_compare_spark.operators.region_query import (
    _batch_preds_sql,
    _one_region_parts,
    _runs,
    region_query_batch_counts,
    region_query_docs,
)
from oscar_spatial_index_compare_spark.sources.regions import REGIONS, region_by_name


def test_runs_gappy_array_never_bridges_gaps():
    # the ADVICE reproduction: [100,102,104] with lattice stride 1 must NOT
    # become one BETWEEN 100 AND 104 (101/103 are valid ids not in the set)
    assert _runs(np.array([100, 102, 104], np.int64), step=1) == [
        (100, 100), (102, 102), (104, 104)]
    # with the true stride 2 (s2-style aligned ids) the same array IS a run
    assert _runs(np.array([100, 102, 104], np.int64), step=2) == [(100, 104)]
    assert _runs(np.array([1, 2, 3, 7, 8], np.int64), step=1) == [(1, 3), (7, 8)]
    assert _runs(np.array([], np.int64), step=1) == []
    assert _runs(np.array([5], np.int64), step=1) == [(5, 5)]


def test_lattice_steps_are_grid_derived():
    # s2 level-R sibling ids differ by 2*lsb = 2^(2*(30-R)+1)
    assert get_grid("s2").lattice_step(10) == 1 << 41
    assert get_grid("s2").lattice_step(30) == 2
    # integer-dense id schemes: stride 1 (always exact)
    assert get_grid("zxy").lattice_step(9) == 1
    assert get_grid("htm").lattice_step(9) == 1
    assert get_grid("h3").lattice_step(6) == 1
    # sanity: consecutive s2 cells along a face row really are 2*lsb apart
    g = get_grid("s2")
    ids = np.sort(g.cell(np.full(50, 48.85), np.linspace(2.0, 2.7, 50), 10))
    d = np.diff(np.unique(ids))
    assert d.min() >= g.lattice_step(10)
    assert (d % g.lattice_step(10) == 0).all()


@pytest.mark.parametrize("rname", ["metro", "concave_c", "east_am", "polar"])
def test_single_region_dim_join_matches_fallback(engine, spark, rname):
    """region_query_docs now lowers to ONE broadcast covering-dim join
    (batch of one); it must return exactly the docs of the r01-era
    multi-fragment join plan.  The BETWEEN-predicate bitmap form is covered
    by test_batch_counts_matches_per_region_docs + the driver's
    region_batch_counts_s2 oracle entry."""
    ctx = engine.context("s2", 10)
    poly = region_by_name(rname)
    probe = ctx.mcells.where((F.col("grid") == "s2") & (F.col("res") == 10))
    stats = cell_stats(ctx.mcells, "s2", 10)
    assert stats is not None
    got = {r.doc_id for r in
           region_query_docs(spark, ctx.mcells, poly, "s2", 10).collect()}
    parts = _one_region_parts(spark, probe, poly, "s2", 10, stats)
    want = set()
    for p in parts:
        want |= {r.doc_id for r in p.collect()}
    assert got == want


def test_batch_counts_matches_per_region_docs(engine, spark):
    ctx = engine.context("s2", 10)
    regs = [(name, poly) for _rid, name, _lvl, poly in REGIONS[:6]]
    stats = cell_stats(ctx.mcells, "s2", 10)
    assert stats is not None
    assert _batch_preds_sql(regs, "s2", 10, stats) is not None, \
        "bitmap predicate path must fire for this test to mean anything"
    got = {r.region: r.n_docs for r in region_query_batch_counts(
        spark, ctx.mcells, regs, "s2", 10).collect()}
    want = {
        name: region_query_docs(spark, ctx.mcells, poly, "s2", 10).count()
        for name, poly in regs
    }
    assert got == want
