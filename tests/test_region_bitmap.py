"""Region lowering parity: the pruned covering dimension against the
distributed equi-join path, and batch counts against per-region docs
(the counts path had zero test/oracle coverage while being exactly what
bench/scaling time, ADVICE r03)."""

import pytest

from oscar_spatial_index_compare_spark.operators import region_query as rq
from oscar_spatial_index_compare_spark.operators.cell_stats import cell_stats
from oscar_spatial_index_compare_spark.operators.region_query import (
    region_query_batch_counts,
    region_query_docs,
)
from oscar_spatial_index_compare_spark.sources.regions import REGIONS, region_by_name


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("rname", ["metro", "concave_c", "east_am", "polar"])
def test_single_region_dim_join_matches_fallback(engine, spark, rname, monkeypatch):
    """region_query_docs lowers to ONE broadcast covering-dimension join
    (a batch of one); it must return exactly the docs of the distributed
    per-level equi-join path that runs when no dimension ships."""
    ctx = engine.context("s2", 10)
    poly = region_by_name(rname)
    assert cell_stats(ctx.mcells, "s2", 10) is not None
    dim = region_query_docs(spark, ctx.mcells, poly, "s2", 10)
    got = {r.doc_id for r in dim.collect()}
    monkeypatch.setattr(rq, "MAX_BROADCAST_CELLS", -1)
    fallback = region_query_docs(spark, ctx.mcells, poly, "s2", 10)
    assert "Join Inner, (anc#" in _analyzed(fallback)
    assert got == {r.doc_id for r in fallback.collect()}


def test_batch_counts_matches_per_region_docs(engine, spark):
    """The batch counts (one dimension plus the packed per-doc bitmap)
    equal the per-region doc counts."""
    ctx = engine.context("s2", 10)
    regs = [(name, poly) for _rid, name, _lvl, poly in REGIONS[:6]]
    stats = cell_stats(ctx.mcells, "s2", 10)
    covs = [rq.dimension_covering("s2", poly, 10, stats) for _n, poly in regs]
    assert None not in covs and sum(
        len(f) + len(b) for f, b in covs) <= rq.MAX_BROADCAST_CELLS, \
        "the one-dimension lowering must fire for this test to mean anything"
    got = {r.region: r.n_docs for r in region_query_batch_counts(
        spark, ctx.mcells, regs, "s2", 10).collect()}
    want = {
        name: region_query_docs(spark, ctx.mcells, poly, "s2", 10).count()
        for name, poly in regs
    }
    assert got == want
