"""r06 third pass: the two PIP lowerings must be bit-identical, and the
bound-driven form choice must never change results.

pip_hof_sql (array-literal aggregate fold, polygon-independent codegen
source) replaced the unrolled pip_sql in the region-query gate whenever the
driver-known boundary-row bound is small; both forms must agree on every
row, and forcing either form through the public entry points must produce
identical doc sets.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from oscar_spatial_index_compare_spark.functions.geo import pip_hof_sql, pip_sql
from oscar_spatial_index_compare_spark.sources.regions import REGIONS, region_by_name


def test_pip_forms_bit_identical_on_corpus(spark, engine):
    """Every region polygon: zero rows where the two forms disagree over
    the full mention set (the exact arithmetic-equivalence claim)."""
    m = engine.mentions
    checks = []
    for _rid, name, _lvl, poly in REGIONS:
        checks.append(
            F.sum(
                (~F.expr(pip_sql("lat", "lon", poly))
                 .eqNullSafe(F.expr(pip_hof_sql("lat", "lon", poly)))).cast("int")
            ).alias(name)
        )
    row = m.agg(*checks).collect()[0]
    assert all(v == 0 for v in row), row.asDict()


def test_pip_form_choice_result_identical(spark, engine, monkeypatch):
    """region_query_docs with the HOF gate forced on (huge cap) and forced
    off (cap 0) returns the same doc set."""
    from oscar_spatial_index_compare_spark.operators import region_query as rq

    ctx = engine.context("s2", 10)
    poly = region_by_name("north_band")

    monkeypatch.setattr(rq, "PIP_HOF_MAX_ROWS", 0)
    lo = {r.doc_id for r in rq.region_query_docs(
        spark, ctx.mcells, poly, "s2", 10).collect()}
    monkeypatch.setattr(rq, "PIP_HOF_MAX_ROWS", 1 << 60)
    hi = {r.doc_id for r in rq.region_query_docs(
        spark, ctx.mcells, poly, "s2", 10).collect()}
    assert lo == hi and len(lo) > 0


def test_pop_row_bound_exact(spark, engine):
    """The memoized per-cell row counts sum to the true row count of any
    cell subset (the bound that gates the interpreted PIP form)."""
    from oscar_spatial_index_compare_spark.operators import region_query as rq

    ctx = engine.context("s2", 10)
    probe = ctx.mcells.where((F.col("grid") == "s2") & (F.col("res") == 10))
    key = (id(ctx.mcells), "s2", 10)
    pop = rq.populated_cells(probe, key, source=ctx.mcells)
    assert pop is not None and len(pop) > 0
    subset = pop[:: max(1, len(pop) // 17)]
    bound = rq._pop_row_bound(key, subset)
    truth = probe.where(
        F.col("cell_id").isin([int(c) for c in subset])).count()
    assert bound == truth
    # total over all cells == total probe rows
    assert rq._pop_row_bound(key, pop) == probe.count()
    # unknown key -> None (callers then take the codegen form)
    assert rq._pop_row_bound(("nope", 0, 0), subset) is None


def test_preloaded_knn_counts_match_self_sufficient_path(spark, tmp_path):
    """The context-open preload fills knn's stats memo from the STORED
    aggregates (cell_totals.n_docs + one base scan); it must equal what
    knn._cell_doc_counts derives from mention_cells on its own."""
    import time

    from oscar_spatial_index_compare_spark.engine import Engine
    from oscar_spatial_index_compare_spark.operators import knn as K
    from tests.conftest import SF_DIR

    eng = Engine(spark, SF_DIR, catalog_root=str(tmp_path / "cat"))
    ctx = eng.context("h3", 6)
    key = (id(ctx.mcells), "h3", 6)
    for _ in range(120):  # preload runs in a daemon thread — wait for it
        if key in K._COUNTS_CACHE:
            break
        time.sleep(0.25)
    assert key in K._COUNTS_CACHE, "preload did not populate the knn memo"
    pre = K._COUNTS_CACHE.pop(key)  # drop it and recompute from mcells
    probe = ctx.mcells.where(
        (F.col("grid") == "h3") & (F.col("res") == 6)).select(
        "doc_id", "lat", "lon", "cell_id")
    counts, mstar, ndocs = K._cell_doc_counts(probe, ctx.mcells, key)
    assert pre[1] == counts
    assert (pre[2], pre[3]) == (mstar, ndocs)


def test_knn_cell_counts_exact(spark, engine):
    """count_distinct rewrite of _cell_doc_counts returns exactly the
    brute-force per-cell distinct doc counts and (M*, D) spread."""
    from oscar_spatial_index_compare_spark.operators import knn as K

    ctx = engine.context("h3", 6)
    probe = ctx.mcells.where(
        (F.col("grid") == "h3") & (F.col("res") == 6)).select(
        "doc_id", "lat", "lon", "cell_id")
    counts, mstar, ndocs = K._cell_doc_counts(
        probe, ctx.mcells, (id(ctx.mcells), "h3", 6))
    pairs = {(r.cell_id, r.doc_id) for r in
             probe.select("cell_id", "doc_id").dropDuplicates().collect()}
    exp_counts: dict[int, int] = {}
    per_doc: dict[int, int] = {}
    for c, d in pairs:
        exp_counts[c] = exp_counts.get(c, 0) + 1
        per_doc[d] = per_doc.get(d, 0) + 1
    assert counts == exp_counts
    assert mstar == max(per_doc.values())
    assert ndocs == len(per_doc)
