"""Create→query split + result cache (r02 VERDICT items 2 and 10).

The catalog-backed Engine must answer queries from MATERIALIZED postings
tables (pruned parquet scans — the reference's static-index load,
``src/static-htm-index.cpp:202-207``) with results identical to the lazy
in-session engine; repeated identical queries must return the cached
localCheckpointed frame (``HCQRIndexWithCache``, ``apps/mainq.cpp:495-497``).
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _docs(engine, q, grid="s2", res=10):
    return sorted(
        r.doc_id for r in engine.planner(grid, res).docs(q).collect()
    )


@pytest.mark.parametrize("q", ["join / window", "dup ^ spark", "jo*",
                               "$region:1 / dup"])
def test_catalog_engine_matches_lazy(q, engine, cat_engine):
    assert _docs(cat_engine, q) == _docs(engine, q)


def test_catalog_leaves_are_pruned_file_scans(cat_engine):
    tp = cat_engine.context("s2", 10).tpostings
    plan = (
        tp.where(F.col("token") == "join")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FileScan parquet" in plan
    # the token filter must reach the parquet reader (sorted files → row
    # groups prune by min/max stats)
    assert "PushedFilters: [" in plan and "token" in plan.split("PushedFilters")[1][:200]


def test_catalog_build_is_checkpoint_gated(spark, cat_engine):
    # a second context() for the same (grid, res) must not rewrite tables:
    # the snapshot log keeps exactly one entry per table fingerprint
    cat_engine.context("s2", 10)
    snaps = cat_engine.catalog.snapshots("token_postings_s2_10")
    assert len(snaps) == 1
    assert snaps[0]["n_rows"] > 0 and snaps[0]["bytes"] > 0


def test_result_cache_hit_returns_same_frame(engine):
    d1 = engine.query_docs("join / window")
    d2 = engine.query_docs("join / window")
    assert d1 is d2  # LRU hit — the checkpointed frame is reused
    fresh = engine.query_docs("join / window", use_cache=False)
    assert d1.count() == fresh.count()


def test_region_batch_matches_single_queries(spark, engine):
    from oscar_spatial_index_compare_spark.operators.region_query import (
        region_query_batch,
        region_query_docs,
    )
    from oscar_spatial_index_compare_spark.sources.regions import region_by_name

    ctx = engine.context("s2", 10)
    names = ["metro", "concave_c", "polar", "empty_box"]
    batch = region_query_batch(
        spark, ctx.mcells, [(n, region_by_name(n)) for n in names], "s2", 10
    ).collect()
    got = {n: sorted(r.doc_id for r in batch if r.region == n) for n in names}
    for n in names:
        want = sorted(
            r.doc_id
            for r in region_query_docs(
                spark, ctx.mcells, region_by_name(n), "s2", 10
            ).collect()
        )
        assert got[n] == want, n


@pytest.fixture(scope="module")
def ps_engine(spark):
    from oscar_spatial_index_compare_spark.engine import Engine

    root = tempfile.mkdtemp(prefix="osi_ps_")
    return Engine(spark, SF_DIR, catalog_root=root, posting_store=True)


def test_posting_store_engine_matches_lazy(engine, ps_engine):
    # the content-addressed serialization (apps/main.cpp:154) must be
    # invisible to queries: resolve(refs, store) == inline postings
    for q in ["join / window", "dup ^ spark", "jo*"]:
        assert _docs(ps_engine, q) == _docs(engine, q)


def test_posting_store_tables_on_disk(ps_engine):
    ps_engine.context("s2", 10)
    assert len(ps_engine.catalog.snapshots("posting_lists_s2_10")) == 1
    assert len(ps_engine.catalog.snapshots("token_postings_refs_s2_10")) == 1
    # inline token_postings must NOT have been written in this mode
    assert len(ps_engine.catalog.snapshots("token_postings_s2_10")) == 0


def test_posting_store_autodetected_by_query_engine(spark, ps_engine, engine):
    # query-side open WITHOUT the flag (the CLI's `query` path): the store
    # tables in the catalog must be detected and read — NOT silently
    # shadowed by a fresh inline token_postings build
    from oscar_spatial_index_compare_spark.engine import Engine

    ps_engine.context("s2", 10)  # ensure the store catalog exists
    q_eng = Engine(spark, SF_DIR, catalog_root=ps_engine.catalog.root)
    assert _docs(q_eng, "join / window") == _docs(engine, "join / window")
    assert len(q_eng.catalog.snapshots("token_postings_s2_10")) == 0


def test_posting_store_requires_catalog(spark):
    from oscar_spatial_index_compare_spark.engine import Engine

    with pytest.raises(ValueError):
        Engine(spark, SF_DIR, posting_store=True)



def _plans_since(spark, before: int | None) -> tuple[int, list[str]]:
    """(newest SQL execution id, physical plan descriptions of the
    executions newer than ``before``) from the status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    last = execs.last().executionId() if execs.nonEmpty() else -1
    plans = []
    for i in range(last + 1 if before is None else before + 1, last + 1):
        e = store.execution(i)
        if e.isDefined():
            plans.append(e.get().physicalPlanDescription())
    return last, plans


def _tp_rows(tp):
    return sorted(
        (r.token, r.qt, r.grid, r.res, r.cell_id, r.is_fm,
         None if r.doc_ids is None else tuple(r.doc_ids), r.n_docs)
        for r in tp.collect())


def test_posting_store_build_runs_token_kernel_once(spark, engine):
    """Both store tables of a fresh --dedup build split one token-kernel
    run: the Arrow kernel appears in exactly one SQL execution, and the
    resolved postings equal the inline token_postings row for row."""
    from oscar_spatial_index_compare_spark.engine import Engine

    ps = Engine(spark, SF_DIR, catalog_root=tempfile.mkdtemp(prefix="osi_ps1_"),
                posting_store=True)
    before, _ = _plans_since(spark, None)
    ctx = ps.context("zxy", 9)
    _, plans = _plans_since(spark, before)
    assert sum("FlatMapGroupsInArrow" in p for p in plans) == 1
    assert _tp_rows(ctx.tpostings) == _tp_rows(engine.context("zxy", 9).tpostings)
