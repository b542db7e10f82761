"""Create→query split + result cache (r02 VERDICT items 2 and 10).

The catalog-backed Engine must answer queries from MATERIALIZED postings
tables (pruned parquet scans — the reference's static-index load,
``src/static-htm-index.cpp:202-207``) with results identical to the lazy
in-session engine; repeated identical queries must return the cached
localCheckpointed frame (``HCQRIndexWithCache``, ``apps/mainq.cpp:495-497``).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from oscar_spatial_index_compare_spark import engine as engine_mod
from oscar_spatial_index_compare_spark.operators import cell_stats as cs
from oscar_spatial_index_compare_spark.plans.oracle import optree_oracle_sql
from oscar_spatial_index_compare_spark.sources import tables
from oscar_spatial_index_compare_spark.sources.catalog import Catalog
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
    # the token filter must reach the parquet reader; it prunes a row group
    # only when the group's token range misses the token, which a file of
    # one row group spanning most tokens (as at this corpus size) never does
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


# -- metadata tables and footer reads: opening a catalog runs no Spark job ---

def _max_job_id(spark) -> int:
    """The newest job id: ids only grow, so two readings bound the jobs run
    between them even after old jobs leave the status tracker."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


@pytest.mark.parametrize("grid,res", [("s2", 10), ("h3", 6), ("zxy", 9), ("htm", 9)])
def test_stored_cell_stats_equal_computed(cat_engine, grid, res):
    """The stats a catalog context loads from its cell_stats table equal
    the ones collected from the same mention frame, and a brute force over
    its (cell, doc) rows."""
    mc = cat_engine.context(grid, res).mcells
    stored = cs.cell_stats(mc, grid, res)
    computed = cs.cell_stats(mc.select("*"), grid, res)  # a frame with no memo
    rows = [(r.cell_id, r.doc_id) for r in mc.where(
        f"grid = '{grid}' AND res = {res}").select("cell_id", "doc_id").collect()]
    by_cell: dict = {}
    by_doc: dict = {}
    for c, d in rows:
        by_cell.setdefault(c, []).append(d)
        by_doc.setdefault(d, set()).add(c)
    cells = sorted(by_cell)
    for st in (stored, computed):
        assert st.cells.tolist() == cells
        assert st.n_rows.tolist() == [len(by_cell[c]) for c in cells]
        assert st.n_docs.tolist() == [len(set(by_cell[c])) for c in cells]
        assert st.mstar == max(map(len, by_doc.values()))
        assert st.docs == len(by_doc)


def test_reopen_runs_no_spark_job(spark, cat_engine):
    """A fresh Engine over a built catalog opens an HCQR context and a
    plain one from footers and driver-side reads alone."""
    cat_engine.hcqr_context("s2", 10)
    cat_engine.context("h3", 6)
    before = _max_job_id(spark)
    eng = engine_mod.Engine(spark, SF_DIR, catalog_root=cat_engine.catalog.root)
    hctx = eng.hcqr_context("s2", 10)
    ctx = eng.context("h3", 6)
    assert _max_job_id(spark) == before
    assert hctx.tokens == ctx.tokens == cat_engine.corpus_tokens()
    assert cs.cell_stats(ctx.mcells, "h3", 6) is not None


def test_n_docs_runs_no_spark_job(spark):
    """A fresh Engine sums its corpus size from the documents footers."""
    eng = engine_mod.Engine(spark, SF_DIR)
    before = _max_job_id(spark)
    n = eng.n_docs
    assert _max_job_id(spark) == before
    assert n == eng.docs.count() > 0


def test_footer_schema_equals_inference(spark, cat_engine):
    """Every catalog table and every corpus table reads with the schema
    Spark's own parquet inference gives it."""
    cat_engine.hcqr_context("s2", 10)
    root = cat_engine.catalog.root
    paths = [os.path.join(root, t) for t in os.listdir(root) if t != "snapshots.json"]
    paths += [os.path.join(SF_DIR, f) for f in os.listdir(SF_DIR) if f.endswith(".parquet")]
    assert any("token_dict" in p for p in paths)
    for p in paths:
        assert tables.read_parquet(spark, p).schema == spark.read.parquet(p).schema, p


def test_snapshot_rows_equal_counts(spark, cat_engine):
    cat_engine.hcqr_context("s2", 10)
    for s in cat_engine.catalog.snapshots():
        assert s["n_rows"] == spark.read.parquet(
            cat_engine.catalog.path(s["table"])).count(), s["table"]


_NEW = ("cell_stats", "token_dict")


def test_catalog_without_metadata_tables_resumes(spark, tmp_path):
    """A catalog as builds before the two metadata tables left it reopens
    by building only ``cell_stats_*`` and ``token_dict``: every other table
    keeps its snapshot, its fingerprint (the same lineage) and its files."""
    root = str(tmp_path / "cat")
    engine_mod.Engine(spark, SF_DIR, catalog_root=root).context("zxy", 9)
    log_path = os.path.join(root, "snapshots.json")
    with open(log_path) as f:
        old = [s for s in json.load(f) if s["stage"] not in _NEW]
    with open(log_path, "w") as f:
        json.dump(old, f)
    for t in ("cell_stats_zxy_9", "token_dict"):
        shutil.rmtree(os.path.join(root, t))
    files = {f: os.path.getmtime(f) for s in old
             for f in tables.data_files(os.path.join(root, s["table"]))}

    eng = engine_mod.Engine(spark, SF_DIR, catalog_root=root)
    ctx = eng.context("zxy", 9)
    snaps = eng.catalog.snapshots()
    assert snaps[:len(old)] == old
    assert sorted(s["table"] for s in snaps[len(old):]) == ["cell_stats_zxy_9", "token_dict"]
    assert {f: os.path.getmtime(f) for f in files} == files
    base, p = "index_base_zxy_9", {"grid": "zxy", "res": 9}
    lineage = {base: ("index_base", [SF_DIR]),
               "mention_cells_zxy_9": ("mention_cells", [base]),
               "cell_totals_zxy_9": ("cell_totals", [base]),
               "token_postings_zxy_9": ("token_postings", [base, "cell_totals_zxy_9"])}
    assert {s["table"]: s["fingerprint"] for s in old} == {
        t: Catalog.fingerprint(stage, inputs, p) for t, (stage, inputs) in lineage.items()}
    assert ctx.tokens is not None and cs.cell_stats(ctx.mcells, "zxy", 9) is not None


def test_engines_keep_their_own_metadata(spark, cat_engine, tmp_path):
    """Two catalog Engines over different corpora in one session: each
    context holds its own corpus dictionary and its own cell stats."""
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet")).slice(0, 100)
    docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                           pc.binary_join_element_wise(docs["text"], "zzqq", " "))
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    other = engine_mod.Engine(spark, str(tmp_path), catalog_root=str(tmp_path / "cat"))
    mine, theirs = cat_engine.context("s2", 10), other.context("s2", 10)
    assert "zzqq" in theirs.tokens and "zzqq" not in mine.tokens
    for ctx in (mine, theirs):
        stored = cs.cell_stats(ctx.mcells, "s2", 10)
        computed = cs.cell_stats(ctx.mcells.select("*"), "s2", 10)
        assert stored.cells.tolist() == computed.cells.tolist()
        assert (stored.mstar, stored.docs) == (computed.mstar, computed.docs)
    assert cs.cell_stats(theirs.mcells, "s2", 10).docs < cs.cell_stats(
        mine.mcells, "s2", 10).docs


_TOKEN_TREES = ["join / window", "dup ^ spark", "(join + dup) / window - spark",
                "jo*", "*up", "*par*", "nosuchtoken + dup"]


def test_dictionary_over_driver_cap_reads_no_data(spark, cat_engine, duck, monkeypatch):
    """MAX_DRIVER_TOKENS below the stored dictionary's row count: the open
    decides from the footers without reading the dictionary, the context
    holds no tokens, and token leaves take the distributed predicate while
    still answering like the oracle."""
    cat_engine.context("s2", 10)
    root = cat_engine.catalog.root
    n = tables.footer_rows(tables.data_files(os.path.join(root, "token_dict")))
    monkeypatch.setattr(engine_mod, "MAX_DRIVER_TOKENS", n - 1)
    reads = []
    read_table = pq.read_table
    monkeypatch.setattr(pq, "read_table",
                        lambda src, *a, **k: reads.append(str(src)) or read_table(src, *a, **k))
    eng = engine_mod.Engine(spark, SF_DIR, catalog_root=root)
    p = eng.planner("s2", 10)
    assert p.ctx.tokens is None
    assert not [r for r in reads if "token_dict" in r]
    plan = p.docs("jo*")._jdf.queryExecution().analyzed().toString()
    assert "StartsWith(token" in plan or "startswith(token" in plan
    for q in _TOKEN_TREES:
        got = {r.doc_id for r in p.docs(q).collect()}
        assert got == {r[0] for r in duck.execute(optree_oracle_sql(q)).fetchall()}, q
