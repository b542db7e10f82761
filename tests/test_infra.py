"""Checkpointed build DAG, multimodal plumbing,
determinism + reconstruction invariants (SURVEY §5, FIXTURES §6)."""

import itertools
import threading

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


TABLES = ("index_base", "mention_cells", "cell_totals", "token_postings")


def _stored(sfx: str) -> set[str]:
    """The tables a catalog context of one (grid, res) stores: the index
    tables and its cell_stats metadata (the corpus-wide token_dict aside)."""
    return {f"{t}_{sfx}" for t in TABLES + ("cell_stats",)}
OBJ_HASH_AGG = "spark.sql.execution.useObjectHashAggregateExec"


def _counting_engine(spark, root):
    """A catalog Engine whose corpus ``count()`` calls are recorded."""
    from oscar_spatial_index_compare_spark.engine import Engine

    eng = Engine(spark, SF_DIR, catalog_root=root)
    calls = []
    count = eng.docs.count
    eng.docs.count = lambda: calls.append(1) or count()
    return eng, calls


@pytest.fixture(scope="module")
def fresh_build(spark, tmp_path_factory):
    """One fresh s2-10 catalog build, shared by the build-DAG tests."""
    eng, calls = _counting_engine(spark, str(tmp_path_factory.mktemp("cat")))
    eng.context("s2", 10)
    return eng, calls


def test_catalog_checkpoint_resume(spark, fresh_build):
    eng, _ = fresh_build
    snaps1 = eng.catalog.snapshots()
    assert {s["table"] for s in snaps1} == _stored("s2_10") | {"token_dict"}
    for s in snaps1:
        assert s["n_rows"] > 0 and s["bytes"] > 0 and s["n_files"] > 0
        assert s["inputs"], "lineage missing"
        assert s["wall_sec"] == pytest.approx(s["end"] - s["start"], abs=0.002)
    # resume: a second open writes NO new snapshots and builds nothing
    # (not even the corpus count a build would need)
    eng2, calls = _counting_engine(spark, eng.catalog.root)
    ctx = eng2.context("s2", 10)
    assert len(eng2.catalog.snapshots()) == len(snaps1)
    assert calls == []
    # data round-trips
    assert ctx.ctotals.count() > 0
    assert ctx.ctotals.where(F.col("n_docs") <= 0).count() == 0


def test_fresh_context_counts_corpus_once(fresh_build):
    """The build reads the corpus size once, from the parquet footers:
    no ``count()`` job."""
    eng, calls = fresh_build
    assert "n_docs" in vars(eng) and calls == []


def test_fresh_build_overlaps_index_writes(fresh_build):
    eng, _ = fresh_build
    snap = {s["stage"]: s for s in eng.catalog.snapshots()}
    for a, b in itertools.combinations(TABLES[1:], 2):
        assert snap[a]["start"] < snap[b]["end"], (a, b)
        assert snap[b]["start"] < snap[a]["end"], (a, b)


def test_failed_build_cleans_up_and_resumes(spark, fresh_build, monkeypatch):
    import oscar_spatial_index_compare_spark.engine as em

    root = fresh_build[0].catalog.root
    conf0 = spark.conf.get(OBJ_HASH_AGG, "true")
    threads0 = set(threading.enumerate())
    seen = []

    def failing_cell_totals(base, *args, **kwargs):
        seen.append(spark.conf.get(OBJ_HASH_AGG))
        return base.select(
            F.col("doc_id").alias("cell_id"),
            F.raise_error(F.lit("injected fault")).cast("long").alias("n_docs"))

    monkeypatch.setattr(em, "cell_totals_from_base", failing_cell_totals)
    eng, _ = _counting_engine(spark, root)
    with pytest.raises(Exception, match="injected fault"):
        eng.context("zxy", 9)
    assert seen == ["false"]  # the build ran under the sorted-list-agg conf
    assert spark.conf.get(OBJ_HASH_AGG, "true") == conf0
    assert not [t for t in threading.enumerate()
                if t not in threads0 and type(t) is threading.Thread]
    before = eng.catalog.snapshots()
    written = {s["table"] for s in before}
    assert "cell_totals_zxy_9" not in written
    monkeypatch.undo()
    eng2, calls = _counting_engine(spark, root)
    eng2.context("zxy", 9)
    new = [s["table"] for s in eng2.catalog.snapshots()[len(before):]]
    assert sorted(new) == sorted(_stored("zxy_9") - written)
    assert len(calls) == 0  # cell_totals needs no corpus size


def test_documents_cc_matches_oracle(spark, duck):
    """The input-hint lift of the documents table equals its DuckDB twin
    (timestamps compared as UTC text)."""
    from oscar_spatial_index_compare_spark.sources.tables import (
        DOCUMENTS_CC_ORACLE, documents_cc,
    )

    cc = documents_cc(spark, SF_DIR).selectExpr(
        "doc_id", "url", "CAST(warc_ts AS STRING) AS ts", "html", "text", "lang")
    got = sorted((*r[:3], bytes(r.html), r.text, r.lang) for r in cc.collect())
    want = sorted(duck.execute(
        "SELECT doc_id, url, CAST(warc_ts AS VARCHAR), html, text, lang "
        f"FROM ({DOCUMENTS_CC_ORACLE})").fetchall())
    assert got and got == want


def test_multimodal_plumbing(spark):
    from oscar_spatial_index_compare_spark.operators.multimodal import (
        extract_metadata, media_from_documents,
    )
    from oscar_spatial_index_compare_spark.sources.tables import documents_cc

    media = media_from_documents(documents_cc(spark, SF_DIR))
    meta = extract_metadata(media)
    rows = meta.collect()
    assert len(rows) == media.count()
    assert all(r.n_bytes > 0 and len(r.sha256) == 64 for r in rows)


def test_extraction_determinism_across_parallelism(spark):
    """north_rule per-row invariant: byte-identical text + identical mention
    set across partitionings (the sandbox proxy for cluster sizes)."""
    from oscar_spatial_index_compare_spark.operators.mentions import extract_mentions

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    m1 = extract_mentions(spark, docs.repartition(1))
    m8 = extract_mentions(spark, docs.repartition(8))
    h1 = m1.agg(F.expr("bit_xor(xxhash64(doc_id, name, lat, lon))")).collect()[0][0]
    h8 = m8.agg(F.expr("bit_xor(xxhash64(doc_id, name, lat, lon))")).collect()[0][0]
    assert h1 == h8
    t1 = docs.repartition(3).agg(F.expr("bit_xor(xxhash64(sha2(text, 256)))")).collect()[0][0]
    t2 = docs.repartition(7).agg(F.expr("bit_xor(xxhash64(sha2(text, 256)))")).collect()[0][0]
    assert t1 == t2


def test_long_gazetteer_name_raises(spark, monkeypatch):
    """The gram match covers names of at most 2 tokens: a longer gazetteer
    entry raises, naming the entry, instead of going unmatched."""
    from oscar_spatial_index_compare_spark.operators.mentions import doc_mentions_df
    from oscar_spatial_index_compare_spark.sources import gazetteer as gz

    entries = gz.gazetteer() + [("new york city", 40.71, -74.0, 1)]
    monkeypatch.setattr(gz, "gazetteer", lambda: entries)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with pytest.raises(ValueError, match="new york city"):
        doc_mentions_df(docs)


def test_reconstruction_invariant(engine):
    """Union of cell_totals doc_ids == distinct mention docs (reference
    assertion src/OscarSgIndex.cpp:193-206)."""
    ctx = engine.context("s2", 10)
    from_cells = (
        ctx.ctotals.select(F.explode("doc_ids").alias("doc_id")).dropDuplicates()
    )
    from_mentions = engine.mentions.select("doc_id").dropDuplicates()
    assert from_cells.exceptAll(from_mentions).count() == 0
    assert from_mentions.exceptAll(from_cells).count() == 0


def test_fm_classification_invariant(engine):
    """is_fm ⇔ n_matched == cell total (reference
    src/OscarSearchSgIndex.cpp:178-197)."""
    ctx = engine.context("s2", 10)
    tp = ctx.tpostings.where(F.col("token") == "dup")
    j = tp.join(
        ctx.ctotals.select("cell_id", F.col("n_docs").alias("n_total")), "cell_id"
    )
    bad = j.where(
        (F.col("is_fm") != (F.col("n_docs") == F.col("n_total")))
        | (F.col("is_fm") & F.col("doc_ids").isNotNull())
        | (~F.col("is_fm") & F.col("doc_ids").isNull())
    )
    assert bad.count() == 0
