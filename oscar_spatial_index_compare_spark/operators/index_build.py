"""Spatial-index construction — the heavy dataflow (SURVEY §2.3, B1-B3).

Reference: ``OscarSgIndex::create`` (``src/OscarSgIndex.cpp:53-207``) scans
cell→items→points with a thread pool, an atomic work counter and
mutex-guarded shared maps, then sort+uniques posting lists.  All of that
machinery is replaced by one declarative pipeline:

    mentions → (cell_id per grid/res) → groupBy → sorted doc-id postings

Scale notes (the part that must survive 100 TB):
  * ``mention_cells`` is the big fact table — one table per (grid, res),
    hash-clustered and sorted by ``cell_id`` so parquet min-max stats prune
    by cell range (S2 ids make descendant ranges contiguous).
  * the postings groupBy is the one unavoidable shuffle; map-side partial
    aggregation (collect_list is partial-aggregating; inputs are distinct
    by construction, see _doc_sets_by_cell) + AQE skew split keep hot
    metro cells bounded.
  * posting lists are ``array_sort(collect_list(doc_id))`` — the RLE-delta
    compressed ItemIndex analog (``apps/main.cpp:153``); parquet dictionary/
    RLE encodings replace hand-rolled compression (SURVEY B7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import cell_col, cells_arr_col


def doc_index_full(docs: DataFrame, grid: str, res: int) -> DataFrame:
    """documents → (doc_id, toks, names, lats, lons, cells_m, cells) in ONE
    narrow stage — the whole extraction+cell-assignment dataflow with zero
    shuffles (SURVEY B1/B2; reference scan loop ``src/OscarSgIndex.cpp:96-128``).

    Per row: match+jitter via ``doc_mentions_df`` (one allocation-free
    zip_with pass — see its docstring for why this shape is the one that
    scales), assign cells (native column math for zxy; one Arrow-batched
    numpy call over the whole array for s2/hex/htm), and carry the distinct
    token set.  ``cells_m`` is per-mention (zip-aligned with names/lats/
    lons); ``cells`` is the distinct set.  EVERY index table derives from
    this one cached frame: cell_totals / token_postings each need exactly
    ONE wide operation, and mention_cells is a plain arrays_zip explode —
    the gazetteer match runs ONCE per corpus pass (r01 ran it separately for
    mentions and postings).
    """
    from .mentions import doc_mentions_df

    m = doc_mentions_df(docs)
    p3 = m.select(
        "doc_id",
        F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
        F.transform(F.col("ments"), lambda g: g["name"]).alias("names"),
        F.transform(F.col("ments"), lambda g: g["lat"]).alias("lats"),
        F.transform(F.col("ments"), lambda g: g["lon"]).alias("lons"),
    )
    return p3.withColumn(
        "cells_m", cells_arr_col(grid, F.col("lats"), F.col("lons"), res)
    ).withColumn("cells", F.array_distinct(F.col("cells_m")))


def doc_index_full_from_full(full: DataFrame, grid: str, res: int) -> DataFrame:
    """doc_index_full for a NEW (grid, res), re-derived from an already
    materialized/cached doc_index_full of ANOTHER grid: the extraction
    columns (doc_id, toks, names, lats, lons) are grid-independent — only
    the cell assignment recomputes.  Row-identical to
    ``doc_index_full(docs, grid, res)`` (the stored arrays ARE that
    function's output); saves one full gazetteer-match pass per additional
    grid (r06 third pass — the reference likewise scans its store once and
    builds every index family from the same triple stream,
    ``src/OscarSgIndex.cpp:96-128``)."""
    p3 = full.select("doc_id", "toks", "names", "lats", "lons")
    return p3.withColumn(
        "cells_m", cells_arr_col(grid, F.col("lats"), F.col("lons"), res)
    ).withColumn("cells", F.array_distinct(F.col("cells_m")))


def mention_cells_from_full(full: DataFrame, grid: str, res: int) -> DataFrame:
    """mention_cells as a plain arrays_zip explode of doc_index_full — no
    second gazetteer match, no per-mention UDF rows."""
    e = full.select(
        "doc_id",
        F.explode(F.arrays_zip("names", "lats", "lons", "cells_m")).alias("e"),
    )
    return e.select(
        F.lit(grid).alias("grid"), F.lit(res).alias("res"),
        "doc_id",
        F.col("e.names").alias("name"),
        F.col("e.lats").alias("lat"),
        F.col("e.lons").alias("lon"),
        F.col("e.cells_m").alias("cell_id"),
    )


def _doc_sets_by_cell(dc: DataFrame, keys: list[str]) -> DataFrame:
    """groupBy(keys) → sorted distinct doc_id arrays: one map-side-combined
    groupBy.  A hot cell needs no explicit salting: partial aggregation
    already splits its appends over the map tasks, and a salted second
    phase would still merge and sort the cell's whole list in one task (a
    count-only hot-cell pre-pass measured 1.6-1.8x SLOWER at 1M docs, r05).

    INPUT CONTRACT: (keys..., doc_id) rows must be DISTINCT (every caller
    explodes per-doc ``array_distinct`` arrays, which guarantees it).  That
    makes ``collect_list`` valid — and it is the aggregation that scales:
    ``collect_set`` merges per-group HASH SETS whose final single-task merge
    on a hot cell (hundreds of thousands of ids) dominated the stage tail
    (r02 scaling gate: measured 2.2x for 4x cores with set vs 3.5x with
    list; the list buffer is a plain append + one O(n log n) sort).
    """
    return dc.groupBy(*keys).agg(
        F.array_sort(F.collect_list("doc_id")).alias("doc_ids"))


def cell_totals_from_base(base: DataFrame, grid: str, res: int) -> DataFrame:
    """B3 ``computeTrixelItems`` from the one-pass base: explode cells →
    one groupBy (doc_ids are distinct per doc already)."""
    dc = base.select("doc_id", F.explode("cells").alias("cell_id"))
    sets = _doc_sets_by_cell(dc, ["cell_id"])
    return sets.select(
        F.lit(grid).alias("grid"), F.lit(res).alias("res"),
        "cell_id", "doc_ids",
        F.size("doc_ids").cast("long").alias("n_docs"),
    )


def mention_cells(mentions: DataFrame, grid: str, res: int) -> DataFrame:
    """mentions → (grid, res, doc_id, name, lat, lon, cell_id)."""
    return mentions.select(
        F.lit(grid).alias("grid"),
        F.lit(res).alias("res"),
        "doc_id", "name", "lat", "lon",
        cell_col(grid, F.col("lat"), F.col("lon"), res).alias("cell_id"),
    )


def region_mention_cells(mcells: DataFrame) -> DataFrame:
    """(grid, res, region_id, doc_id, cell_id) — one row per inside-region
    mention cell.

    Reference semantics (``src/OscarSgIndex.cpp:106-111``): a point only
    contributes a (trixel, cell=region, item) triple when the exact
    refinement confirms the point lies in the region — so postings use
    *inside* mentions only, not every cell of a member doc.  Regions are few
    and fixed → per-region PIP filters unioned, all JVM-side.
    """
    from ..functions.geo import pip_sql
    from ..sources.regions import REGIONS

    parts = []
    for rid, _name, _lvl, poly in REGIONS:
        parts.append(
            mcells.where(F.expr(pip_sql("lat", "lon", poly)))
            .select("grid", "res", F.lit(rid).alias("region_id"), "doc_id", "cell_id")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["grid", "res", "region_id", "doc_id", "cell_id"])


def cell_postings(mcells: DataFrame) -> DataFrame:
    """B1 TrixelData analog: (grid, res, cell_id, region_id, doc_ids, n_docs)
    from inside-region mention cells."""
    return (
        region_mention_cells(mcells)
        .groupBy("grid", "res", "cell_id", "region_id")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("doc_ids"))
        .withColumn("n_docs", F.size("doc_ids").cast("long"))
    )
