"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship op-tree region∩token query on sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2; the driver runs both sides at sf=0.01 and compares row count +
schema + order-insensitive value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oscar_spatial_index_compare_spark.engine import Engine
from oscar_spatial_index_compare_spark.grids.zxy import ZXY
from oscar_spatial_index_compare_spark.operators.knn import knn_docs, knn_oracle_sql
from oscar_spatial_index_compare_spark.operators.mentions import MENTIONS_ORACLE_SQL
from oscar_spatial_index_compare_spark.operators.region_query import (
    region_query_docs,
    region_query_oracle_sql,
)
from oscar_spatial_index_compare_spark.operators.tiles import tiles, tiles_oracle_sql
from oscar_spatial_index_compare_spark.plans.oracle import (
    hcqr_stats_oracle_sql,
    optree_oracle_sql,
)
from oscar_spatial_index_compare_spark.sources.gazetteer import mentions_subquery_sql
from oscar_spatial_index_compare_spark.sources.regions import REGIONS, region_by_name

_ENGINES: dict[tuple[str, str], Engine] = {}
_CAT_ENGINES: dict[tuple[str, str], Engine] = {}


def _engine(spark: SparkSession, sf_dir: str) -> Engine:
    key = (str(id(spark)), sf_dir)
    if key not in _ENGINES:
        _ENGINES[key] = Engine(spark, sf_dir)
    return _ENGINES[key]


def _engine_materialized(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine in the create→query split mode (fresh catalog dir per
    process): queries run against SERIALIZED sorted tables, so driver
    entries through it make the materialized path a per-round hard signal
    (r03 VERDICT item 8)."""
    key = (str(id(spark)), sf_dir)
    if key not in _CAT_ENGINES:
        import tempfile

        root = tempfile.mkdtemp(prefix="osi_entry_catalog_")
        _CAT_ENGINES[key] = Engine(spark, sf_dir, catalog_root=root)
    return _CAT_ENGINES[key]


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Region ∩ token op-tree query on sf0.001, docs joined back to urls."""
    from oscar_spatial_index_compare_spark.sources.tables import documents_cc

    sf = "/root/testdata/sf0.001"
    eng = _engine(spark, sf)
    docs = eng.query_docs("$region:2 / join", grid="s2", res=10)
    cc = documents_cc(spark, sf).select("doc_id", "url", "lang")
    return docs.join(cc, "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# queries / oracles
# ---------------------------------------------------------------------------

_ZRES = 9
_KNN_QUERIES = [(1, 48.86, 2.36, 5), (2, -33.0, 151.0, 10), (3, 89.0, 10.0, 3), (4, 0.0, 0.0, 7)]
# Driver-budget note (r03 VERDICT item 3, r04 VERDICT item 4): the driver
# runs at most 50 entries; entries ROTATE round-robin between the driver
# budget and extra_queries() (which pytest still oracle-checks every run) so
# every grammar production gets a DRIVER-green row at least every other
# round.  r5 rotation: the direct ∪ / − / ! / prefix / suffix / substring /
# poly-union trees and posting_store_stats rotate IN (they sat in extras
# during r4); the always-green single-region s2 variants, the hcqr ∪/−
# variants, dedup_jaccard, doc_cells and two text entries rotate OUT to
# extras for this round.
_OPTREES = {
    "optree_intersect": "join / window",
    "optree_symdiff": "dup ^ spark",
    "optree_complex": "(join + dup) / window - spark",
    "optree_region_token": "$region:1 / dup",
    "optree_rect": "$rect:42.3,51.7,-4.8,8.7 / join",
    "optree_union": "dup + spark",
    "optree_diff": "join - dup",
    "optree_prefix": "jo*",
    "optree_suffix": "*up",
    "optree_substring": "*par*",
    "optree_poly_union": "$poly:concave_c + $region:6",
}
_OPTREES_EXTRA = {
    "optree_empty_leaf": "nosuchtoken + dup",
}
# region-difference trees are grid-sensitive (two mentions of one doc can
# share a zxy-9 cell but not an s2-10 cell), so they run Spark-side on the
# SAME grid/res as the oracle (ADVICE r01); $cell is zxy-id-specific
import numpy as _np  # noqa: E402

_CELL_METRO = int(ZXY.cell(_np.array([48.85]), _np.array([2.35]), _ZRES)[0])
_OPTREES_ZXY = {
    "optree_dilate": "%dup / spark",
    "optree_fm_region": "!($region:1) - spark",
    "optree_nested": "(($region:2 - $region:1) / join) + (dup / $poly:east_am)",
    # one composite tree covers BOTH the $cell leaf and the statically-empty
    # leaf union (the former optree_empty_leaf coverage), freeing a slot
    "optree_cell": f"($cell:{_CELL_METRO} / dup) + nosuchtoken",
    "optree_fm_conversion": "!dup / spark",
}
_OPTREES_ZXY_EXTRA: dict[str, str] = {}
_TOKENS_FOR_POSTINGS = ["join", "dup", "spark", "window", "the"]


def _mentions(spark, sf):
    from oscar_spatial_index_compare_spark.operators.mentions import extract_mentions
    return extract_mentions(spark, _docs(spark, sf), with_idx=True)


def _doc_cells_zxy(spark, sf):
    m = _engine(spark, sf).mentions
    cell = ZXY.col_cell(F.col("lat"), F.col("lon"), _ZRES)
    return m.select("doc_id", cell.alias("cell_id")).dropDuplicates()


def _cell_counts_zxy(spark, sf):
    return (
        _doc_cells_zxy(spark, sf)
        .groupBy("cell_id")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _index_stats_zxy(spark, sf):
    m = _engine(spark, sf).mentions
    parts = []
    for res in (6, 9, 12):
        cell = ZXY.col_cell(F.col("lat"), F.col("lon"), res)
        dc = m.select("doc_id", cell.alias("cell_id")).dropDuplicates()
        per_cell = dc.groupBy("cell_id").agg(F.count("*").alias("n"))
        parts.append(per_cell.agg(
            F.lit(res).alias("res"),
            F.count("*").cast("long").alias("n_cells"),
            F.min("n").cast("long").alias("min_docs"),
            F.max("n").cast("long").alias("max_docs"),
            F.sum("n").cast("long").alias("sum_docs"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _index_stats_zxy_sql() -> str:
    sels = []
    for res in (6, 9, 12):
        cell = ZXY.cell_sql("m.lat", "m.lon", res)
        sels.append(f"""
SELECT {res} AS res, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(MIN(n) AS BIGINT) AS min_docs, CAST(MAX(n) AS BIGINT) AS max_docs,
       CAST(SUM(n) AS BIGINT) AS sum_docs
FROM (
  SELECT cell_id, COUNT(*) AS n FROM (
    SELECT DISTINCT m.doc_id, {cell} AS cell_id
    FROM {mentions_subquery_sql()} m
  ) GROUP BY cell_id
)""")
    return "\nUNION ALL\n".join(sels)


def _optree_qt_fallback(spark, sf):
    """Substring query with only exact+prefix payloads available: the
    planner must fall back substring→prefix (reference chain,
    src/OscarSearchWithSg.cpp:71-86) — the oracle below is written with
    PREFIX semantics, so the entry passes only if the fallback fires."""
    import dataclasses

    from oscar_spatial_index_compare_spark.plans.planner import Planner

    ctx = dataclasses.replace(
        _engine(spark, sf).context("zxy", _ZRES),
        available_qts=frozenset({"exact", "prefix"}),
    )
    return Planner(ctx).docs("*a*")


def _optree_prefix_payload(spark, sf):
    """Prefix leaf answered from a MATERIALIZED per-qt payload table
    (token_index.materialize_qt_postings — the reference's per-trie-node
    payloads) instead of plan-time dictionary expansion."""
    import dataclasses

    from oscar_spatial_index_compare_spark.operators.token_index import (
        materialize_qt_postings,
    )
    from oscar_spatial_index_compare_spark.plans.planner import Planner

    ctx = _engine(spark, sf).context("zxy", _ZRES)
    mat = dataclasses.replace(
        ctx, qt_tables={"prefix": materialize_qt_postings(ctx.tpostings, "prefix")}
    )
    return Planner(mat).docs("jo* / dup")


def _index_stats_area_zxy(spark, sf):
    """Per-res populated-cell AREA distribution (G8 oracle coverage):
    native column math on both sides, areas quantized to µkm²."""
    m = _engine(spark, sf).mentions
    parts = []
    for res in (6, 9, 12):
        cell = ZXY.col_cell(F.col("lat"), F.col("lon"), res)
        cells = m.select(cell.alias("cell_id")).dropDuplicates()
        a = F.floor(
            ZXY.col_area_km2(F.col("cell_id"), res) * F.lit(1e6) + F.lit(0.5)
        ).cast("long")
        parts.append(cells.select(a.alias("a")).agg(
            F.lit(res).alias("res"),
            F.count("*").cast("long").alias("n_cells"),
            F.min("a").alias("min_area_km2_micro"),
            F.max("a").alias("max_area_km2_micro"),
            F.sum("a").alias("sum_area_km2_micro"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _index_stats_area_zxy_sql() -> str:
    sels = []
    for res in (6, 9, 12):
        cell = ZXY.cell_sql("m.lat", "m.lon", res)
        area = ZXY.area_km2_sql("cell_id", res)
        sels.append(f"""
SELECT {res} AS res, CAST(COUNT(*) AS BIGINT) AS n_cells,
       MIN(a) AS min_area_km2_micro, MAX(a) AS max_area_km2_micro,
       CAST(SUM(a) AS BIGINT) AS sum_area_km2_micro
FROM (
  SELECT CAST(FLOOR({area} * 1000000.0 + 0.5) AS BIGINT) AS a
  FROM (SELECT DISTINCT {cell} AS cell_id FROM {mentions_subquery_sql()} m)
)""")
    return "\nUNION ALL\n".join(sels)


def _region_query(rname: str, grid: str, res: int):
    def fn(spark, sf):
        eng = _engine(spark, sf)
        ctx = eng.context(grid, res)
        return region_query_docs(spark, ctx.mcells, region_by_name(rname), grid, res)
    return fn


def _region_counts(spark, sf):
    eng = _engine(spark, sf)
    ctx = eng.context("s2", 10)
    parts = []
    for rid, name, _lvl, poly in REGIONS:
        d = region_query_docs(spark, ctx.mcells, poly, "s2", 10)
        parts.append(d.agg(
            F.lit(rid).cast("long").alias("region_id"),
            F.count("*").cast("long").alias("n_docs"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _region_counts_sql() -> str:
    sels = []
    for rid, _name, _lvl, poly in REGIONS:
        sels.append(
            f"SELECT CAST({rid} AS BIGINT) AS region_id,"
            f" CAST(COUNT(*) AS BIGINT) AS n_docs FROM ({region_query_oracle_sql(poly)})"
        )
    return "\nUNION ALL\n".join(sels)


def _optree(q: str, grid: str, res: int):
    def fn(spark, sf):
        return _engine(spark, sf).query_docs(q, grid=grid, res=res)
    return fn


def _token_postings_stats(spark, sf):
    eng = _engine(spark, sf)
    ctx = eng.context("zxy", _ZRES)
    tp = ctx.tpostings.where(F.col("token").isin(_TOKENS_FOR_POSTINGS))
    return tp.groupBy("token").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum(F.col("is_fm").cast("long")).cast("long").alias("n_fm"),
        F.sum("n_docs").cast("long").alias("sum_matched"),
    )


def _token_postings_stats_sql() -> str:
    cell = ZXY.cell_sql("m.lat", "m.lon", _ZRES)
    toks = ", ".join(f"'{t}'" for t in _TOKENS_FOR_POSTINGS)
    return f"""
WITH cells AS (
  SELECT DISTINCT m.doc_id, {cell} AS cell_id
  FROM {mentions_subquery_sql()} m
), tot AS (
  SELECT cell_id, COUNT(DISTINCT doc_id) AS n_total FROM cells GROUP BY 1
), td AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  ) WHERE token IN ({toks})
), m AS (
  SELECT td.token, c.cell_id, COUNT(DISTINCT c.doc_id) AS n_matched
  FROM td JOIN cells c USING (doc_id) GROUP BY 1, 2
)
SELECT m.token, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN m.n_matched = tot.n_total THEN 1 ELSE 0 END) AS BIGINT) AS n_fm,
       CAST(SUM(m.n_matched) AS BIGINT) AS sum_matched
FROM m JOIN tot USING (cell_id)
GROUP BY m.token
"""


def _cell_postings_region(spark, sf):
    from oscar_spatial_index_compare_spark.operators.index_build import (
        cell_postings, mention_cells,
    )
    eng = _engine(spark, sf)
    cp = cell_postings(mention_cells(eng.mentions, "zxy", _ZRES))
    return cp.groupBy("region_id").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("n_docs").cast("long").alias("n_pairs"),
    )


def _cell_postings_region_sql() -> str:
    from oscar_spatial_index_compare_spark.functions.geo import pip_sql
    from oscar_spatial_index_compare_spark.sources.regions import REGIONS

    cell = ZXY.cell_sql("m.lat", "m.lon", _ZRES)
    sels = []
    for rid, _name, _lvl, poly in REGIONS:
        sels.append(f"""
SELECT CAST({rid} AS BIGINT) AS region_id,
       CAST(COUNT(DISTINCT cell_id) AS BIGINT) AS n_cells,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM (
  SELECT DISTINCT m.doc_id, {cell} AS cell_id
  FROM {mentions_subquery_sql()} m
  WHERE {pip_sql('m.lat', 'm.lon', poly)}
)
HAVING COUNT(*) > 0""")
    return "\nUNION ALL\n".join(sels)


def _cqr_stats_dup(spark, sf):
    from oscar_spatial_index_compare_spark.operators.cqr import cqr_stats

    p = _engine(spark, sf).planner("zxy", _ZRES)
    return cqr_stats(p.cqr("dup"))


def _cqr_stats_dup_sql() -> str:
    cell = ZXY.cell_sql("m.lat", "m.lon", _ZRES)
    return f"""
WITH cells AS (
  SELECT DISTINCT m.doc_id, {cell} AS cell_id FROM {mentions_subquery_sql()} m
), tot AS (
  SELECT cell_id, COUNT(*) AS n_total FROM cells GROUP BY 1
), md AS (
  SELECT doc_id FROM documents WHERE list_contains(string_split(text, ' '), 'dup')
), m AS (
  SELECT c.cell_id, COUNT(*) AS n_matched
  FROM cells c JOIN md USING (doc_id) GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN n_matched = n_total THEN 1 ELSE 0 END) AS BIGINT) AS n_fm,
       CAST(SUM(CASE WHEN n_matched = n_total THEN 0 ELSE n_matched END) AS BIGINT) AS pm_items
FROM m JOIN tot USING (cell_id)
"""


def _knn(spark, sf):
    eng = _engine(spark, sf)
    ctx = eng.context("h3", 6)
    return knn_docs(spark, ctx.mcells, _KNN_QUERIES, "h3", 6)


def _tiles(spark, sf):
    return tiles(_engine(spark, sf).mentions, [3, 8, 12])


def _documents_cc(spark, sf):
    from oscar_spatial_index_compare_spark.sources.tables import documents_cc
    return documents_cc(spark, sf).select("doc_id", "url", "warc_ts", "text", "lang")


# --- dedup / text-analysis / similarity (training-data pipeline ops) -------

_EMBED_DIM = 64
_EMBED_QUERIES = [
    (qid, [float(round(__import__("math").cos(0.37 * qid + 0.11 * i), 6))
           for i in range(_EMBED_DIM)])
    for qid in (1, 2, 3)
]


def _docs(spark, sf):
    return spark.read.parquet(f"{sf}/documents.parquet")


def _dedup_exact(spark, sf):
    from oscar_spatial_index_compare_spark.operators.dedup import exact_dup_groups
    return exact_dup_groups(_docs(spark, sf))


def _dedup_jaccard(spark, sf):
    from oscar_spatial_index_compare_spark.operators.dedup import jaccard_pairs
    return jaccard_pairs(_docs(spark, sf), 500_000)


def _dedup_minhash(spark, sf):
    from oscar_spatial_index_compare_spark.operators.dedup import minhash_lsh_pairs
    return minhash_lsh_pairs(_docs(spark, sf), 500_000)


def _dedup_simhash(spark, sf):
    from oscar_spatial_index_compare_spark.operators.dedup import simhash
    return simhash(_docs(spark, sf))


def _dedup_clusters(spark, sf):
    from oscar_spatial_index_compare_spark.operators.dedup import (
        dup_clusters, jaccard_pairs,
    )
    return dup_clusters(jaccard_pairs(_docs(spark, sf), 500_000))


def _dedup_canonical(spark, sf):
    from oscar_spatial_index_compare_spark.operators.dedup import (
        dedup_canonical, jaccard_pairs,
    )
    d = _docs(spark, sf)
    return dedup_canonical(d, jaccard_pairs(d, 500_000))


def _text_entries():
    from oscar_spatial_index_compare_spark.functions import text as T

    return {
        "text_token_count": (lambda s, d: T.token_count(_docs(s, d)), T.TOKEN_COUNT_ORACLE),
        "text_lang_id": (lambda s, d: T.lang_id(_docs(s, d)), T.lang_id_oracle()),
        "text_quality": (lambda s, d: T.quality_score(_docs(s, d)), T.QUALITY_ORACLE),
        "text_fingerprint": (lambda s, d: T.fingerprint(_docs(s, d)), T.FINGERPRINT_ORACLE),
    }


def _embed_topk(spark, sf):
    from oscar_spatial_index_compare_spark.operators.similarity import cosine_topk
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return cosine_topk(emb, _EMBED_QUERIES, 10)


def _embed_ann(spark, sf):
    from oscar_spatial_index_compare_spark.operators.similarity import ann_topk
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return ann_topk(emb, _EMBED_QUERIES, 10, spark)


def _embed_neardup_lsh(spark, sf):
    from oscar_spatial_index_compare_spark.operators.similarity import embedding_neardup_pairs
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return embedding_neardup_pairs(emb, spark, 950_000)


def _hcqr_docs(q: str, grid: str, res: int):
    def fn(spark, sf):
        # hcqr_planner: token leaves read the MATERIALIZED per-token HCQR
        # payload table (hcqr_postings_build) — the static-index path the
        # reference queries (src/static-htm-index.cpp:202-207)
        return _engine(spark, sf).hcqr_planner(grid, res).hcqr_docs(q)
    return fn


def _optree_intersect_materialized(spark, sf):
    """Same tree as optree_intersect but through Engine(catalog_root=...):
    leaves are pruned FileScans over the serialized sorted index — the
    create→query split as a per-round driver hard signal (VERDICT r03 #8)."""
    return _engine_materialized(spark, sf).query_docs(
        "join / window", grid="s2", res=10)


_BATCH_COUNT_REGIONS = ["metro", "south_pent", "concave_c", "east_am",
                        "empty_box", "north_band"]


def _region_batch_counts(spark, sf):
    """Batched counts (region_query_batch_counts): the batch's pruned
    coverings as ONE broadcast (cell_id, rid, needs_pip) dimension, PIP on
    boundary-tagged rows, then the packed per-doc bitmap aggregation.
    Raises unless the whole batch fits one dimension, so this entry is
    evidence for exactly the lowering bench/scaling time."""
    from oscar_spatial_index_compare_spark.operators import region_query as rq
    from oscar_spatial_index_compare_spark.operators.cell_stats import cell_stats

    eng = _engine(spark, sf)
    ctx = eng.context("s2", 10)
    regs = [(n, region_by_name(n)) for n in _BATCH_COUNT_REGIONS]
    stats = cell_stats(ctx.mcells, "s2", 10)
    covs = [rq.dimension_covering("s2", p, 10, stats) for _n, p in regs]
    assert None not in covs and sum(
        len(f) + len(b) for f, b in covs) <= rq.MAX_BROADCAST_CELLS, \
        "the one-dimension lowering must fire for this entry to certify it"
    return rq.region_query_batch_counts(spark, ctx.mcells, regs, "s2", 10)


def _region_batch_counts_sql() -> str:
    sels = []
    for n in _BATCH_COUNT_REGIONS:
        poly = region_by_name(n)
        sels.append(
            f"SELECT '{n}' AS region, CAST(COUNT(*) AS BIGINT) AS n_docs"
            f" FROM ({region_query_oracle_sql(poly)})"
        )
    return "\nUNION ALL\n".join(sels)


def _hcqr_stats(spark, sf):
    # zxy: closed-form ancestor arithmetic makes the tree metrics fully
    # DuckDB-expressible (r02 VERDICT item 7) — see hcqr_stats_oracle_sql
    from oscar_spatial_index_compare_spark.operators.hcqr import hcqr_stats
    p = _engine(spark, sf).planner("zxy", _ZRES)
    return hcqr_stats(p.hcqr("join / window"), "zxy", _ZRES)


def _region_batch(spark, sf):
    from oscar_spatial_index_compare_spark.operators.region_query import (
        region_query_batch,
    )
    eng = _engine(spark, sf)
    ctx = eng.context("s2", 10)
    regs = [(n, region_by_name(n)) for n in
            ["metro", "south_pent", "concave_c", "east_am", "empty_box"]]
    return region_query_batch(spark, ctx.mcells, regs, "s2", 10)


def _region_batch_sql() -> str:
    sels = []
    for n in ["metro", "south_pent", "concave_c", "east_am", "empty_box"]:
        poly = region_by_name(n)
        sels.append(
            f"SELECT '{n}' AS region, doc_id FROM ({region_query_oracle_sql(poly)})"
        )
    return "\nUNION ALL\n".join(sels)


_GH_TREE = "($region:2 - $region:1) / ($region:2 + $region:6)"


def _gh_hcqr_docs(spark, sf):
    """Region-rooted op tree on the GeoHierarchy completer (reference
    GeoHierarchyHCQRCompleter.cpp:17-33): each region leaf is its
    cell_postings pieces as pm CQR rows, evaluated by the CQR set ops."""
    from oscar_spatial_index_compare_spark.operators.gh_hcqr import gh_hcqr_docs
    from oscar_spatial_index_compare_spark.operators.index_build import (
        cell_postings, mention_cells,
    )

    eng = _engine(spark, sf)
    cp = cell_postings(mention_cells(eng.mentions, "zxy", _ZRES)).where(
        (F.col("grid") == "zxy") & (F.col("res") == _ZRES)
    )
    return gh_hcqr_docs(spark, _GH_TREE, cp)


# in-driver-budget text entries for this round; the other two rotate to extras
_TEXT_IN_BUDGET = ("text_token_count", "text_lang_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries — the driver's harness cap (r03 VERDICT item 3:
    overflowing it silently dropped per-round oracle evidence).  Rotated-out
    variants live in extra_queries() for pytest (r04 VERDICT item 4)."""
    q: dict[str, Callable] = {
        "documents_cc": _documents_cc,
        "mentions": _mentions,
        "cell_counts_zxy9": _cell_counts_zxy,
        "index_stats_zxy": _index_stats_zxy,
        "index_stats_area_zxy": _index_stats_area_zxy,
        "optree_qt_fallback": _optree_qt_fallback,
        "optree_prefix_payload": _optree_prefix_payload,
        "tiles_z3_8_12": _tiles,
        "region_south_h3": _region_query("south_pent", "h3", 5),
        "region_east_htm": _region_query("east_am", "htm", 9),
        "region_country_zxy": _region_query("country", "zxy", _ZRES),
        "region_counts_all": _region_counts,
        "region_batch_s2": _region_batch,
        "region_batch_counts_s2": _region_batch_counts,
        "token_postings_stats": _token_postings_stats,
        "knn_h3": _knn,
        "optree_intersect_materialized": _optree_intersect_materialized,
    }
    for name, tree in _OPTREES.items():
        q[name] = _optree(tree, "s2", 10)
    for name, tree in _OPTREES_ZXY.items():
        q[name] = _optree(tree, "zxy", _ZRES)
    q.update({
        "dedup_exact": _dedup_exact,
        "dedup_minhash_lsh": _dedup_minhash,
        "dedup_simhash": _dedup_simhash,
        "dedup_clusters": _dedup_clusters,
        "dedup_canonical": _dedup_canonical,
        "embed_cosine_topk": _embed_topk,
        "embed_ann_lsh": _embed_ann,
        "embed_neardup_lsh": _embed_neardup_lsh,
        "hcqr_docs_intersect": _hcqr_docs("join / window", "s2", 10),
        "hcqr_docs_region_diff": _hcqr_docs("$region:2 - $region:1", "s2", 10),
        "hcqr_docs_gh_region": _gh_hcqr_docs,
        "hcqr_stats_join_window": _hcqr_stats,
        "cell_postings_region_zxy": _cell_postings_region,
        "cqr_stats_dup_zxy": _cqr_stats_dup,
        "posting_store_stats": _posting_store_stats,
    })
    for name, (fn, _sql) in _text_entries().items():
        if name in _TEXT_IN_BUDGET:
            q[name] = fn
    assert len(q) == 50, f"driver budget is 50 entries, got {len(q)}"
    return q


def _posting_store_stats(spark, sf):
    """Content-addressed posting dedup (ItemIndexFactory setDeduplication,
    ``apps/main.cpp:154``): slot-level savings over the zxy token postings."""
    from oscar_spatial_index_compare_spark.operators.posting_store import (
        posting_store_stats,
    )

    eng = _engine(spark, sf)
    return posting_store_stats(eng.context("zxy", _ZRES).tpostings)


def _posting_store_stats_sql() -> str:
    cell = ZXY.cell_sql("m.lat", "m.lon", _ZRES)
    return f"""
WITH cells AS (
  SELECT DISTINCT m.doc_id, {cell} AS cell_id
  FROM {mentions_subquery_sql()} m
), tot AS (
  SELECT cell_id, COUNT(DISTINCT doc_id) AS n_total FROM cells GROUP BY 1
), td AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  )
), m AS (
  SELECT td.token, c.cell_id,
         list(c.doc_id ORDER BY c.doc_id) AS l,
         COUNT(*) AS n_matched
  FROM td JOIN cells c USING (doc_id) GROUP BY 1, 2
), pm AS (
  SELECT m.* FROM m JOIN tot USING (cell_id) WHERE m.n_matched < tot.n_total
), u AS (
  SELECT DISTINCT l FROM pm
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pm) AS n_refs,
       (SELECT CAST(SUM(n_matched) AS BIGINT) FROM pm) AS slots_total,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n_unique_lists,
       (SELECT CAST(SUM(len(l)) AS BIGINT) FROM u) AS slots_stored
"""


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Operators rotated out of the 50-entry driver budget this round but
    still oracle-checked by pytest (tests/test_correctness.py merges these;
    r04 VERDICT item 4 — the sets swap round-robin per round)."""
    q: dict[str, Callable] = {}
    for name, tree in _OPTREES_EXTRA.items():
        q[name] = _optree(tree, "s2", 10)
    for name, tree in _OPTREES_ZXY_EXTRA.items():
        q[name] = _optree(tree, "zxy", _ZRES)
    q.update({
        "region_metro_s2": _region_query("metro", "s2", 10),
        "region_concave_s2": _region_query("concave_c", "s2", 10),
        "region_polar_s2": _region_query("polar", "s2", 10),
        "hcqr_docs_union_zxy": _hcqr_docs("dup + spark", "zxy", _ZRES),
        "hcqr_docs_diff_htm": _hcqr_docs("join - dup", "htm", 9),
        "dedup_jaccard": _dedup_jaccard,
        "doc_cells_zxy9": _doc_cells_zxy,
        "events_window_stats": _events_window_stats,
        "events_sessions": _events_sessions,
        "multimodal_metadata": _multimodal_metadata,
    })
    for name, (fn, _sql) in _text_entries().items():
        if name not in _TEXT_IN_BUDGET:
            q[name] = fn
    return q


def _multimodal_metadata(spark, sf):
    """Binary-payload metadata extraction through the REAL multimodal
    plumbing (mapInPandas over Arrow byte batches).  The decode stub is
    deterministic sha256 arithmetic, so DuckDB reproduces every value —
    the oracle certifies the Spark-side schema/batching/UDF contract
    end-to-end even though the codec is a sandbox fake."""
    from oscar_spatial_index_compare_spark.operators.multimodal import (
        extract_metadata, media_from_documents,
    )
    from oscar_spatial_index_compare_spark.sources.tables import documents_cc

    return extract_metadata(media_from_documents(documents_cc(spark, sf)))


_MULTIMODAL_META_ORACLE = """
WITH p AS (
  SELECT doc_id, '<html><body>' || text || '</body></html>' AS s FROM documents
), h AS (
  SELECT doc_id, CAST(octet_length(encode(s)) AS BIGINT) AS n_bytes,
         sha256(s) AS hx FROM p
)
SELECT doc_id, 'text/html' AS media_type, n_bytes, hx AS "sha256",
       CAST(64 + (16 * (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1)
                  + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)) % 192
            AS INTEGER) AS width,
       CAST(64 + (16 * (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1)
                  + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 192
            AS INTEGER) AS height
FROM h
"""


def _events_window_stats(spark, sf):
    from oscar_spatial_index_compare_spark.streaming.events import (
        event_window_stats,
    )
    return event_window_stats(spark.read.parquet(f"{sf}/events.parquet"))


def _events_sessions(spark, sf):
    from oscar_spatial_index_compare_spark.streaming.events import event_sessions
    return event_sessions(spark.read.parquet(f"{sf}/events.parquet"))


def extra_oracle_sql() -> dict[str, str]:
    from oscar_spatial_index_compare_spark.operators.dedup import (
        jaccard_pairs_oracle,
    )
    from oscar_spatial_index_compare_spark.streaming.events import (
        event_sessions_oracle,
        event_window_stats_oracle,
    )

    o = {
        "events_window_stats": event_window_stats_oracle(),
        "events_sessions": event_sessions_oracle(),
        "multimodal_metadata": _MULTIMODAL_META_ORACLE,
    }
    for name, tree in _OPTREES_EXTRA.items():
        o[name] = optree_oracle_sql(tree, res=_ZRES)
    for name, tree in _OPTREES_ZXY_EXTRA.items():
        o[name] = optree_oracle_sql(tree, res=_ZRES)
    o.update({
        "region_metro_s2": region_query_oracle_sql(region_by_name("metro")),
        "region_concave_s2": region_query_oracle_sql(region_by_name("concave_c")),
        "region_polar_s2": region_query_oracle_sql(region_by_name("polar")),
        "hcqr_docs_union_zxy": optree_oracle_sql("dup + spark", res=_ZRES),
        "hcqr_docs_diff_htm": optree_oracle_sql("join - dup", res=_ZRES),
        "dedup_jaccard": jaccard_pairs_oracle(500_000),
        "doc_cells_zxy9": f"""
SELECT DISTINCT m.doc_id, {ZXY.cell_sql('m.lat', 'm.lon', _ZRES)} AS cell_id
FROM {mentions_subquery_sql()} m""",
    })
    for name, (_fn, sql) in _text_entries().items():
        if name not in _TEXT_IN_BUDGET:
            o[name] = sql
    return o


def oracle_sql() -> dict[str, str]:
    o = {
        "documents_cc": (
            "SELECT doc_id,"
            " 'https://' || source || '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,"
            " TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id * 17) AS warc_ts,"
            " text, lang FROM documents"
        ),
        "mentions": MENTIONS_ORACLE_SQL,
        "cell_counts_zxy9": f"""
SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
  SELECT DISTINCT m.doc_id, {ZXY.cell_sql('m.lat', 'm.lon', _ZRES)} AS cell_id
  FROM {mentions_subquery_sql()} m
) GROUP BY cell_id""",
        "index_stats_zxy": _index_stats_zxy_sql(),
        "index_stats_area_zxy": _index_stats_area_zxy_sql(),
        # prefix-semantics oracle: passes only if substring→prefix fallback fires
        "optree_qt_fallback": optree_oracle_sql("a*", res=_ZRES),
        "optree_prefix_payload": optree_oracle_sql("jo* / dup", res=_ZRES),
        "tiles_z3_8_12": tiles_oracle_sql([3, 8, 12]),
        "region_south_h3": region_query_oracle_sql(region_by_name("south_pent")),
        "region_east_htm": region_query_oracle_sql(region_by_name("east_am")),
        "region_country_zxy": region_query_oracle_sql(region_by_name("country")),
        "region_counts_all": _region_counts_sql(),
        "region_batch_s2": _region_batch_sql(),
        "region_batch_counts_s2": _region_batch_counts_sql(),
        "token_postings_stats": _token_postings_stats_sql(),
        "knn_h3": knn_oracle_sql(_KNN_QUERIES),
        "optree_intersect_materialized": optree_oracle_sql("join / window", res=_ZRES),
    }
    for name, tree in _OPTREES.items():
        o[name] = optree_oracle_sql(tree, res=_ZRES)
    for name, tree in _OPTREES_ZXY.items():
        o[name] = optree_oracle_sql(tree, res=_ZRES)
    from oscar_spatial_index_compare_spark.operators.dedup import (
        EXACT_DUP_ORACLE,
        dedup_canonical_oracle,
        dup_clusters_oracle,
        jaccard_pairs_oracle,
        minhash_lsh_pairs_oracle,
        simhash_oracle,
    )
    from oscar_spatial_index_compare_spark.operators.similarity import (
        ann_topk_oracle,
        cosine_topk_oracle,
        embedding_neardup_oracle,
    )

    o.update({
        "dedup_exact": EXACT_DUP_ORACLE,
        "dedup_minhash_lsh": minhash_lsh_pairs_oracle(500_000),
        "dedup_simhash": simhash_oracle(),
        "dedup_clusters": dup_clusters_oracle(jaccard_pairs_oracle(500_000)),
        "dedup_canonical": dedup_canonical_oracle(jaccard_pairs_oracle(500_000)),
        "embed_cosine_topk": cosine_topk_oracle(_EMBED_QUERIES, 10),
        # r04 VERDICT item 5: the LSH paths are deterministic sign-bit
        # arithmetic, so their full results (not just recall) are
        # SQL-expressible — zero rows-only entries remain in the budget
        "embed_ann_lsh": ann_topk_oracle(_EMBED_QUERIES, 10),
        "embed_neardup_lsh": embedding_neardup_oracle(950_000),
        "hcqr_docs_intersect": optree_oracle_sql("join / window", res=_ZRES),
        "hcqr_docs_region_diff": optree_oracle_sql("$region:2 - $region:1", res=_ZRES),
        "hcqr_docs_gh_region": optree_oracle_sql(_GH_TREE, res=_ZRES),
        "hcqr_stats_join_window": hcqr_stats_oracle_sql("join / window", res=_ZRES),
        "cell_postings_region_zxy": _cell_postings_region_sql(),
        "cqr_stats_dup_zxy": _cqr_stats_dup_sql(),
        "posting_store_stats": _posting_store_stats_sql(),
    })
    for name, (_fn, sql) in _text_entries().items():
        if name in _TEXT_IN_BUDGET:
            o[name] = sql
    return o
