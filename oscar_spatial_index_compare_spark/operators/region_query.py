"""Region (polygon) queries: a covering plus exact PIP refinement (SURVEY X1).

The reference stubs polygon leaves (``src/OscarSearchWithSg.cpp:167-181``,
UnsupportedFeature) but the north star mandates them.  A polygon lowers to
its grid covering:

    covering(poly, res, populated)  →  full cells (possibly coarser
                                       levels): no PIP
                                    →  boundary cells (exactly res): exact PIP

the same full-match short-cut the reference gets from fm-cell lists
(``src/OscarSearchSgIndex.cpp:117-130``).  Like the reference, which
intersects a covering with its own cell list, a covering built with the
context's ``CellStats`` on the driver descends only into cells that hold a
populated cell: a cell whose descendant range holds none is dropped before
any geometry test.  Every region entry point goes through one lowering,
``_region_rows``:

  * with the stats on the driver, the pruned covering's full cells expand
    to the populated res-level cells under them (``dimension_covering``).
    When a batch's cells fit MAX_BROADCAST_CELLS they ship as ONE
    broadcast ``(cell_id, rid, needs_pip)`` dimension, joined once against
    ``mention_cells`` with PIP only on ``needs_pip`` rows; otherwise each
    region ships its own.
  * regions with no dimension (no driver stats, or cells over the cap on
    their own) take the unpruned covering, memoized by
    ``cached_covering``: they join its full cells level by level on
    ancestor ids (``full_cell_rows``, shared with the planner's CQR leaf)
    and ship its boundary cells as one dimension.

A polygon with fewer than 3 vertices has an empty covering, so every
entry point answers it with an empty result.

PIP is one SQL string, ``pip_filter_sql``; the planner's boundary rows
(``boundary_rows``) use it too.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import pip_hof_sql, pip_sql
from ..grids.base import get_grid, populated_in
from ..session import local_frame
from .cell_stats import CellStats, cell_stats

# largest exact boundary-row bound for which the polygon-independent
# interpreted PIP form (pip_hof_sql) is used.  The trade, as measured in
# r06 on 32 cores and not re-measured since: the unrolled codegen form
# costs ~0.6-1.5 s of janino compile PER DISTINCT POLYGON; the HOF form
# compiles once ever but evaluates ~3x slower per row (1.19 s vs 0.39 s per 16M rows).  Break-even ≈ 30M
# boundary rows; below this cap the compile saving wins, above it per-row
# speed wins — scale-adaptive by construction.
PIP_HOF_MAX_ROWS = 20_000_000

# largest pruned covering shipped from the driver as one broadcast
# dimension: a batch over it ships one dimension per region, and a region
# over it on its own takes the distributed per-level equi-joins
MAX_BROADCAST_CELLS = 200_000


def cached_covering(grid_name: str, poly: np.ndarray, res: int):
    """The unpruned covering, memoized: the paths with no dimension (no
    driver stats, or cells over MAX_BROADCAST_CELLS), where the descent
    visits every cell the polygon touches (repeated queries over the same
    regions are the common case)."""
    return _covering(grid_name, res, np.asarray(poly, np.float64).tobytes())


@functools.lru_cache(maxsize=256)
def _covering(grid_name: str, res: int, poly: bytes):
    return get_grid(grid_name).covering(
        np.frombuffer(poly, np.float64).reshape(-1, 2), res)


def pip_filter_sql(poly: np.ndarray, row_bound: int | None) -> str:
    """Exact PIP of the ``lat``/``lon`` columns as SQL text: the
    polygon-independent HOF form when ``row_bound``, a driver-known bound
    on the rows it filters, is at most PIP_HOF_MAX_ROWS; otherwise the
    unrolled form that scales.  The two are bit-identical."""
    if row_bound is not None and row_bound <= PIP_HOF_MAX_ROWS:
        return pip_hof_sql("lat", "lon", poly)
    return pip_sql("lat", "lon", poly)


def cells_df(spark: SparkSession, arr, colname: str) -> DataFrame:
    """Cell ids → a one-column ``long`` local frame (``local_frame``)."""
    return local_frame(spark, f"{colname} long", [np.asarray(arr, np.int64)])


def dimension_covering(grid: str, poly: np.ndarray, res: int,
                       stats: CellStats | None):
    """``poly``'s dimension cells: (the populated res-level cells under
    the pruned covering's full cells, its populated boundary cells).
    Exact: a dropped cell holds no mention.  None when there are no
    driver stats or the cells exceed MAX_BROADCAST_CELLS.  Not memoized:
    the pruned descent is cheap (s2-10, 225 perfbench polygons, 5.4k
    populated cells, one 4-core host: median 7 ms, against 33 ms for the
    unpruned covering plus a prune)."""
    if stats is None:
        return None
    g = get_grid(grid)
    full, bnd = g.covering(poly, res, stats.cells)
    fulls = populated_in(*g.res_bounds(full, res), stats.cells)
    return None if len(fulls) + len(bnd) > MAX_BROADCAST_CELLS else (fulls, bnd)


def full_cell_rows(spark: SparkSession, frame: DataFrame, full: np.ndarray,
                   grid: str, res: int, rids: np.ndarray | None = None) -> DataFrame:
    """Rows of ``frame`` whose res-level ``cell_id`` lies under one of the
    (mixed-level) full covering cells ``full``: one broadcast ancestor
    equi-join per level, never a nested-loop join (parent-at-level is
    native bit math for s2 and zxy).  With ``rids`` (aligned with
    ``full``) each row also gets the ``rid`` of every region whose cell
    it matched.  The full side of a region with no pruned dimension."""
    from ..functions.udfs import parent_col

    lvls = get_grid(grid).level(full)
    parts = []
    for lvl in np.unique(lvls):
        sel = lvls == lvl
        anc = F.col("cell_id") if int(lvl) == res else parent_col(
            grid, F.col("cell_id"), int(lvl), from_res=res)
        dim = cells_df(spark, full[sel], "anc") if rids is None else local_frame(
            spark, "anc long, rid long", [full[sel], rids[sel]])
        parts.append(frame.withColumn("anc", anc).join(dim.hint("broadcast"), "anc")
                     .drop("anc"))
    return functools.reduce(DataFrame.unionByName, parts)


def boundary_rows(spark: SparkSession, mcells: DataFrame, poly: np.ndarray,
                  boundary: np.ndarray, stats: CellStats | None) -> DataFrame:
    """Mention rows of ``mcells`` in the ``boundary`` cells that pass exact
    PIP; the PIP form follows the stats' bound on those rows."""
    bound = None if stats is None else stats.row_bound(boundary)
    return mcells.join(
        cells_df(spark, boundary, "cell_id").hint("broadcast"), "cell_id"
    ).where(pip_filter_sql(poly, bound))


def region_query_docs(
    spark: SparkSession,
    mcells: DataFrame,
    poly: np.ndarray,
    grid: str = "s2",
    res: int = 10,
) -> DataFrame:
    """→ DataFrame(doc_id) of documents with ≥1 mention inside ``poly``.

    ``mcells``: mention_cells for (grid, res) — cell_id per mention.

    A batch of one through ``_region_rows`` (r03 VERDICT item 7): with
    driver stats, ONE broadcast join against the pruned covering dimension
    with exact PIP only on boundary-tagged rows, then one dedup.  A
    broadcast hash join has O(1) codegen per polygon, where a chain of
    per-cell predicates pays whole-stage compilation per distinct polygon.
    """
    rows, _names = _region_rows(spark, mcells, [("q", poly)], grid, res)
    return rows.select("doc_id").dropDuplicates(["doc_id"])


def region_query_batch(
    spark: SparkSession,
    mcells: DataFrame,
    regions: list,
    grid: str = "s2",
    res: int = 10,
) -> DataFrame:
    """→ DataFrame(region, doc_id) distinct for a BATCH of polygons in ONE
    Catalyst plan — the spatial-leaf analog of the reference's treed/batched
    evaluation (``src/static-htm-index.cpp:209-219``; its benchmark loop runs
    a query FILE, ``apps/mainq.cpp:175-376``).

    ``regions``: list of (name, polygon ndarray).

    One plan for N queries amortizes the per-query fixed costs that dominate
    small queries (job submit, AQE stage rounds, broadcast setup, and one
    probe-scan instead of N) — measured r03: 4 separate concurrent queries
    cost ~7s at sf 1M docs while the batched plan costs ~1-2s, and the fixed
    costs are exactly what caps query-throughput scaling between cluster
    sizes (north_rule).
    """
    if not regions:
        return local_frame(spark, "region string, doc_id long", [[], []])
    rows, names = _region_rows(spark, mcells, regions, grid, res)
    name_arr = F.array(*[F.lit(n) for n in names])
    return rows.dropDuplicates(["rid", "doc_id"]).select(
        F.element_at(name_arr, (F.col("rid") + 1).cast("int")).alias("region"), "doc_id"
    )


def region_query_batch_counts(
    spark: SparkSession,
    mcells: DataFrame,
    regions: list,
    grid: str = "s2",
    res: int = 10,
) -> DataFrame:
    """→ DataFrame(region, n_docs) for a batch of polygons — the benchmark
    shape (the reference benchmark reports per-query result COUNTS,
    ``apps/mainq.cpp:238-239``).

    The rows of ``_region_rows`` (with driver stats: one hash probe per
    mention row into the broadcast ``(cell_id, rid, needs_pip)``
    dimension, PIP only on boundary-tagged matches) feed a PACKED per-doc
    bitmap aggregation, ``_mask_counts``.

    Packing matters at scale (r04 scaling gate): one BIGINT per 62 queries
    of aggregation state instead of one boolean slot per query — the
    groupBy(doc_id) hash map shrinks ~10x, so map-side partials stay
    cache-resident and the shuffle carries (doc_id, long) rows; the join
    fan-out (a mention row duplicated per matching query) is collapsed by
    the same map-side bit_or.  62 bits per chunk keeps every mask positive
    (no sign-extension edge cases anywhere)."""
    if not regions:
        # agg(*[]) and stack(0,) are invalid
        return local_frame(spark, "region string, n_docs long", [[], []])
    rows, names = _region_rows(spark, mcells, regions, grid, res)
    return _mask_counts(rows, names)


def _mask_counts(rows: DataFrame, names: list[str]) -> DataFrame:
    """(rows with ``rid``, ``doc_id``) → (region, n_docs) via the packed
    per-doc bitmap aggregation: per row the mask is one shifted bit of
    rid's chunk, groupBy(doc_id) bit_or collapses the join fan-out
    map-side, and one global sum per bit, unpacked to rows with stack(),
    gives per-query counts.  Region names NEVER enter SQL text (a
    quote/backtick in a caller-supplied name would break the parsed
    stack(); duplicate names would alias-collide) — the stack works on
    positional ids and names attach afterwards as literal expressions."""
    CHUNK = 62
    nch = max(1, (len(names) + CHUNK - 1) // CHUNK)
    mask_cols = [
        F.expr(
            f"CASE WHEN rid >= {ci * CHUNK} AND rid < {(ci + 1) * CHUNK} "
            f"THEN shiftleft(1L, CAST(rid - {ci * CHUNK} AS INT)) "
            f"ELSE 0L END"
        ).alias(f"_m{ci}")
        for ci in range(nch)
    ]
    bits = rows.select("doc_id", *mask_cols).groupBy("doc_id").agg(
        *[F.expr(f"bit_or(_m{ci})").alias(f"_m{ci}") for ci in range(nch)]
    )
    sums = bits.agg(*[
        F.expr(f"sum((_m{i // CHUNK} >> {i % CHUNK}) & 1)").alias(f"_q{i}")
        for i in range(len(names))
    ])
    stack_args = ", ".join(f"{i}, _q{i}" for i in range(len(names)))
    name_arr = F.array(*[F.lit(n) for n in names])
    return sums.select(F.expr(
        f"stack({len(names)}, {stack_args}) AS (rid, n_docs)"
    )).select(
        F.element_at(name_arr, F.col("rid").cast("int") + 1).alias("region"),
        F.coalesce(F.col("n_docs"), F.lit(0)).alias("n_docs"))


def _region_rows(
    spark: SparkSession,
    mcells: DataFrame,
    regions: list,
    grid: str,
    res: int,
):
    """The one region lowering: a non-empty list of (name, polygon) →
    (frame(rid, doc_id) with one row per mention inside polygon ``rid``,
    duplicates kept; the names by rid).

    Regions whose pruned covering fits MAX_BROADCAST_CELLS go through
    ``_batch_dim``: all of them in one dimension when their combined
    cells fit it, else one dimension each.  The rest (no driver stats, or
    over the cap alone) take ``_distributed_rows`` together.  Regions are
    integer rids in the wide path, so the join/dedup rows are
    primitive-only; names attach in the callers' last projection."""
    probe = mcells.where((F.col("grid") == grid) & (F.col("res") == res))
    stats = cell_stats(mcells, grid, res)
    names = [name for name, _poly in regions]
    dims, rest = [], []
    for rid, (_name, poly) in enumerate(regions):
        cov = dimension_covering(grid, poly, res, stats)
        if cov is None:
            rest.append((rid, poly))
        else:
            dims.append((rid, poly, *cov))
    n_cells = sum(len(fulls) + len(bnd) for *_, fulls, bnd in dims)
    groups = [dims] if n_cells <= MAX_BROADCAST_CELLS else [[d] for d in dims]
    parts = [_batch_dim(spark, probe, g, stats) for g in groups if g]
    if rest:
        parts.append(_distributed_rows(spark, probe, rest, grid, res, stats))
    return functools.reduce(DataFrame.unionByName, parts), names


def _batch_dim(spark: SparkSession, probe: DataFrame, group: list,
               stats: CellStats | None) -> DataFrame:
    """ONE broadcast join of ``probe`` against the res-level cells of
    ``group`` ([(rid, poly, fulls, bnd)]: cells inside the polygon, then
    its boundary cells) as a dimension table ``(cell_id, rid,
    needs_pip)``, then exact PIP only on boundary-tagged rows → (rid,
    doc_id) rows.

    One plan for the whole batch amortizes the per-query fixed costs (job
    submit, AQE stage rounds, per-query broadcast setup, N probe scans →
    one) that were the measured bottleneck for query-throughput scaling
    between cluster sizes (north_rule)."""
    sizes = [len(fulls) + len(bnd) for *_, fulls, bnd in group]
    if not sum(sizes):
        return spark.range(0).selectExpr("id AS rid", "id AS doc_id")
    dim = local_frame(spark, "cell_id long, rid long, needs_pip boolean", [
        np.concatenate([c for *_, fulls, bnd in group for c in (fulls, bnd)]),
        np.repeat([rid for rid, *_ in group], sizes),
        np.concatenate([np.arange(n) >= len(fulls)
                        for n, (*_, fulls, _bnd) in zip(sizes, group)]),
    ])
    # the gate is ONE SQL string; CASE evaluates only the matching rid's
    # branch.  The PIP form is chosen on Σ PER-REGION bounds, not the
    # union's: the CASE evaluates PIP once per (row × matching rid), so
    # overlapping regions' shared boundary cells count once per region
    # (review r06 — the union bound undercounted large overlapping batches)
    bound = None if stats is None else sum(stats.row_bound(bnd) for *_, bnd in group)
    whens = " ".join(
        f"WHEN rid = {rid} THEN ({pip_filter_sql(poly, bound)})"
        for rid, poly, _fulls, bnd in group if len(bnd))
    gate = ("(NOT needs_pip)" if not whens
            else f"(NOT needs_pip) OR (CASE {whens} ELSE false END)")
    return probe.join(F.broadcast(dim), "cell_id").where(gate).select("rid", "doc_id")


def _distributed_rows(spark: SparkSession, probe: DataFrame, group: list,
                      grid: str, res: int, stats: CellStats | None) -> DataFrame:
    """Regions with no pruned dimension ([(rid, poly)]) → (rid, doc_id)
    rows over their raw coverings: the full cells of all of them by one
    ancestor equi-join per level (``full_cell_rows``), their boundary
    cells as one unpruned dimension (``_batch_dim``)."""
    covs = [(rid, poly, *cached_covering(grid, poly, res)) for rid, poly in group]
    none = np.empty(0, np.int64)
    parts = [_batch_dim(spark, probe, [(rid, poly, none, boundary)
                                       for rid, poly, _full, boundary in covs], stats)]
    full = np.concatenate([full for *_, full, _boundary in covs])
    if len(full):
        rids = np.repeat([rid for rid, *_ in covs], [len(c[2]) for c in covs])
        parts.append(full_cell_rows(spark, probe, full, grid, res, rids)
                     .select("rid", "doc_id"))
    return functools.reduce(DataFrame.unionByName, parts)


def region_query_oracle_sql(poly: np.ndarray) -> str:
    """Brute-force oracle: doc has a gazetteer mention strictly inside poly."""
    from ..sources.gazetteer import mentions_subquery_sql

    return f"""
SELECT DISTINCT m.doc_id
FROM {mentions_subquery_sql()} m
WHERE {pip_sql('m.lat', 'm.lon', poly)}
"""
