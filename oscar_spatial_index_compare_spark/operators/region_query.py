"""Region (polygon) queries: polyfill + exact PIP refinement (SURVEY X1).

The reference stubs polygon leaves (``src/OscarSearchWithSg.cpp:167-181``,
UnsupportedFeature) but the north star mandates them.  Plan shape:

    covering(poly, res)  →  full cells (possibly coarser levels)
                         →  boundary cells (exactly res)

    docs = ( mention_cells ⋈ full-cell ranges )          -- no PIP needed
          ∪ ( mention_cells ⋈ boundary cells → exact PIP )
    distinct doc_id

Scale notes:
  * the covering is computed driver-side (numpy, ≤ tens of thousands of
    cells) and **broadcast**; the probe side is the bucketed
    ``mention_cells`` table, so the join is a broadcast hash/range join with
    zero shuffle of the big side.
  * for s2, full cells at coarser levels join via contiguous id **ranges**
    (cell_id BETWEEN lo AND hi) — parquet/Iceberg min-max stats prune files;
    for hex/zxy, full coverings are emitted at the query res so equality
    joins suffice.
  * exact PIP (pip_col) runs only on boundary candidates — the same
    full-match short-cut the reference gets from fm-cell lists
    (``src/OscarSearchSgIndex.cpp:117-130``).
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import pip_col
from ..grids.base import get_grid
from ..session import local_frame
from .cell_stats import CellStats, cell_stats

# largest exact boundary-row bound for which the polygon-independent
# interpreted PIP form (pip_hof_sql) is used in the batch-dimension gate.
# Measured trade (probe r06e, 32 cores): the unrolled codegen form costs
# ~0.6-1.5 s of janino compile PER DISTINCT POLYGON; the HOF form compiles
# once ever but evaluates ~3x slower per row (1.19 s vs 0.39 s per 16M
# rows).  Break-even ≈ 30M boundary rows; below this cap the compile saving
# wins, above it per-row speed wins — scale-adaptive by construction.
PIP_HOF_MAX_ROWS = 20_000_000


def cached_covering(grid_name: str, poly: np.ndarray, res: int):
    """Coverings are deterministic functions of (grid, polygon, res) and are
    computed serially on the driver — memoize them (repeated queries over
    the same regions are the common case; this is the query-plan cache)."""
    return _covering(grid_name, res, np.asarray(poly, np.float64).tobytes())


@functools.lru_cache(maxsize=256)
def _covering(grid_name: str, res: int, poly: bytes):
    return get_grid(grid_name).covering(
        np.frombuffer(poly, np.float64).reshape(-1, 2), res)


# largest pruned covering worth shipping from the driver as a broadcast
# list; above it the distributed per-level equi-join path wins
MAX_BROADCAST_CELLS = 200_000


def cells_df(spark: SparkSession, arr, colname: str) -> DataFrame:
    """Cell ids → a one-column ``long`` local frame (``local_frame``)."""
    return local_frame(spark, f"{colname} long", [np.asarray(arr, np.int64)])


def _by_level(grid: str, full: np.ndarray, pop: np.ndarray, res: int):
    """Per level of the full cells: (mask of the full cells at that level,
    every populated res-level cell's ancestor at it)."""
    g = get_grid(grid)
    lvls = g.level(full)
    for lvl in np.unique(lvls):
        yield lvls == lvl, pop if int(lvl) == res else g.parent(pop, int(lvl))


def expand_full_to_populated(
    grid: str, full: np.ndarray, pop: np.ndarray, res: int
) -> np.ndarray:
    """Full covering cells (mixed levels) → the POPULATED res-level cells
    they contain, via vectorized parent matching on the driver.  Exact: a
    dropped cell provably holds no documents."""
    return np.unique(np.concatenate([np.empty(0, np.int64)] + [
        pop[np.isin(anc, full[sel])] for sel, anc in _by_level(grid, full, pop, res)]))


def prune_full_to_populated(
    grid: str, full: np.ndarray, pop: np.ndarray, res: int
) -> np.ndarray:
    """The full covering cells, at their own levels, that contain at least
    one populated res-level cell."""
    keep = np.zeros(len(full), bool)
    for sel, anc in _by_level(grid, full, pop, res):
        keep[sel] = np.isin(full[sel], anc)
    return full[keep]


def region_query_docs(
    spark: SparkSession,
    mcells: DataFrame,
    poly: np.ndarray,
    grid: str = "s2",
    res: int = 10,
) -> DataFrame:
    """→ DataFrame(doc_id) of documents with ≥1 mention inside ``poly``.

    ``mcells``: mention_cells for (grid, res) — cell_id per mention.

    Lowering (r03 VERDICT item 7 — a batch of one): ONE broadcast join
    against the pruned covering dimension (_batch_dim) with exact PIP only
    on boundary-tagged rows, then one dedup — instead of the r01-era 2-3
    plan fragments + union.  (The run-length BETWEEN-predicate form that
    batch COUNTS use is deliberately NOT used for singles: a several-
    thousand-term OR chain pays ~1s of whole-stage-codegen compilation per
    distinct polygon, which amortizes across a 10-query batch but dominates
    a single query; a broadcast hash join has O(1) codegen.)  The
    multi-fragment plan remains as the fallback when the populated-cell
    list is too big for the driver or the covering exceeds
    MAX_LITERAL_CELLS.
    """
    probe = mcells.where((F.col("grid") == grid) & (F.col("res") == res))
    stats = cell_stats(mcells, grid, res)
    dim = _batch_dim(spark, probe, [("q", poly)], grid, res, stats)
    if dim is not None:
        j, _names = dim
        return j.select("doc_id").dropDuplicates(["doc_id"])
    parts = _one_region_parts(spark, probe, poly, grid, res, stats)
    if not parts:
        return spark.range(0).select(F.col("id").alias("doc_id"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["doc_id"])


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
    probe = mcells.where((F.col("grid") == grid) & (F.col("res") == res))
    stats = cell_stats(mcells, grid, res)
    dim = _batch_dim(spark, probe, regions, grid, res, stats)
    if dim is not None:
        j, names = dim
        out = j.select("rid", "doc_id").dropDuplicates(["rid", "doc_id"])
        name_arr = F.array(*[F.lit(n) for n in names])
        return out.select(
            F.element_at(name_arr, (F.col("rid") + 1).cast("int")).alias("region"), "doc_id"
        )
    tagged: list[DataFrame] = []
    for name, poly in regions:
        for p in _one_region_parts(spark, probe, poly, grid, res, stats):
            tagged.append(p.select(F.lit(name).alias("region"), "doc_id"))
    if not tagged:
        return spark.range(0).select(
            F.lit("").alias("region"), F.col("id").alias("doc_id"))
    out = tagged[0]
    for p in tagged[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["region", "doc_id"])


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

    Primary lowering (r04): the broadcast covering-dimension join of
    ``_batch_dim`` feeding a PACKED per-doc bitmap aggregation.  Per
    mention row the membership test is ONE hash probe into the broadcast
    ``(cell_id, rid, needs_pip)`` dimension (+ PIP only on boundary-tagged
    matches) — O(1) per row regardless of covering size.  The previous
    primary (membership as run-length BETWEEN chains evaluated per row)
    was O(total_runs) per row: exact after the r03-ADVICE stride fix, but
    that fix fragmented gappy coverings into thousands of runs and the
    scan went compute-bound (measured 22s for 50 polygons over 1.7M
    mention rows vs <2s for the dim join).  It remains the fallback when
    the combined covering outgrows MAX_LITERAL_CELLS but its runs still
    fit MAX_BATCH_RUNS.

    Packing matters at scale (r04 scaling gate): one BIGINT per 62 queries
    of aggregation state instead of one boolean slot per query — the
    groupBy(doc_id) hash map shrinks ~10x, so map-side partials stay
    cache-resident and the shuffle carries (doc_id, long) rows; the join
    fan-out (a mention row duplicated per matching query) is collapsed by
    the same map-side bit_or.  62 bits per chunk keeps every mask positive
    (no sign-extension edge cases anywhere)."""
    if not regions:
        # every lowering below assumes ≥1 region (agg(*[]) and stack(0,)
        # are invalid; the per-region fallback would index parts[0])
        return local_frame(spark, "region string, n_docs long", [[], []])
    probe = mcells.where((F.col("grid") == grid) & (F.col("res") == res))
    stats = cell_stats(mcells, grid, res)
    if stats is not None:
        dim = _batch_dim(spark, probe, regions, grid, res, stats)
        if dim is not None:
            j, names = dim
            return _mask_counts(j, names)
        preds = _batch_preds_sql(regions, grid, res, stats)
        if preds is not None:
            # fallback bitmap over run-length BETWEEN predicates — SQL
            # STRINGS: ~50 py4j calls instead of ~10^4 Column-building
            # round-trips (measured ~5s of driver wall)
            CHUNK = 62
            chunks = [preds[i:i + CHUNK] for i in range(0, len(preds), CHUNK)]
            mask_cols = [
                F.expr(" | ".join(
                    f"(CAST(({p}) AS BIGINT) << {b})"
                    for b, (_n, p) in enumerate(ch)
                )).alias(f"_m{ci}")
                for ci, ch in enumerate(chunks)
            ]
            bits = probe.select("doc_id", *mask_cols).groupBy("doc_id").agg(
                *[F.expr(f"bit_or(_m{ci})").alias(f"_m{ci}")
                  for ci in range(len(chunks))]
            )
            names = [n for n, _p in preds]
            return _mask_sums(bits, names)
    parts = []
    for name, poly in regions:
        d = region_query_docs(spark, mcells, poly, grid, res)
        parts.append(d.agg(
            F.lit(name).alias("region"),
            F.count("*").cast("long").alias("n_docs"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _mask_counts(j: DataFrame, names: list[str]) -> DataFrame:
    """(rows with ``rid``, ``doc_id``) → (region, n_docs) via the packed
    per-doc bitmap aggregation: per row the mask is one shifted bit of
    rid's chunk, groupBy(doc_id) bit_or collapses the join fan-out
    map-side, one tiny sum unpacks per-query counts."""
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
    bits = j.select("doc_id", *mask_cols).groupBy("doc_id").agg(
        *[F.expr(f"bit_or(_m{ci})").alias(f"_m{ci}") for ci in range(nch)]
    )
    return _mask_sums(bits, names)


def _mask_sums(bits: DataFrame, names: list[str]) -> DataFrame:
    """(doc_id, _m0.._mK packed masks) → (region, n_docs): one global sum
    per bit, unpacked to rows with stack().  Region names NEVER enter SQL
    text (a quote/backtick in a caller-supplied name would break the
    parsed stack(); duplicate names would alias-collide) — the stack works
    on positional ids and names attach afterwards as literal expressions."""
    CHUNK = 62
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


def _runs(arr: np.ndarray, step: int) -> list:
    """Sorted distinct int64 array → maximal ``step``-stride runs
    [(lo, hi)].  ``step`` MUST be the grid's lattice stride
    (``Grid.lattice_step(res)``: 2·lsb for s2 level-R ids, 1 otherwise) —
    never inferred from the data: inferring it as the observed min diff
    (ADVICE r03) made BETWEEN ranges over gappy coverings match populated
    cells strictly inside the range that were NOT in the covering,
    silently overcounting.  With the grid-derived stride, BETWEEN lo AND
    hi matches exactly the run's members among valid res-level ids
    (step 1: runs are literally consecutive integers; s2: valid level-R
    ids are ≡ lsb mod 2·lsb, so aligned intermediates are all present)."""
    if len(arr) == 0:
        return []
    if len(arr) == 1:
        return [(int(arr[0]), int(arr[0]))]
    d = np.diff(arr)
    brk = np.where(d != step)[0]
    starts = np.concatenate([[0], brk + 1])
    ends = np.concatenate([brk, [len(arr) - 1]])
    return [(int(arr[s]), int(arr[e])) for s, e in zip(starts, ends)]


# cap on total compressed ranges across a batch (plan-size guard)
MAX_BATCH_RUNS = 50_000


def _batch_preds_sql(regions: list, grid: str, res: int, stats: CellStats):
    """[(name, sql_bool_expr)] for the bitmap batch lowering, or None when
    the compressed coverings exceed MAX_BATCH_RUNS (plan too large —
    per-region broadcast paths take over)."""
    from ..functions.geo import pip_sql

    pop = stats.cells
    step = get_grid(grid).lattice_step(res)
    out = []
    total_runs = 0
    for name, poly in regions:
        full, boundary = cached_covering(grid, poly, res)
        fulls = (
            expand_full_to_populated(grid, full, pop, res)
            if len(full) else np.empty(0, np.int64)
        )
        bnd = np.sort(boundary[np.isin(boundary, pop)]) if len(boundary) else boundary
        conds = []
        for arr in (fulls,):
            rs = _runs(arr, step)
            total_runs += len(rs)
            if rs:
                conds.append(" OR ".join(
                    f"(cell_id = {lo})" if lo == hi
                    else f"(cell_id BETWEEN {lo} AND {hi})" for lo, hi in rs))
        rs = _runs(bnd, step)
        total_runs += len(rs)
        if rs:
            bsql = " OR ".join(
                f"(cell_id = {lo})" if lo == hi
                else f"(cell_id BETWEEN {lo} AND {hi})" for lo, hi in rs)
            conds.append(f"(({bsql}) AND {pip_sql('lat', 'lon', poly)})")
        if total_runs > MAX_BATCH_RUNS:
            return None
        out.append((name, ("(" + " OR ".join(conds) + ")") if conds else "false"))
    return out


# total pruned-covering cells across a batch below which the whole batch
# lowers to ONE broadcast covering-dimension join; above it per-region
# parts take over (the dimension must stay broadcast-sized)
MAX_LITERAL_CELLS = 100_000


def _batch_dim(
    spark: SparkSession,
    probe: DataFrame,
    regions: list,
    grid: str,
    res: int,
    stats: CellStats | None,
):
    """Batched lowering: ONE broadcast join of ``probe`` against the batch's
    combined pruned covering as a dimension table ``(cell_id, rid,
    needs_pip)``, then exact PIP only on boundary-tagged rows.

    One plan for the whole batch amortizes the per-query fixed costs (job
    submit, AQE stage rounds, per-query broadcast setup, N probe scans →
    one) that were the measured bottleneck for query-throughput scaling
    between cluster sizes (north_rule).  Query ids stay INTs in the wide
    path (strings only in the final tiny projection) so the join/dedup rows
    are primitive-only.  Returns (joined-and-filtered df with ``rid``,
    names list), or None when ineligible (no driver-side cell stats, or
    combined covering above MAX_LITERAL_CELLS).

    The stats' per-cell row counts bound the PIP-evaluated rows; when the
    bound is small the gate uses the polygon-independent interpreted PIP
    form (no per-polygon codegen — see PIP_HOF_MAX_ROWS), otherwise the
    unrolled codegen form that scales.
    """
    if stats is None:
        return None
    pop = stats.cells
    per_region = []
    total = 0
    for name, poly in regions:
        full, boundary = cached_covering(grid, poly, res)
        fulls = (
            expand_full_to_populated(grid, full, pop, res)
            if len(full) else np.empty(0, np.int64)
        )
        bnd = boundary[np.isin(boundary, pop)] if len(boundary) else boundary
        total += len(fulls) + len(bnd)
        if total > MAX_LITERAL_CELLS:
            return None
        per_region.append((name, poly, fulls, bnd))
    rows = []
    for rid, (_name, _poly, fulls, bnd) in enumerate(per_region):
        for c in fulls:
            rows.append((int(c), rid, False))
        for c in bnd:
            rows.append((int(c), rid, True))
    names = [name for name, *_ in per_region]
    if not rows:
        empty = spark.range(0).select(
            F.col("id").cast("int").alias("rid"), F.col("id").alias("doc_id"))
        return empty, names
    dim = local_frame(
        spark, "cell_id long, rid long, needs_pip boolean", zip(*rows))
    j = probe.join(F.broadcast(dim), "cell_id")
    # the PIP gate is ONE SQL string: building the equivalent CASE from
    # pip_col Column objects cost ~3s of py4j round-trips per 50-polygon
    # batch (measured r04) — the same driver-wall trap _batch_preds_sql
    # already avoids; CASE evaluates only the matching rid's branch
    from ..functions.geo import pip_hof_sql, pip_sql
    # Σ PER-REGION bounds, not the union's: the CASE evaluates PIP once
    # per (row × matching rid), so overlapping regions' shared boundary
    # cells count once per region (review r06 — the union bound
    # undercounted exactly for large overlapping batches)
    bnd_rows = sum(stats.row_bound(bnd) for *_, bnd in per_region)
    pip_form = pip_hof_sql if bnd_rows <= PIP_HOF_MAX_ROWS else pip_sql
    whens = " ".join(
        f"WHEN rid = {rid} THEN ({pip_form('lat', 'lon', poly)})"
        for rid, (_name, poly, _fulls, bnd) in enumerate(per_region)
        if len(bnd))
    gate = ("(NOT needs_pip)" if not whens
            else f"(NOT needs_pip) OR (CASE {whens} ELSE false END)")
    return j.where(F.expr(gate)), names


def _one_region_parts(
    spark: SparkSession,
    probe: DataFrame,
    poly: np.ndarray,
    grid: str,
    res: int,
    stats: CellStats | None,
) -> list:
    """Per-polygon plan fragments (doc_id DataFrames) — shared by the
    single-query and batched entry points."""
    g = get_grid(grid)
    full, boundary = cached_covering(grid, poly, res)
    parts: list[DataFrame] = []
    pop = None if stats is None else stats.cells
    if pop is not None:
        # prune the covering to POPULATED cells driver-side (r01 VERDICT
        # fix: no BroadcastNestedLoopJoin, and empty coverings cost nothing)
        fulls = (
            expand_full_to_populated(grid, full, pop, res)
            if len(full) else np.empty(0, np.int64)
        )
        bnd = boundary[np.isin(boundary, pop)] if len(boundary) else boundary
        if len(fulls) + len(bnd) > MAX_BROADCAST_CELLS:
            pop = None  # pruned list too big to ship — distributed joins below
        else:
            if len(fulls):
                fdf = F.broadcast(cells_df(spark, fulls, "fcell"))
                parts.append(
                    probe.join(fdf, F.col("cell_id") == F.col("fcell")).select("doc_id")
                )
            if len(bnd):
                bdf = F.broadcast(cells_df(spark, bnd, "bcell"))
                cand = probe.join(bdf, F.col("cell_id") == F.col("bcell"))
                parts.append(
                    cand.where(pip_col(F.col("lat"), F.col("lon"), poly)).select("doc_id")
                )
    if pop is None:
        # distributed fallback (populated-cell list too big for the driver):
        # per-level ancestor EQUI-joins — broadcast hash joins, never a BNLJ
        # (parent-at-level is native bit math for s2 and zxy)
        from ..functions.udfs import parent_col
        if len(full):
            lvls = g.level(full)
            for lvl in np.unique(lvls):
                cdf = F.broadcast(cells_df(spark, full[lvls == lvl], "fcell"))
                if int(lvl) == res:
                    parts.append(probe.join(cdf, F.col("cell_id") == F.col("fcell")).select("doc_id"))
                else:
                    anc = probe.withColumn(
                        "anc", parent_col(grid, F.col("cell_id"), int(lvl), from_res=res)
                    )
                    parts.append(anc.join(cdf, F.col("anc") == F.col("fcell")).select("doc_id"))
        if len(boundary):
            bdf = F.broadcast(cells_df(spark, boundary, "bcell"))
            cand = probe.join(bdf, F.col("cell_id") == F.col("bcell"))
            parts.append(
                cand.where(pip_col(F.col("lat"), F.col("lon"), poly)).select("doc_id")
            )
    return parts


def region_query_oracle_sql(poly: np.ndarray) -> str:
    """Brute-force oracle: doc has a gazetteer mention strictly inside poly."""
    from ..functions.geo import pip_sql
    from ..sources.gazetteer import mentions_subquery_sql

    return f"""
SELECT DISTINCT m.doc_id
FROM {mentions_subquery_sql()} m
WHERE {pip_sql('m.lat', 'm.lon', poly)}
"""
