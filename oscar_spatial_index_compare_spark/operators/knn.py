"""kNN document search via cell-ring expansion (SURVEY X2).

The reference stubs NEAR queries (``src/OscarSearchWithSg.cpp:167-181``);
the north star mandates kNN via cell-ring expansion with a per-partition
bounded heap.

Algorithm (per query point, batched across queries):
  1. seed = hex cell of the query point at ``res``;
  2. candidate cells: every populated cell that can hold a top-k doc,
     bounded on the driver from the per-cell counts (or, without them,
     ``grid_disk(seed, r)`` with r doubling 2,4,8,…).  They ship as ONE
     broadcast dimension ``(query_id, cand_cell, qlat, qlon, k)``,
     hash-joined on ``cell_id = cand_cell`` — the big side never shuffles;
  3. min distance per (query, doc), then ``row_number()`` per query
     filtered by ``rank <= max_k AND rank <= k``.  The literal bound makes
     Spark plan a ``WindowGroupLimit`` in ``Partial`` mode before the
     window's shuffle: the per-partition bounded heap, run in the JVM;
  4. termination proof: any mention outside disk(r) is at planar degree
     distance ≥ (r-0.5)·s·√3/2 from the query; ``_km_lower_bound`` converts
     that to a great-circle km bound that accounts for longitude shrink at
     high latitude.  Expansion stops when kth-dist < bound (else doubles).

Doc distance = min over its mentions; k docs per query, ties broken by
doc_id; distances quantized to integer meters for cross-engine equality
(``_DIST_M``: the one SQL string that Spark and the DuckDB oracle both
evaluate).  The plan is SQL text (``selectExpr`` / ``where(str)``): on
classic PySpark each Column built in Python costs ~19 py4j round trips.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import dist_m_sql, haversine_np, haversine_sql
from ..grids.base import get_grid
from ..grids.hex7 import SQRT3, _frame
from ..session import local_frame
from .cell_stats import cell_stats

KM_PER_DEG = 111.19492664455873  # great-circle km per degree (min over lat)


def _km_lower_bound(qlat: float, d_deg: float) -> float:
    """Lower bound on great-circle km to any point ≥ d_deg planar degrees away.

    Split d_deg = a (lat) + b (lon): km ≥ KM_PER_DEG · max(a, b·cos(|qlat|+a));
    the adversary minimizes over a — evaluate on a fine grid.
    """
    a = np.linspace(0.0, d_deg, 512)
    b = d_deg - a
    lat = np.minimum(np.abs(qlat) + a, 90.0)
    val = np.maximum(a, b * np.cos(np.radians(lat)))
    return float(KM_PER_DEG * val.min())


# hard cap on the Σ-per-query candidate-cell literal frame built on the
# driver; beyond it knn_docs falls back to ring expansion instead of
# shipping a queries×populated-cells broadcast (VERDICT r05 item 4)
MAX_CANDIDATE_ROWS = 5_000_000

_CAND_DDL = "query_id long, cand_cell long, qlat double, qlon double, k int"
_OUT_DDL = "query_id long, doc_id long, dist_m long, rank int"
_DIST_M = dist_m_sql(haversine_sql("qlat", "qlon", "lat", "lon"))


def _candidates(spark: SparkSession, queries, cells: list[np.ndarray]) -> DataFrame:
    """The broadcast candidate dimension: one (query_id, cand_cell, qlat,
    qlon, k) row per candidate cell ``cells[i]`` of ``queries[i]``."""
    reps = [len(c) for c in cells]
    qid, qlat, qlon, k = (np.repeat(np.asarray(col), reps) for col in zip(*queries))
    return local_frame(spark, _CAND_DDL, [
        qid, np.concatenate(cells), qlat, qlon, k]).hint("broadcast")


def _topk(joined: DataFrame, max_k: int) -> DataFrame:
    """Candidate mention rows joined to their query → the exact per-query
    top-k (query_id, doc_id, dist_m, rank): min distance per (query, doc),
    ranked by (dist_m, doc_id).  ``rank <= max_k`` is the literal Spark
    needs to plan the per-partition ``WindowGroupLimit``."""
    return (
        joined.selectExpr("query_id", "doc_id", "k", f"{_DIST_M} AS dist_m")
        .groupBy("query_id", "doc_id", "k").agg(F.expr("min(dist_m) AS dist_m"))
        .selectExpr("query_id", "doc_id", "dist_m", "k", "row_number() OVER "
                    "(PARTITION BY query_id ORDER BY dist_m, doc_id) AS rank")
        .where(f"rank <= {max_k} AND rank <= k")
        .selectExpr("query_id", "doc_id", "dist_m", "rank")
    )


def _join(probe: DataFrame, cand: DataFrame) -> DataFrame:
    return probe.join(cand, F.expr("cell_id = cand_cell"))


def knn_docs(
    spark: SparkSession,
    mcells: DataFrame,
    queries: list[tuple[int, float, float, int]],
    grid: str = "h3",
    res: int = 5,
    max_r: int = 512,
) -> DataFrame:
    """queries: [(query_id, lat, lon, k)] → (query_id, doc_id, dist_m, rank).

    ``mcells``: mention_cells at (grid, res).  Returns exactly k rows per
    query (fewer only if the corpus has fewer docs); query ids must be
    distinct within a batch.

    The per-cell doc counts (``cell_stats``, collected once per frame)
    bound each query's kth distance on the driver, so the candidate cells
    are provably complete without a probe job; they ship as one Arrow
    local frame (no Python workers), and the result is ONE distributed
    plan.  Ring expansion remains the fallback when the populated cells or
    the candidate set exceed their driver caps.
    """
    seen: set[int] = set()
    for qid, *_ in queries:
        if qid in seen:
            raise ValueError(f"duplicate query_id {qid} in one kNN batch")
        seen.add(qid)
    if not queries:
        return local_frame(spark, _OUT_DDL, [[]] * 4)
    g = get_grid(grid)  # raises on an unknown grid name before it reaches SQL
    s, _ = _frame(res)
    probe = mcells.where(f"grid = '{grid}' AND res = {int(res)}").selectExpr(
        "doc_id", "lat", "lon", "cell_id")
    stats = cell_stats(mcells, grid, res)
    if stats is None:
        # populated-cell list too large for the driver (very deep res at
        # 100 TB): planar ring expansion with the conservative km bound
        return _knn_ring_expansion(
            spark, probe, g, s, queries, res, max_r
        )

    if not len(stats.cells):
        # no mentions at this (grid, res): empty result, correct schema
        # (the grid kernels reject empty id arrays, so bail before geometry)
        return local_frame(spark, _OUT_DDL, [[]] * 4)

    cells, n_arr = stats.cells, stats.n_docs
    mstar, ndocs = stats.mstar, stats.docs
    clat, clon, rad_km = stats.geometry

    # ---- phase 1, DRIVER-SIDE ONLY (r04 VERDICT item 7: this used to be a
    # Spark probe job + collect — the dominant fixed cost of a cold batch):
    # a provable upper bound D on the kth distance from density alone.
    # Sort populated cells by (center distance + circumradius); the first
    # prefix holding ≥ k docs puts k docs within X = that prefix's max
    # (center+radius), so kth-dist ≤ X — no probe query needed.
    # ---- phase 2: provably complete candidate set — every populated cell
    # whose NEAREST point (center distance − circumradius) can be within X
    # (pole/antimeridian safe: pure haversine on cell geometry).
    # cum(prefix) = Σ per-cell distinct counts OVERCOUNTS distinct docs (a
    # doc spanning j cells is counted j times), so "cum ≥ k" alone cannot
    # prove k docs lie within the prefix.  Two sound lower bounds from the
    # spread stats: distinct ≥ cum − (P − D) (the global overcount
    # budget is exactly P − D) and distinct ≥ ceil(cum / M*); the prefix is
    # proven once cum reaches the SMALLER of the two thresholds.
    total_pairs = int(n_arr.sum())
    cand_cells: list[np.ndarray] = []
    n_cand = 0
    for qid, qlat, qlon, k in queries:
        center_d = haversine_np(qlat, qlon, clat, clon)
        hi = center_d + rad_km
        order = np.argsort(hi, kind="stable")
        cum = np.cumsum(n_arr[order])
        mask = np.ones(len(cells), bool)  # default: scan every populated cell
        if len(cells) and ndocs >= k:
            need = min(k + total_pairs - ndocs, (k - 1) * mstar + 1)
            idx = int(np.searchsorted(cum, need))
            if idx < len(cum):
                # +0.5 m slack: dist_m is meter-rounded, so a doc tying at
                # the same rounded dist_m just beyond the raw bound must
                # stay in the candidate set for the doc_id tie-break
                # (ADVICE r02)
                d_km = float(hi[order[idx]]) + 0.0005
                mask = center_d - rad_km <= d_km
        sel = cells[mask]
        n_cand += len(sel)
        if n_cand > MAX_CANDIDATE_ROWS:
            # unprunable dense corpus (or a huge query batch): the literal
            # candidate frame would be a driver-side materialization the
            # rest of the engine avoids — hand off to the ring-expansion
            # path instead of shipping queries×cells rows (VERDICT r05
            # item 4)
            return _knn_ring_expansion(
                spark, probe, g, s, queries, res, max_r
            )
        cand_cells.append(sel)
    max_k = max(k for _, _, _, k in queries)
    return _topk(_join(probe, _candidates(spark, queries, cand_cells)), max_k)


def _knn_ring_expansion(spark, probe, g, s, queries, res, max_r):
    """Ring-doubling fallback when the populated cells or the candidate
    set exceed their driver caps."""
    pending = {qid: (lat, lon, k) for qid, lat, lon, k in queries}
    seed = {
        qid: int(g.cell(np.array([lat]), np.array([lon]), res)[0])
        for qid, lat, lon, k in queries
    }
    radius = dict.fromkeys(seed, 2)
    verified: dict[int, int | None] = {}  # qid → radius (None = exact scan)
    while pending:
        batch = [(qid, *v) for qid, v in pending.items()]
        cand = _candidates(spark, batch, [
            g.disk(seed[qid], radius[qid]) for qid in pending])
        max_k = max(k for _, _, k in pending.values())
        rows = _topk(_join(probe, cand), max_k).collect()  # k-bounded
        by_q: dict[int, list] = {}
        for row in rows:
            by_q.setdefault(row.query_id, []).append(row)
        for qid in list(pending):
            qlat, _qlon, k = pending[qid]
            got = sorted(by_q.get(qid, []), key=lambda x: x.rank)
            bound_km = _km_lower_bound(qlat, (radius[qid] - 0.5) * s * SQRT3 / 2.0)
            kth_km = got[-1].dist_m / 1000.0 if len(got) >= k else float("inf")
            if len(got) >= k and kth_km < bound_km:
                verified[qid] = radius[qid]
                del pending[qid]
            elif radius[qid] >= max_r:
                verified[qid] = None  # bounded-corpus exact fallback
                del pending[qid]
            else:
                radius[qid] = min(radius[qid] * 2, max_r)

    # an exact-scan query keeps one dimension row (its seed cell) and is
    # crossed with every mention; the seed cell's rows it also joins are
    # duplicates that the per-doc min absorbs
    cand = _candidates(spark, queries, [
        g.disk(seed[qid], verified[qid]) if verified[qid] is not None
        else np.array([seed[qid]], np.int64) for qid, _, _, _ in queries])
    joined = _join(probe, cand)
    exact = [str(int(qid)) for qid, r in verified.items() if r is None]
    if exact:
        joined = joined.unionByName(probe.crossJoin(
            cand.where(f"query_id IN ({', '.join(exact)})")))
    return _topk(joined, max(k for _, _, _, k in queries))


def knn_oracle_sql(queries: list[tuple[int, float, float, int]]) -> str:
    """Brute-force DuckDB twin: full haversine sort per query."""
    from ..sources.gazetteer import mentions_subquery_sql

    parts = []
    for qid, qlat, qlon, k in queries:
        d = dist_m_sql(haversine_sql(repr(qlat), repr(qlon), "m.lat", "m.lon"))
        parts.append(f"""
SELECT * FROM (
  SELECT {qid} AS query_id, doc_id, dist_m,
         CAST(ROW_NUMBER() OVER (ORDER BY dist_m ASC, doc_id ASC) AS INT) AS rank
  FROM (
    SELECT m.doc_id, MIN({d}) AS dist_m
    FROM {mentions_subquery_sql()} m
    GROUP BY m.doc_id
  )
) WHERE rank <= {k}""")
    return "\nUNION ALL\n".join(parts)
