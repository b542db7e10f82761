"""kNN document search via cell-ring expansion (SURVEY X2).

The reference stubs NEAR queries (``src/OscarSearchWithSg.cpp:167-181``);
the north star mandates kNN via cell-ring expansion with a per-partition
bounded heap.

Algorithm (per query point, batched across queries):
  1. seed = hex cell of the query point at ``res``;
  2. candidate cells = ``grid_disk(seed, r)`` with r doubling 2,4,8,…;
     candidates are broadcast and hash-joined against ``mention_cells`` —
     the big side never shuffles;
  3. per-partition bounded top-k (mapInPandas + np.argpartition — the
     bounded heap), then global top-k;
  4. termination proof: any mention outside disk(r) is at planar degree
     distance ≥ (r-0.5)·s·√3/2 from the query; ``_km_lower_bound`` converts
     that to a great-circle km bound that accounts for longitude shrink at
     high latitude.  Expansion stops when kth-dist < bound (else doubles).

Doc distance = min over its mentions; k docs per query, ties broken by
doc_id; distances quantized to integer meters for cross-engine equality
(functions/geo.dist_m_col — same formula as the DuckDB oracle).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.geo import (
    dist_m_col,
    dist_m_sql,
    haversine_col,
    haversine_np,
    haversine_sql,
)
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


def _partial_topk(per_doc: DataFrame, max_k: int) -> DataFrame:
    """Per-partition bounded heap (north_star): keep only the max_k best
    (dist, doc) rows per query within each partition before the global
    shuffle — mapInPandas + np.argpartition, Arrow-batched."""
    schema = per_doc.schema

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            parts = []
            for _, grp in pdf.groupby("query_id", sort=False):
                if len(grp) > max_k:
                    # lexsort keeps the (dist, doc_id) tie-break exact
                    order = np.lexsort(
                        (grp["doc_id"].to_numpy(), grp["dist_m"].to_numpy())
                    )[:max_k]
                    grp = grp.iloc[np.sort(order)]
                parts.append(grp)
            yield pd.concat(parts, ignore_index=True)

    return per_doc.mapInPandas(fn, schema)


# hard cap on the Σ-per-query candidate-cell literal frame built on the
# driver; beyond it knn_docs falls back to ring expansion instead of
# shipping a queries×populated-cells broadcast (VERDICT r05 item 4)
MAX_CANDIDATE_ROWS = 5_000_000

# below this many candidate (doc, cell) pairs (exact bound from the cached
# per-cell counts) the per-partition Python bounded heap is pure overhead —
# the window's global top-k alone handles the rows comfortably
PARTIAL_TOPK_MIN_ROWS = 2_000_000

_QUERY_DDL = "query_id long, qlat double, qlon double, k int"
_CAND_DDL = "query_id long, cand_cell long"


def _broadcast_frame(spark: SparkSession, ddl: str, rows) -> DataFrame:
    """Non-empty [(…)] rows → a broadcast local frame with ``ddl`` types."""
    return F.broadcast(local_frame(spark, ddl, zip(*rows)))


def _per_doc_topk(j: DataFrame, max_k: int,
                  use_partial: bool = True) -> DataFrame:
    """(joined candidate rows with qlat/qlon/k) → exact per-query top-k:
    min-distance per (query, doc), optional per-partition bounded heap,
    global row_number window with the (dist, doc_id) tie-break."""
    j = j.withColumn(
        "dist_m",
        dist_m_col(
            haversine_col(F.col("qlat"), F.col("qlon"), F.col("lat"), F.col("lon"))
        ),
    )
    per_doc = j.groupBy("query_id", "doc_id", "k").agg(F.min("dist_m").alias("dist_m"))
    if use_partial:
        per_doc = _partial_topk(per_doc, max_k)  # bounded heap per partition
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_m").asc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("k"))
        .select("query_id", "doc_id", "dist_m", "rank", "k")
    )


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
    query (fewer only if the corpus has fewer docs).

    The per-cell doc counts (``cell_stats``, collected once per frame)
    bound each query's kth distance on the driver, so the candidate cells
    are provably complete without a probe job; the queries and candidates
    ship as Arrow local frames (no Python workers), and the result is ONE
    distributed plan.  Ring expansion remains the fallback when the
    populated cells or the candidate set exceed their driver caps.
    """
    g = get_grid(grid)
    s, _ = _frame(res)
    probe = mcells.where((F.col("grid") == grid) & (F.col("res") == res)).select(
        "doc_id", "lat", "lon", "cell_id"
    )
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
        return local_frame(
            spark, "query_id long, doc_id long, dist_m long, rank int",
            [[]] * 4)

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
    qdf_all = _broadcast_frame(spark, _QUERY_DDL, queries)
    max_k = max(k for _, _, _, k in queries)
    # cum(prefix) = Σ per-cell distinct counts OVERCOUNTS distinct docs (a
    # doc spanning j cells is counted j times), so "cum ≥ k" alone cannot
    # prove k docs lie within the prefix.  Two sound lower bounds from the
    # spread stats: distinct ≥ cum − (P − D) (the global overcount
    # budget is exactly P − D) and distinct ≥ ceil(cum / M*); the prefix is
    # proven once cum reaches the SMALLER of the two thresholds.
    total_pairs = int(n_arr.sum())
    qids_parts: list[np.ndarray] = []
    cells_parts: list[np.ndarray] = []
    n_cand = 0
    est_rows = 0  # Σ per-query candidate (doc, cell) pairs, from counts
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
        est_rows += int(n_arr[mask].sum())
        if n_cand > MAX_CANDIDATE_ROWS:
            # unprunable dense corpus (or a huge query batch): the literal
            # candidate frame would be a driver-side materialization the
            # rest of the engine avoids — hand off to the ring-expansion
            # path instead of shipping queries×cells rows (VERDICT r05
            # item 4)
            return _knn_ring_expansion(
                spark, probe, g, s, queries, res, max_r
            )
        qids_parts.append(np.full(len(sel), qid, np.int64))
        cells_parts.append(sel)
    cand2 = F.broadcast(local_frame(spark, _CAND_DDL, [
        np.concatenate(qids_parts), np.concatenate(cells_parts)]))
    j2 = probe.join(cand2, probe.cell_id == cand2.cand_cell).join(qdf_all, "query_id")
    # the per-partition bounded heap (mapInPandas) only pays for itself
    # when the post-aggregation row set is large; the cached counts give an
    # exact upper bound on per-doc rows (Σ candidate-cell distinct counts),
    # so small batches skip the Python boundary entirely — the window alone
    # is exact (guide §4: eliminate JVM↔Python when built-ins suffice)
    return _per_doc_topk(j2, max_k,
                        use_partial=est_rows > PARTIAL_TOPK_MIN_ROWS).drop("k")


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
        cand_rows = [
            (qid, int(c))
            for qid in pending
            for c in g.disk(seed[qid], radius[qid]).tolist()
        ]
        cand = _broadcast_frame(spark, _CAND_DDL, cand_rows)
        qdf = _broadcast_frame(
            spark, _QUERY_DDL, [(qid, *v) for qid, v in pending.items()])
        j = probe.join(cand, probe.cell_id == cand.cand_cell).join(qdf, "query_id")
        max_k = max(k for _, _, k in pending.values())
        rows = _per_doc_topk(j, max_k).collect()  # k-bounded
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

    qdf_all = _broadcast_frame(spark, _QUERY_DDL, queries)
    parts = []
    ring_rows = [
        (qid, int(c))
        for qid, r in verified.items()
        if r is not None
        for c in g.disk(seed[qid], r).tolist()
    ]
    if ring_rows:
        cand = _broadcast_frame(spark, _CAND_DDL, ring_rows)
        parts.append(
            probe.join(cand, probe.cell_id == cand.cand_cell)
            .join(qdf_all, "query_id")
            .select("query_id", "qlat", "qlon", "k", "doc_id", "lat", "lon")
        )
    exact_qids = [qid for qid, r in verified.items() if r is None]
    if exact_qids:
        parts.append(
            probe.crossJoin(
                qdf_all.where(F.col("query_id").isin(exact_qids))
            ).select("query_id", "qlat", "qlon", "k", "doc_id", "lat", "lon")
        )
    j = parts[0]
    for p in parts[1:]:
        j = j.unionByName(p)
    max_k = max(k for _, _, _, k in queries)
    return _per_doc_topk(j, max_k).drop("k")


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
