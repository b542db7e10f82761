"""Per-cell metadata of one ``mention_cells`` frame (SURVEY S7).

The reference loads its per-cell metadata (CellInfo) once, into one object,
when it opens an index (``energize()``, ``apps/main.cpp:111-121``).  Here
the same numbers come from ONE Spark action over the frame:

  * the sorted populated cell ids — region queries prune their coverings
    to them (the reference intersects a covering with its cell list,
    ``src/OscarSearchSgIndex.cpp:117-130``);
  * per-cell mention rows — an exact driver-side bound on the rows a
    boundary cell sends to PIP, which picks the PIP form;
  * per-cell distinct docs and the spread (M*, D) — the kNN density bound.

The result is stored on the frame object itself, so it lives and dies with
the frame it describes: a dropped frame takes its stats with it, and a new
frame can never see another frame's numbers.  ``Engine.context`` loads it
when it opens a catalog context; any other frame loads on first use.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import haversine_np
from ..grids.base import get_grid

# populated-cell lists above this size stay distributed: cell_stats returns
# None and region queries take per-level ancestor equi-joins, kNN takes ring
# expansion.  A full s2 res-10 index (6·4¹⁰ ≈ 6.3M cells) is above it; the
# populated part of a real corpus is usually far smaller.
MAX_DRIVER_CELLS = 4_000_000

_MEMO = "_cell_stats"  # attribute of the mcells frame holding {(grid, res): stats}


@dataclass(frozen=True, eq=False)
class CellStats:
    """Populated cells of one (grid, res) with aligned per-cell counts."""

    grid: str
    cells: np.ndarray   # sorted populated cell ids
    n_rows: np.ndarray  # mention rows per cell
    n_docs: np.ndarray  # distinct docs per cell
    mstar: int          # M*: most distinct cells any one doc spans
    docs: int           # D: distinct docs with a mention

    def row_bound(self, cells: np.ndarray) -> int:
        """Exact Σ mention rows over ``cells`` (unpopulated ids add 0)."""
        if not len(cells) or not len(self.cells):
            return 0
        idx = np.clip(np.searchsorted(self.cells, cells), 0, len(self.cells) - 1)
        return int(self.n_rows[idx[self.cells[idx] == cells]].sum())

    @cached_property
    def geometry(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(center lat, center lon, circumradius km) per populated cell;
        the radius is the max haversine from the center to a bbox corner.
        Needs ≥1 populated cell (the grid kernels reject empty arrays)."""
        g = get_grid(self.grid)
        clat, clon = g.center(self.cells)
        bb = g.bbox(self.cells)  # (n, 4): min_lat, max_lat, min_lon, max_lon
        rad_km = np.zeros(len(self.cells))
        for la, lo in ((0, 2), (0, 3), (1, 2), (1, 3)):
            rad_km = np.maximum(rad_km, haversine_np(clat, clon, bb[:, la], bb[:, lo]))
        return clat, clon, rad_km


def cell_stats(mcells: DataFrame, grid: str, res: int) -> CellStats | None:
    """Stats of ``mcells`` at (grid, res), or None above MAX_DRIVER_CELLS.

    Computed once per frame and (grid, res).  Per-cell counts OVERCOUNT docs
    whose mentions span several cells, so the kNN bound also needs M* and D
    to turn a cumulative per-cell sum into a provable lower bound on
    distinct docs.  Both branches are direct aggregations (distinct counts
    reduce map-side), unioned into one collect: nothing doc-sized reaches
    the driver."""
    memo = mcells.__dict__.setdefault(_MEMO, {})
    if (grid, res) not in memo:
        memo[(grid, res)] = _collect(mcells, grid, res)
    return memo[(grid, res)]


def _collect(mcells: DataFrame, grid: str, res: int) -> CellStats | None:
    probe = mcells.where((F.col("grid") == grid) & (F.col("res") == res))
    per_cell = (
        probe.groupBy("cell_id")
        .agg(F.count("*").alias("a"), F.count_distinct("doc_id").alias("b"))
        .select(F.lit(0).alias("kind"), "cell_id", "a", "b")
        .limit(MAX_DRIVER_CELLS + 1)
    )
    spread = (
        probe.groupBy("doc_id").agg(F.count_distinct("cell_id").alias("nc"))
        .agg(F.max("nc").alias("a"), F.count("*").alias("b"))
        .select(F.lit(1).alias("kind"), F.lit(0).cast("long").alias("cell_id"),
                "a", "b")
    )
    rows = per_cell.unionByName(spread).collect()
    cell_rows = [r for r in rows if r.kind == 0]
    if len(cell_rows) > MAX_DRIVER_CELLS:
        return None
    srow = next(r for r in rows if r.kind == 1)
    cells = np.array([r.cell_id for r in cell_rows], np.int64)
    order = np.argsort(cells)
    return CellStats(
        grid=grid,
        cells=cells[order],
        n_rows=np.array([r.a for r in cell_rows], np.int64)[order],
        n_docs=np.array([r.b for r in cell_rows], np.int64)[order],
        mstar=int(srow.a or 0),
        docs=int(srow.b or 0),
    )
