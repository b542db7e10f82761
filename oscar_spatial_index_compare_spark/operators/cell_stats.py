"""Per-cell metadata of one ``mention_cells`` frame (SURVEY S7).

The reference loads its per-cell metadata (CellInfo) once, into one object,
when it opens an index (``energize()``, ``apps/main.cpp:111-121``).  Here
the same numbers are one small frame over ``mention_cells``
(``stats_frame``):

  * the sorted populated cell ids — region queries prune their coverings
    to them (the reference intersects a covering with its cell list,
    ``src/OscarSearchSgIndex.cpp:117-130``);
  * per-cell mention rows — an exact driver-side bound on the rows a
    boundary cell sends to PIP, which picks the PIP form;
  * per-cell distinct docs and the spread (M*, D) — the kNN density bound.

A catalog stores it as the ``cell_stats_{grid}_{res}`` table of its build
DAG, which ``Engine.context`` reads on the driver at open (no Spark job);
any other frame collects it through Arrow on first use (one action).

The result is stored on the frame object itself, so it lives and dies with
the frame it describes: a dropped frame takes its stats with it, and a new
frame can never see another frame's numbers.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import haversine_np
from ..grids.base import get_grid
from ..session import collect_arrow

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


def stats_frame(mcells: DataFrame, grid: str, res: int) -> DataFrame:
    """(kind, cell_id, a, b): per populated cell a kind-0 row (a = mention
    rows, b = distinct docs), and one kind-1 row (a = M*, b = D).  Per-cell
    counts OVERCOUNT docs whose mentions span several cells, so the kNN
    bound needs M* and D to turn a per-cell sum into a lower bound on
    distinct docs.  Nothing doc-sized reaches the driver."""
    probe = mcells.where(f"grid = '{grid}' AND res = {int(res)}")
    per_cell = probe.groupBy("cell_id").agg(
        F.expr("count(*) AS a"), F.expr("count(DISTINCT doc_id) AS b"))
    spread = (
        probe.groupBy("doc_id").agg(F.expr("count(DISTINCT cell_id) AS nc"))
        .selectExpr("1 AS kind", "CAST(0 AS BIGINT) AS cell_id",
                    "max(nc) AS a", "count(*) AS b")
    )
    return per_cell.selectExpr("0 AS kind", "cell_id", "a", "b").unionByName(spread)


def cell_stats(mcells: DataFrame, grid: str, res: int) -> CellStats | None:
    """Stats of ``mcells`` at (grid, res), or None above MAX_DRIVER_CELLS:
    the loaded ones, else ``stats_frame`` collected once through Arrow."""
    memo = mcells.__dict__.get(_MEMO, {})
    if (grid, res) in memo:
        return memo[(grid, res)]
    return load_stats(mcells, grid, res, lambda cap: collect_arrow(
        stats_frame(mcells, grid, res), cap))


def load_stats(mcells: DataFrame, grid: str, res: int,
               fetch: Callable[[int], pa.Table | None]) -> CellStats | None:
    """Attach to ``mcells`` the (grid, res) stats that ``fetch(cap)`` reads:
    its ``stats_frame`` table, or None when that has more than ``cap`` =
    MAX_DRIVER_CELLS + 1 rows."""
    t = fetch(MAX_DRIVER_CELLS + 1)
    stats = None
    if t is not None:
        cell = t.column("kind").to_numpy() == 0
        # M* (a max over no docs) is NULL for a zero-mention frame: read as 0
        cells, a, b = (pc.fill_null(t.column(c), 0).to_numpy().astype(np.int64)
                       for c in ("cell_id", "a", "b"))
        order = np.argsort(cells[cell])
        stats = CellStats(grid=grid, cells=cells[cell][order],
                          n_rows=a[cell][order], n_docs=b[cell][order],
                          mstar=int(a[~cell][0]), docs=int(b[~cell][0]))
    mcells.__dict__.setdefault(_MEMO, {})[(grid, res)] = stats
    return stats
