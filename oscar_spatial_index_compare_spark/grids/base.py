"""Grid interface — the engine's SpatialGrid analog (SURVEY §2.2, G1-G12).

Reference: the 12-method ``SpatialGrid`` interface
(``include/hic/H3SpatialGrid.h:14-30``) with H3/HTM/S2 implementations and a
name-keyed registry (``src/SpatialGridInitializer.cpp:9-19``).

Spark-first split of responsibilities:
  * **Vectorized numpy kernels** (this interface): point→cell, center, bbox,
    area, disk, covering.  Exposed to Spark as Arrow-batched pandas UDFs
    (functions/udfs.py) — never per-row Python (north_rule).
  * **Native column expressions** where the id math is pure bit arithmetic
    (S2 parent/level/isAncestor/range, zxy everything): these stay inside
    whole-stage codegen, no Python round-trip at all.  Each grid may override
    ``col_*`` hooks to return a pyspark Column; ``None`` means "use the UDF".

Level convention: ``res`` is the grid-native level (0 = coarsest).  The
reference inserts a synthetic root and shifts by one
(``include/hic/H3SpatialGrid.h:6``); our HCQR rollup reproduces that by
rolling up to res 0 and treating the grid root as level -1 when reporting
tree depth (operators/hcqr.py).
"""

from __future__ import annotations

import numpy as np

np.seterr(divide="ignore", invalid="ignore")  # branchless formulas guard via masks


def bbox_from_corners(c: np.ndarray) -> np.ndarray:
    """(n,k,2) corner lat/lons → (n,4) [min_lat, max_lat, min_lon, max_lon],
    wrap-aware: a cell straddling the antimeridian gets min_lon > max_lon
    (the wrap representation), instead of a naive min/max box that excludes
    its own members (caught by tests/test_bbox_caches.py)."""
    lat_min, lat_max = c[:, :, 0].min(1), c[:, :, 0].max(1)
    lon = np.where(c[:, :, 1] >= 180.0, c[:, :, 1] - 360.0, c[:, :, 1])
    lon_min, lon_max = lon.min(1), lon.max(1)
    wrap = (lon_max - lon_min) > 180.0
    if wrap.any():
        lw = np.where(lon < 0.0, lon + 360.0, lon)
        wmin, wmax = lw.min(1), lw.max(1)
        to180 = lambda x: np.where(x > 180.0, x - 360.0, x)  # noqa: E731
        lon_min = np.where(wrap, to180(wmin), lon_min)
        lon_max = np.where(wrap, to180(wmax), lon_max)
    return np.stack([lat_min, lat_max, lon_min, lon_max], axis=1)


class Grid:
    name: str = "base"
    max_level: int = 30

    # --- numpy kernels (all accept/return np arrays; vectorized) ---------
    def cell(self, lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
        """G1 point → cell id (uint64-compatible int64)."""
        raise NotImplementedError

    def level(self, ids: np.ndarray) -> np.ndarray:
        """G6."""
        raise NotImplementedError

    def parent(self, ids: np.ndarray, res: int | None = None) -> np.ndarray:
        """G2 parent at ``res`` (default: one level up)."""
        raise NotImplementedError

    def children(self, ids: np.ndarray) -> np.ndarray:
        """G3/G4: all children (one level down), shape (n, k) padded with -1."""
        raise NotImplementedError

    def is_ancestor(self, anc: np.ndarray, desc: np.ndarray) -> np.ndarray:
        """G7."""
        raise NotImplementedError

    def child_position(self, ids: np.ndarray) -> np.ndarray:
        """G5 childPosition: each cell's index within its parent's child
        list (0..branch-1), i.e. the inverse of ``children()`` column order.
        Generic implementation via parent→children; grids may override with
        bit math.  Ids must share one level (parent() contract)."""
        ids = np.asarray(ids, np.int64)
        ch = self.children(self.parent(ids))
        match = ch == ids[:, None]
        assert match.any(axis=1).all(), "id not among its parent's children"
        col = np.argmax(match, axis=1)
        # rank among VALID children (children() pads with -1, e.g. hex disk)
        ranks = np.cumsum(ch >= 0, axis=1) - 1
        return np.take_along_axis(ranks, col[:, None], axis=1).ravel()

    def center(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(lat, lon) of cell centers."""
        raise NotImplementedError

    def bbox(self, ids: np.ndarray) -> np.ndarray:
        """G9: (n,4) [min_lat, max_lat, min_lon, max_lon]."""
        raise NotImplementedError

    def area_km2(self, ids: np.ndarray) -> np.ndarray:
        """G8 (average/approx area, documented per grid)."""
        raise NotImplementedError

    def disk(self, cell: int, k: int) -> np.ndarray:
        """Cells within k rings of ``cell`` (same res) — kNN expansion (X2)."""
        raise NotImplementedError

    def covering(self, poly: np.ndarray, res: int, populated: np.ndarray | None = None
                 ) -> tuple[np.ndarray, np.ndarray]:
        """X1 polyfill: polygon (n,2) [lat,lon] → (full_cells, boundary_cells).

        ``full_cells`` are provably fully inside (safe to skip exact PIP);
        ``boundary_cells`` need exact refinement.  Conservative: never drops
        a cell that intersects the polygon.

        ``populated``: sorted res-level cell ids (``CellStats.cells``).
        When given, the covering keeps only cells holding one of them: a
        hierarchical descent drops a cell before any geometry test once
        its descendant range (``res_bounds``) is empty, and a flat scan
        classifies only populated candidates.  The kept cells are exactly
        the unpruned covering's cells that hold a populated cell.

        A polygon with fewer than 3 vertices has no interior under the
        strict PIP: both arrays come back empty.
        """
        poly = np.asarray(poly, np.float64).reshape(-1, 2)
        if len(poly) < 3 or (populated is not None and not len(populated)):
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return self._covering(poly, res, populated)

    def _covering(self, poly: np.ndarray, res: int, populated: np.ndarray | None):
        raise NotImplementedError

    def res_bounds(self, ids: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
        """(lo, hi) per cell: a res-level cell descends from (or is)
        ``ids[i]`` iff its id lies in [lo[i], hi[i]].  Default: grids whose
        coverings hold res-level cells only."""
        ids = np.asarray(ids, np.int64)
        assert (self.level(ids) == res).all(), "res_bounds: cells below res"
        return ids, ids

    # --- native Spark column hooks (None → use pandas UDF) ----------------
    def col_cell(self, lat_col, lon_col, res: int):
        return None

    def col_level(self, id_col):
        return None

    def col_parent(self, id_col, res: int, from_res: int | None = None):
        return None

    def col_range(self, id_col, res: int):
        """(range_min, range_max) Columns covering all descendants, or None."""
        return None


_REGISTRY: dict[str, Grid] = {}


def register(grid: Grid) -> Grid:
    _REGISTRY[grid.name] = grid
    return grid


def _populate() -> None:
    # import-on-demand to avoid cycles; idempotent
    from . import hex7, htm, s2, zxy  # noqa: F401


def get_grid(name: str) -> Grid:
    if name not in _REGISTRY:
        _populate()
    return _REGISTRY[name]


# ---- populated-cell ranges (coverings pruned to CellStats.cells) ----------

def holds_populated(lo: np.ndarray, hi: np.ndarray, populated: np.ndarray) -> np.ndarray:
    """Mask of the [lo, hi] ranges holding at least one id of the sorted
    ``populated``."""
    return (np.searchsorted(populated, lo, "left")
            < np.searchsorted(populated, hi, "right"))


def populated_in(lo: np.ndarray, hi: np.ndarray, populated: np.ndarray) -> np.ndarray:
    """The ids of the sorted ``populated`` inside any [lo, hi] range, sorted."""
    edge = np.zeros(len(populated) + 1, np.int64)
    np.add.at(edge, np.searchsorted(populated, lo, "left"), 1)
    np.add.at(edge, np.searchsorted(populated, hi, "right"), -1)
    return populated[np.cumsum(edge[:-1]) > 0]


# ---- shared planar polygon helpers (used by coverings & PIP refinement) ---

def point_in_poly(lat: np.ndarray, lon: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Vectorized ray-casting PIP in lat/lon plane.

    ``poly``: (m,2) [lat, lon], not closed.  Matches the SQL oracle formula
    (functions/geo.py:pip_sql) operation-for-operation so Spark/DuckDB/numpy
    agree bit-for-bit on non-degenerate inputs.  Mirrors the reference's
    exact point→cell refinement role (``src/OscarSgIndex.cpp:106-111``).
    """
    px, py = np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)
    x1, y1 = poly[:, 1], poly[:, 0]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    # (n_points, n_edges)
    cond = (y1[None, :] > py[:, None]) != (y2[None, :] > py[:, None])
    xin = (x2 - x1)[None, :] * (py[:, None] - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
    with np.errstate(invalid="ignore"):
        cross = cond & (px[:, None] < xin)
    return (cross.sum(axis=1) % 2).astype(bool)


def dist_point_to_segments(px, py, x1, y1, x2, y2):
    """Min distance from each point to each segment set (planar). (n,) result."""
    dx, dy = x2 - x1, y2 - y1
    L2 = dx * dx + dy * dy
    L2 = np.where(L2 == 0, 1e-300, L2)
    t = ((px[:, None] - x1) * dx + (py[:, None] - y1) * dy) / L2
    t = np.clip(t, 0.0, 1.0)
    cx = x1 + t * dx
    cy = y1 + t * dy
    d2 = (px[:, None] - cx) ** 2 + (py[:, None] - cy) ** 2
    return np.sqrt(d2.min(axis=1))


def classify_cells(corners: np.ndarray, clat: np.ndarray, clon: np.ndarray,
                   poly: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(full, disjoint) masks of cells given their (n,k,2) corner lat/lons
    and centers: planar lat/lon tests padded by each cell's bbox diagonal.
    ``full``: every corner and the center inside, the center farther than
    the diagonal from every edge.  ``disjoint``: no corner or center
    inside, the center beyond the pad, and no polygon vertex in the padded
    bbox.  The descent coverings (s2, htm) share it."""
    ex, ey = poly[:, 1], poly[:, 0]
    ex2, ey2 = np.roll(ex, -1), np.roll(ey, -1)
    lo_lat, hi_lat = corners[:, :, 0].min(1), corners[:, :, 0].max(1)
    lo_lon, hi_lon = corners[:, :, 1].min(1), corners[:, :, 1].max(1)
    pad = np.sqrt((hi_lat - lo_lat) ** 2 + (hi_lon - lo_lon) ** 2)
    inside = point_in_poly(
        corners[:, :, 0].ravel(), corners[:, :, 1].ravel(), poly
    ).reshape(len(corners), -1)
    cin = point_in_poly(clat, clon, poly)
    bd_c = dist_point_to_segments(clon, clat, ex, ey, ex2, ey2)
    near_edge = (
        (ex[None, :] >= (lo_lon - pad)[:, None]) & (ex[None, :] <= (hi_lon + pad)[:, None])
        & (ey[None, :] >= (lo_lat - pad)[:, None]) & (ey[None, :] <= (hi_lat + pad)[:, None])
    ).any(1)
    full = inside.all(1) & cin & (bd_c > pad)
    disjoint = (~inside.any(1)) & (~cin) & (bd_c > pad) & ~near_edge
    return full, disjoint
