"""Web-Mercator quadtree grid (z/x/y slippy tiles, z0-z15+) — SURVEY X3.

Plays the role of the reference's "simple lat/lon grid" comparison baseline
and powers raster↔vector tile aggregation.  Everything here is *pure column
math* — point→tile, parent, level, ancestor tests all run JVM-side inside
whole-stage codegen (``col_*`` hooks below); the numpy kernels exist for the
driver-side covering and for parity tests.  The identical formula is emitted
as ANSI SQL for the DuckDB oracle (``cell_sql``), which is why this grid backs
the oracle-checked cell-assignment queries.

Id layout: ``(z << 56) | (x << 28) | y`` — z ≤ 28, x/y < 2^28.
Mercator clamps |lat| ≤ 85.05113; polar docs land in the edge tile row
(standard slippy-map behavior; the s2/hex grids cover poles properly).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .base import Grid, dist_point_to_segments, holds_populated, point_in_poly, register

MAX_MERC_LAT = 85.05112877980659


def _xy(lat: np.ndarray, lon: np.ndarray, z: int):
    n = np.int64(1) << z
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_MERC_LAT, MAX_MERC_LAT)
    lon = np.asarray(lon, dtype=np.float64)
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    phi = np.radians(lat)
    y = np.floor((1.0 - np.log(np.tan(phi) + 1.0 / np.cos(phi)) / np.pi) / 2.0 * n)
    y = y.astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


class ZxyGrid(Grid):
    name = "zxy"
    max_level = 28

    @staticmethod
    def encode(z, x, y):
        return (np.int64(z) << 56) | (np.asarray(x, np.int64) << 28) | np.asarray(y, np.int64)

    @staticmethod
    def decode(ids: np.ndarray):
        ids = np.asarray(ids, dtype=np.int64)
        return ids >> 56, (ids >> 28) & ((1 << 28) - 1), ids & ((1 << 28) - 1)

    def cell(self, lat, lon, res: int):
        x, y = _xy(lat, lon, res)
        return self.encode(res, x, y)

    def level(self, ids):
        return np.asarray(ids, np.int64) >> 56

    def parent(self, ids, res: int | None = None):
        z, x, y = self.decode(ids)
        pres = (z - 1) if res is None else np.full_like(z, res)
        d = z - pres
        return (pres << 56) | ((x >> d) << 28) | (y >> d)

    def children(self, ids):
        z, x, y = self.decode(np.asarray(ids, np.int64))
        out = np.empty((len(z), 4), dtype=np.int64)
        for k, (dx, dy) in enumerate([(0, 0), (0, 1), (1, 0), (1, 1)]):
            out[:, k] = self.encode(z + 1, (x << 1) + dx, (y << 1) + dy)
        return out

    def is_ancestor(self, anc, desc):
        za, xa, ya = self.decode(anc)
        zd, xd, yd = self.decode(desc)
        d = zd - za
        return (d > 0) & ((xd >> d) == xa) & ((yd >> d) == ya)

    def _bounds(self, ids):
        z, x, y = self.decode(ids)
        n = (np.int64(1) << z).astype(np.float64)
        lon0 = x / n * 360.0 - 180.0
        lon1 = (x + 1) / n * 360.0 - 180.0
        lat0 = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * (y + 1) / n))))
        lat1 = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * y / n))))
        return lat0, lat1, lon0, lon1  # min_lat, max_lat, min_lon, max_lon

    def center(self, ids):
        lat0, lat1, lon0, lon1 = self._bounds(ids)
        return (lat0 + lat1) / 2.0, (lon0 + lon1) / 2.0

    def bbox(self, ids):
        return np.stack(self._bounds(ids), axis=1)

    def area_km2(self, ids):
        lat0, lat1, lon0, lon1 = self._bounds(ids)
        R = 6371.0088
        return (
            np.radians(lon1 - lon0)
            * (np.sin(np.radians(lat1)) - np.sin(np.radians(lat0)))
            * R * R
        )

    def disk(self, cell: int, k: int):
        z, x, y = self.decode(np.asarray([cell], np.int64))
        z, x, y = int(z[0]), int(x[0]), int(y[0])
        n = 1 << z
        xs, ys = np.meshgrid(np.arange(x - k, x + k + 1), np.arange(y - k, y + k + 1))
        xs = np.mod(xs.ravel(), n)  # wrap antimeridian
        ys = ys.ravel()
        keep = (ys >= 0) & (ys < n)
        return np.unique(self.encode(z, xs[keep], ys[keep]))

    def _covering(self, poly: np.ndarray, res: int, populated):
        lat_min, lat_max = poly[:, 0].min(), poly[:, 0].max()
        lon_min, lon_max = poly[:, 1].min(), poly[:, 1].max()
        x0, y1 = _xy(np.array([lat_min]), np.array([lon_min]), res)
        x1, y0 = _xy(np.array([lat_max]), np.array([lon_max]), res)
        xs = np.arange(int(x0[0]), int(x1[0]) + 1)
        ys = np.arange(int(y0[0]), int(y1[0]) + 1)
        gx, gy = np.meshgrid(xs, ys)
        ids = self.encode(res, gx.ravel(), gy.ravel())
        if populated is not None:
            ids = ids[holds_populated(ids, ids, populated)]
        lat0, lat1, lon0, lon1 = self._bounds(ids)
        corners_lat = np.stack([lat0, lat0, lat1, lat1], axis=1)
        corners_lon = np.stack([lon0, lon1, lon0, lon1], axis=1)
        inside = point_in_poly(corners_lat.ravel(), corners_lon.ravel(), poly).reshape(-1, 4)
        ex, ey = poly[:, 1], poly[:, 0]
        ex2, ey2 = np.roll(ex, -1), np.roll(ey, -1)
        cx, cy = (lon0 + lon1) / 2.0, (lat0 + lat1) / 2.0
        bd = dist_point_to_segments(cx, cy, ex, ey, ex2, ey2)
        diag = np.sqrt((lon1 - lon0) ** 2 + (lat1 - lat0) ** 2)
        full = inside.all(axis=1) & (bd > diag)  # provably interior (margin = diag)
        cand = inside.any(axis=1) | (bd <= diag)
        return ids[full], ids[cand & ~full]

    # ---- native Spark column expressions (whole-stage codegen; no UDF) ----
    def col_cell(self, lat_col: Column, lon_col: Column, res: int) -> Column:
        n = F.lit(1 << res)
        lat = F.greatest(F.lit(-MAX_MERC_LAT), F.least(F.lit(MAX_MERC_LAT), lat_col))
        x = F.floor((lon_col + F.lit(180.0)) / F.lit(360.0) * n).cast("long")
        phi = F.radians(lat)
        y = F.floor(
            (F.lit(1.0) - F.log(F.tan(phi) + F.lit(1.0) / F.cos(phi)) / F.lit(float(np.pi)))
            / F.lit(2.0) * n
        ).cast("long")
        x = F.greatest(F.lit(0).cast("long"), F.least(n.cast("long") - 1, x))
        y = F.greatest(F.lit(0).cast("long"), F.least(n.cast("long") - 1, y))
        return F.lit(res).cast("long") * F.lit(1 << 56).cast("long") + x * F.lit(1 << 28).cast("long") + y

    def col_level(self, id_col: Column) -> Column:
        return F.shiftright(id_col, 56)

    def col_parent(self, id_col: Column, res: int, from_res: int | None = None) -> Column:
        """Parent at ``res``.  When ``from_res`` is known (the common case —
        postings tables are processed one level at a time) the shift is a
        literal and the whole expression stays in codegen; otherwise the
        child level is read from the id at runtime via a SQL expression."""
        x = F.shiftright(id_col, 28).bitwiseAND(F.lit((1 << 28) - 1))
        y = id_col.bitwiseAND(F.lit((1 << 28) - 1))
        if from_res is not None:
            d = from_res - res
            px, py = F.shiftright(x, d), F.shiftright(y, d)
        else:
            d = F.shiftright(id_col, 56) - F.lit(res)
            px = (x / F.pow(F.lit(2.0), d)).cast("long")
            py = (y / F.pow(F.lit(2.0), d)).cast("long")
        return (
            F.lit(res).cast("long") * F.lit(1 << 56).cast("long")
            + px * F.lit(1 << 28).cast("long") + py
        )

    def col_area_km2(self, id_col: Column, res: int) -> Column:
        """area_km2 as a native column expression — EXACTLY the numpy formula
        (spherical rectangle between the tile's Mercator bounds)."""
        R = 6371.0088
        n = float(1 << res)
        x = F.shiftright(id_col, 28).bitwiseAND(F.lit((1 << 28) - 1)).cast("double")
        y = id_col.bitwiseAND(F.lit((1 << 28) - 1)).cast("double")
        lon0 = x / F.lit(n) * F.lit(360.0) - F.lit(180.0)
        lon1 = (x + F.lit(1.0)) / F.lit(n) * F.lit(360.0) - F.lit(180.0)
        pi = F.lit(float(np.pi))
        lat0 = F.degrees(F.atan(F.sinh(pi * (F.lit(1.0) - F.lit(2.0) * (y + F.lit(1.0)) / F.lit(n)))))
        lat1 = F.degrees(F.atan(F.sinh(pi * (F.lit(1.0) - F.lit(2.0) * y / F.lit(n)))))
        return (
            F.radians(lon1 - lon0)
            * (F.sin(F.radians(lat1)) - F.sin(F.radians(lat0)))
            * F.lit(R * R)
        )

    def area_km2_sql(self, cell: str, res: int) -> str:
        """The identical area formula as ANSI SQL (DuckDB oracle twin)."""
        R = 6371.0088
        n = float(1 << res)
        x = f"CAST(((({cell}) >> 28) & {(1 << 28) - 1}) AS DOUBLE)"
        y = f"CAST((({cell}) & {(1 << 28) - 1}) AS DOUBLE)"
        lon0 = f"({x} / {n!r} * 360.0 - 180.0)"
        lon1 = f"(({x} + 1.0) / {n!r} * 360.0 - 180.0)"
        # DuckDB has no SINH — expand to (e^x − e^−x)/2 (identical to libm
        # sinh at the 1e-16 relative level; areas are quantized to 1e-6)
        t0 = f"(PI() * (1.0 - 2.0 * ({y} + 1.0) / {n!r}))"
        t1 = f"(PI() * (1.0 - 2.0 * {y} / {n!r}))"
        lat0 = f"DEGREES(ATAN((EXP({t0}) - EXP(-{t0})) / 2.0))"
        lat1 = f"DEGREES(ATAN((EXP({t1}) - EXP(-{t1})) / 2.0))"
        return (
            f"(RADIANS({lon1} - {lon0})"
            f" * (SIN(RADIANS({lat1})) - SIN(RADIANS({lat0}))) * {R * R!r})"
        )

    def cell_sql(self, lat_expr: str, lon_expr: str, res: int) -> str:
        """The identical formula as ANSI SQL (DuckDB oracle twin of col_cell)."""
        n = 1 << res
        lat = f"GREATEST(-{MAX_MERC_LAT!r}, LEAST({MAX_MERC_LAT!r}, {lat_expr}))"
        x = f"CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}) AS BIGINT)"
        y = (
            f"CAST(FLOOR((1.0 - LN(TAN(RADIANS({lat})) + 1.0/COS(RADIANS({lat})))"
            f" / PI()) / 2.0 * {n}) AS BIGINT)"
        )
        x = f"GREATEST(0, LEAST({n - 1}, {x}))"
        y = f"GREATEST(0, LEAST({n - 1}, {y}))"
        return f"(CAST({res} AS BIGINT) * {1 << 56} + ({x}) * {1 << 28} + ({y}))"


ZXY = register(ZxyGrid())
