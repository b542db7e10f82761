"""Aperture-7 hexagonal DGG — the engine's H3-role grid (SURVEY §2.2).

Reference analog: ``src/H3SpatialGrid.cpp`` (wraps Uber h3lib).  The h3
package is not available in this environment, so this is a from-scratch
hexagonal hierarchical grid with the same *shape* of API and the same
algebraic structure H3 has — hexagonal cells, aperture 7 (each res has 7x the
cells, child lattice rotated by atan(√3/5) ≈ 19.1066°, exactly H3's
inter-resolution rotation), approximate containment parent/child (like H3,
a child's area is not strictly inside its parent), ring/disk neighborhoods
(``grid_disk``) driving kNN expansion.  It is NOT bit-compatible with Uber
H3 ids (impossible to verify here without the lib); the registry
(base.get_grid) lets a bit-compatible implementation slot in when available.

Geometry: equirectangular plane (x=lon°, y=lat°).  Hexagon size at res r is
``S0 / √7^r`` degrees, so a conservative global bound on cell diameter in km
is ``2*s_r*111.32`` — kNN ring expansion uses that bound for its distance
guarantee (operators/knn.py).

Id layout: ``(res << 58) | ((q + 2^28) << 29) | (r + 2^28)`` — axial lattice
coordinates, res ≤ 20.  ``level()`` is a native bit shift; parent/children
need the lattice math (Arrow-batched UDFs), mirroring real H3 where parent
is also not pure bit arithmetic (SURVEY G2).
"""

from __future__ import annotations

import numpy as np

from .base import Grid, dist_point_to_segments, holds_populated, point_in_poly, register

S0 = 24.0  # res-0 hex circumradius, degrees
ALPHA = float(np.arctan(np.sqrt(3.0) / 5.0))  # aperture-7 rotation
SQRT7 = float(np.sqrt(7.0))
SQRT3 = float(np.sqrt(3.0))
_OFF = 1 << 28


def _frame(res: int) -> tuple[float, float]:
    """(hex size s_r, cumulative rotation θ_r)."""
    return S0 / (SQRT7 ** res), ALPHA * res


def _xy_to_axial(x, y, res: int):
    s, th = _frame(res)
    ct, st = np.cos(-th), np.sin(-th)
    rx = x * ct - y * st
    ry = x * st + y * ct
    q = (rx - ry / SQRT3) / s
    r = (2.0 * ry / SQRT3) / s
    return q, r


def _axial_to_xy(q, r, res: int):
    s, th = _frame(res)
    x = s * (q + r / 2.0)
    y = s * (r * SQRT3 / 2.0)
    ct, st = np.cos(th), np.sin(th)
    return x * ct - y * st, x * st + y * ct


def _hex_round(q, r):
    """Cube-rounding of fractional axial coords (standard algorithm)."""
    x, z = q, r
    y = -x - z
    rx, ry, rz = np.round(x), np.round(y), np.round(z)
    dx, dy, dz = np.abs(rx - x), np.abs(ry - y), np.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    return rx.astype(np.int64), rz.astype(np.int64)


class Hex7Grid(Grid):
    name = "h3"  # registry key: the H3-role grid (see module docstring)
    max_level = 20

    @staticmethod
    def encode(res, q, r):
        return (
            (np.asarray(res, np.int64) << 58)
            | ((np.asarray(q, np.int64) + _OFF) << 29)
            | (np.asarray(r, np.int64) + _OFF)
        )

    @staticmethod
    def decode(ids):
        ids = np.asarray(ids, np.int64)
        return ids >> 58, ((ids >> 29) & ((1 << 29) - 1)) - _OFF, (ids & ((1 << 29) - 1)) - _OFF

    def cell(self, lat, lon, res: int):
        q, r = _xy_to_axial(np.asarray(lon, np.float64), np.asarray(lat, np.float64), res)
        qi, ri = _hex_round(q, r)
        return self.encode(np.full_like(qi, res), qi, ri)

    def level(self, ids):
        return np.asarray(ids, np.int64) >> 58

    def center(self, ids):
        res, q, r = self.decode(ids)
        assert len(np.unique(res)) <= 1, "center() expects single-res batches"
        if len(ids) == 0:
            return np.empty(0), np.empty(0)
        x, y = _axial_to_xy(q.astype(np.float64), r.astype(np.float64), int(res[0]))
        return y, x  # lat, lon

    def _parent1(self, ids, cur: int):
        """Single-step parent of same-res ids."""
        _, q, r = self.decode(ids)
        x, y = _axial_to_xy(q.astype(np.float64), r.astype(np.float64), cur)
        return self.cell(y, x, cur - 1)

    def parent(self, ids, res: int | None = None):
        """Parent at ``res`` via chained single steps (so parent(parent(c))
        == parent(c, l-2) — the hierarchy must be a tree for HCQR rollups)."""
        ids = np.atleast_1d(np.asarray(ids, np.int64))
        lvl = self.level(ids)
        out = ids.copy()
        for cur in sorted(np.unique(lvl).tolist(), reverse=True):
            target = cur - 1 if res is None else res
            m = lvl == cur
            sub = out[m]
            for step in range(cur, target, -1):
                sub = self._parent1(sub, step)
            out[m] = sub
        return out

    def children(self, ids):
        """Children = res+1 cells within disk-2 of the center whose parent is
        this cell (exactly 7 on the infinite lattice)."""
        ids = np.atleast_1d(np.asarray(ids, np.int64))
        res, q, r = self.decode(ids)
        assert len(np.unique(res)) == 1
        cur = int(res[0])
        clat, clon = self.center(ids)
        seed = self.cell(clat, clon, cur + 1)
        _, sq, sr = self.decode(seed)
        dq, dr = self._disk_offsets(2)
        cq = sq[:, None] + dq[None, :]
        cr = sr[:, None] + dr[None, :]
        cand = self.encode(np.full_like(cq, cur + 1), cq, cr)
        par = self.parent(cand.ravel(), cur).reshape(cand.shape)
        out = np.where(par == ids[:, None], cand, np.int64(-1))
        return out

    def is_ancestor(self, anc, desc):
        anc = np.asarray(anc, np.int64)
        desc = np.asarray(desc, np.int64)
        la, ld = self.level(anc), self.level(desc)
        cur = desc.copy()
        result = np.zeros(len(desc), dtype=bool)
        todo = ld > la
        steps = (ld - la).max() if len(desc) else 0
        for _ in range(int(steps)):
            m = todo & (self.level(cur) > la)
            if not m.any():
                break
            cur[m] = self.parent(cur[m])
            result |= (self.level(cur) == la) & (cur == anc)
        return result & (ld > la)

    @staticmethod
    def _disk_offsets(k: int):
        """Axial offsets of the hex disk of radius k."""
        qs, rs = [], []
        for dq in range(-k, k + 1):
            for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
                qs.append(dq)
                rs.append(dr)
        return np.array(qs, np.int64), np.array(rs, np.int64)

    def disk(self, cell: int, k: int):
        res, q, r = self.decode(np.asarray([cell], np.int64))
        dq, dr = self._disk_offsets(k)
        return self.encode(
            np.full_like(dq, int(res[0])), int(q[0]) + dq, int(r[0]) + dr
        )

    def ring(self, cell: int, k: int):
        if k == 0:
            return np.asarray([cell], np.int64)
        d = set(map(int, self.disk(cell, k))) - set(map(int, self.disk(cell, k - 1)))
        return np.array(sorted(d), np.int64)

    def vertices(self, ids):
        """(n,6,2) hexagon vertex lat/lon."""
        ids = np.asarray(ids, np.int64)
        res, q, r = self.decode(ids)
        assert len(np.unique(res)) <= 1
        s, th = _frame(int(res[0]))
        clat, clon = self.center(ids)
        # center spacing is s (see _axial_to_xy) → circumradius s/√3
        ang = np.radians(np.arange(6) * 60.0 + 30.0) + th
        R = s / SQRT3
        vx = clon[:, None] + R * np.cos(ang)[None, :]
        vy = clat[:, None] + R * np.sin(ang)[None, :]
        return np.stack([vy, vx], axis=2)

    def bbox(self, ids):
        from .base import bbox_from_corners

        return bbox_from_corners(self.vertices(ids))

    def area_km2(self, ids):
        res, q, r = self.decode(ids)
        s = S0 / (SQRT7 ** res.astype(np.float64))
        clat, _ = self.center(ids)
        deg_km = 111.32
        # planar hex area with lat-dependent lon scale
        edge = s / SQRT3
        return (3.0 * SQRT3 / 2.0) * edge * edge * deg_km * deg_km * np.cos(np.radians(clat))

    def _covering(self, poly: np.ndarray, res: int, populated):
        """Scan the axial bbox of the polygon bbox; classify full/boundary
        (only the populated candidates when ``populated`` is given)."""
        lat_min, lat_max = poly[:, 0].min(), poly[:, 0].max()
        lon_min, lon_max = poly[:, 1].min(), poly[:, 1].max()
        s, _ = _frame(res)
        pad = 2.0 * s
        corners = np.array(
            [[lon_min - pad, lat_min - pad], [lon_max + pad, lat_min - pad],
             [lon_min - pad, lat_max + pad], [lon_max + pad, lat_max + pad]]
        )
        q, r = _xy_to_axial(corners[:, 0], corners[:, 1], res)
        q0, q1 = int(np.floor(q.min())) - 1, int(np.ceil(q.max())) + 1
        r0, r1 = int(np.floor(r.min())) - 1, int(np.ceil(r.max())) + 1
        gq, gr = np.meshgrid(np.arange(q0, q1 + 1), np.arange(r0, r1 + 1))
        gq, gr = gq.ravel(), gr.ravel()
        x, y = _axial_to_xy(gq.astype(np.float64), gr.astype(np.float64), res)
        m = (x >= lon_min - pad) & (x <= lon_max + pad) & (y >= lat_min - pad) & (y <= lat_max + pad)
        ids = self.encode(np.full_like(gq, res), gq, gr)
        if populated is not None:
            m &= holds_populated(ids, ids, populated)
        ids, x, y = ids[m], x[m], y[m]
        R = s / SQRT3  # circumradius
        ex, ey = poly[:, 1], poly[:, 0]
        ex2, ey2 = np.roll(ex, -1), np.roll(ey, -1)
        cin = point_in_poly(y, x, poly)
        bd = dist_point_to_segments(x, y, ex, ey, ex2, ey2)
        full = cin & (bd > 2.0 * R)
        boundary = ~full & (cin | (bd <= 2.0 * R))
        return ids[full], ids[boundary]

    # native hook: level() is a bit shift
    def col_level(self, id_col):
        from pyspark.sql import functions as F
        return F.shiftright(id_col, 58).cast("int")


register(Hex7Grid())
