"""HTM (Hierarchical Triangular Mesh) grid — the reference's primary cell
system (``src/HtmSpatialGrid.cpp``, which wraps lsst/sphgeom).

No sphgeom library exists in this environment, so the published HTM scheme
(Szalay et al., "Indexing the Sphere with the Hierarchical Triangular
Mesh") is re-implemented here, fully vectorized in numpy:

  * 8 root spherical triangles over the octahedron, ids 8..15
    (S0..S3 = 8..11, N0..N3 = 12..15 — reference id convention,
    ``src/HtmSpatialGrid.cpp:86-98``);
  * child k of t = ``(t << 2) | k`` → 4-ary PREFIX ids exactly like the
    reference: ``isAncestor(a, d) = d >> 2*(dl-al) == a``
    (``src/HtmSpatialGrid.cpp:56-63``);
  * level(id) = (floor(log2 id) − 3) / 2 — ids of level L live in
    [2^(3+2L), 2^(4+2L)) so the floor-log is constant per level
    (reference ``level()`` defers to sphgeom, same arithmetic).

The reference exposes a synthetic root one level above the 8 faces
(RootPixelId, its level 0); here level 0 IS the 8 faces — the engine's
grids are uniform-root-free (same convention as our s2/zxy), documented
difference.

Being a 4-ary prefix grid, HTM participates in HCQR set ops (ancestor
equality via plain shifts — see operators/hcqr._contains_cond) and all
region/covering machinery.
"""

from __future__ import annotations

import numpy as np

from .base import Grid, classify_cells, holds_populated, register

_V = np.array(
    [[0.0, 0.0, 1.0], [1.0, 0.0, 0.0], [0.0, 1.0, 0.0],
     [-1.0, 0.0, 0.0], [0.0, -1.0, 0.0], [0.0, 0.0, -1.0]]
)
# (id, v0, v1, v2) — classic HTM face table
_FACES = [
    (8, 1, 5, 2), (9, 2, 5, 3), (10, 3, 5, 4), (11, 4, 5, 1),
    (12, 1, 0, 4), (13, 4, 0, 3), (14, 3, 0, 2), (15, 2, 0, 1),
]
MAX_LEVEL = 20


def _xyz(lat, lon):
    phi = np.radians(np.asarray(lat, np.float64))
    lam = np.radians(np.asarray(lon, np.float64))
    cp = np.cos(phi)
    return np.stack([cp * np.cos(lam), cp * np.sin(lam), np.sin(phi)], axis=1)


def _norm(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def _latlon(v):
    """(..., 3) unit vectors → (lat, lon) degrees."""
    return (np.degrees(np.arcsin(np.clip(v[..., 2], -1, 1))),
            np.degrees(np.arctan2(v[..., 1], v[..., 0])))


def _min_edge_dot(p, a, b, c):
    """min over the 3 edge planes of p·n — ≥0 ⟺ inside triangle (a,b,c)."""
    d0 = np.einsum("ij,ij->i", p, np.cross(a, b))
    d1 = np.einsum("ij,ij->i", p, np.cross(b, c))
    d2 = np.einsum("ij,ij->i", p, np.cross(c, a))
    return np.minimum(np.minimum(d0, d1), d2)


def _children_tris(tri):
    """tri (n,3,3) → the 4 child triangles, each (n,3,3).

    Child order (Szalay): c0=(v0,w2,w1), c1=(v1,w0,w2), c2=(v2,w1,w0),
    c3=(w0,w1,w2) with w0=mid(v1,v2), w1=mid(v0,v2), w2=mid(v0,v1)."""
    v0, v1, v2 = tri[:, 0], tri[:, 1], tri[:, 2]
    w0 = _norm(v1 + v2)
    w1 = _norm(v0 + v2)
    w2 = _norm(v0 + v1)
    return [
        np.stack([v0, w2, w1], axis=1),
        np.stack([v1, w0, w2], axis=1),
        np.stack([v2, w1, w0], axis=1),
        np.stack([w0, w1, w2], axis=1),
    ]


class HtmGrid(Grid):
    name = "htm"
    max_level = MAX_LEVEL

    # ---- numpy kernels ------------------------------------------------------
    def cell(self, lat, lon, res: int):
        p = _xyz(lat, lon)
        n = len(p)
        ids = np.zeros(n, np.int64)
        tri = np.zeros((n, 3, 3))
        best = np.full(n, -np.inf)
        for fid, a, b, c in _FACES:
            va = np.broadcast_to(_V[a], (n, 3))
            vb = np.broadcast_to(_V[b], (n, 3))
            vc = np.broadcast_to(_V[c], (n, 3))
            m = _min_edge_dot(p, va, vb, vc)
            upd = m > best
            ids[upd] = fid
            tri[upd] = np.stack([_V[a], _V[b], _V[c]])
            best[upd] = m[upd]
        ar = np.arange(n)
        for _ in range(res):
            v0, v1, v2 = tri[:, 0], tri[:, 1], tri[:, 2]
            w0 = _norm(v1 + v2)
            w1 = _norm(v0 + v2)
            w2 = _norm(v0 + v1)
            # classic 3-plane descent: each child is cut off by one midline
            d0 = np.einsum("ij,ij->i", p, np.cross(w2, w1))
            d1 = np.einsum("ij,ij->i", p, np.cross(w0, w2))
            d2 = np.einsum("ij,ij->i", p, np.cross(w1, w0))
            pick = np.where(d0 >= 0, 0, np.where(d1 >= 0, 1, np.where(d2 >= 0, 2, 3)))
            ids = ids * 4 + pick
            nv0 = np.stack([v0, v1, v2, w0])[pick, ar]
            nv1 = np.stack([w2, w0, w1, w1])[pick, ar]
            nv2 = np.stack([w1, w2, w0, w2])[pick, ar]
            tri = np.stack([nv0, nv1, nv2], axis=1)
        return ids

    def level(self, ids):
        ids = np.asarray(ids, np.int64)
        fl = np.frexp(ids.astype(np.float64))[1] - 1  # floor(log2), exact < 2^53
        return (fl - 3) >> 1

    def parent(self, ids, res: int | None = None):
        ids = np.asarray(ids, np.int64)
        lvl = self.level(ids)
        pres = (lvl - 1) if res is None else np.full_like(lvl, res)
        assert (pres >= 0).all(), "HTM faces (level 0) have no parent"
        return ids >> (2 * (lvl - pres))

    def children(self, ids):
        ids = np.asarray(ids, np.int64)
        out = np.empty((len(ids), 4), np.int64)
        for k in range(4):
            out[:, k] = ids * 4 + k
        return out

    def is_ancestor(self, anc, desc):
        anc = np.asarray(anc, np.int64)
        desc = np.asarray(desc, np.int64)
        la, ld = self.level(anc), self.level(desc)
        d = ld - la
        return (d > 0) & ((desc >> (2 * np.maximum(d, 0))) == anc)

    def child_position(self, ids):
        return np.asarray(ids, np.int64) & 3

    def _tris(self, ids):
        """id array (mixed levels ok) → corner unit vectors (n,3,3)."""
        ids = np.asarray(ids, np.int64)
        lvls = self.level(ids)
        tri = np.zeros((len(ids), 3, 3))
        roots = {fid: np.stack([_V[a], _V[b], _V[c]]) for fid, a, b, c in _FACES}
        for lvl in np.unique(lvls):
            sel = np.where(lvls == lvl)[0]
            sub = ids[sel]
            cur = np.zeros((len(sub), 3, 3))
            root = sub >> (2 * int(lvl))
            for fid, t in roots.items():
                cur[root == fid] = t
            for depth in range(int(lvl) - 1, -1, -1):
                k = (sub >> (2 * depth)) & 3
                kids = np.stack(_children_tris(cur), axis=0)
                cur = kids[k, np.arange(len(sub))]
            tri[sel] = cur
        return tri

    def _corners_latlon(self, ids):
        return np.stack(_latlon(self._tris(ids)), axis=2)  # (n,3,2)

    def center(self, ids):
        return _latlon(_norm(self._tris(ids).sum(axis=1)))

    def bbox(self, ids):
        from .base import bbox_from_corners

        return bbox_from_corners(self._corners_latlon(ids))

    def area_km2(self, ids):
        """Exact spherical-triangle area (Girard excess)."""
        t = self._tris(ids)
        R = 6371.0088
        a, b, c = t[:, 0], t[:, 1], t[:, 2]

        def ang(u, v, w):
            # angle at u between geodesics u→v and u→w
            nv = np.cross(u, v)
            nw = np.cross(u, w)
            cosang = np.einsum("ij,ij->i", nv, nw) / (
                np.linalg.norm(nv, axis=1) * np.linalg.norm(nw, axis=1)
            )
            return np.arccos(np.clip(cosang, -1, 1))

        e = ang(a, b, c) + ang(b, c, a) + ang(c, a, b) - np.pi
        return e * R * R

    def res_bounds(self, ids, res: int):
        ids = np.asarray(ids, np.int64)
        shift = 2 * (res - self.level(ids))
        return ids << shift, ((ids + 1) << shift) - 1

    def _covering(self, poly: np.ndarray, res: int, populated):
        """Recursive triangle subdivision covering (same conservative scheme
        as the s2 grid: ``classify_cells``, levels < 3 always subdivide so
        face-scale distortion cannot prune wrongly).  Corner triangles are
        CARRIED through the recursion — no per-level root walks (that walk
        made first-call coverings ~10x slower)."""
        fulls = [np.empty(0, np.int64)]
        frontier = np.array([f[0] for f in _FACES], np.int64)
        tris = np.stack([np.stack([_V[a], _V[b], _V[c]]) for _f, a, b, c in _FACES])
        for lvl in range(res + 1):
            if populated is not None:
                keep = holds_populated(*self.res_bounds(frontier, res), populated)
                frontier, tris = frontier[keep], tris[keep]
            if not len(frontier):
                break
            full, disjoint = classify_cells(np.stack(_latlon(tris), axis=2),
                                            *_latlon(_norm(tris.sum(axis=1))), poly)
            if lvl < min(3, res):
                full[:] = disjoint[:] = False
            fulls.append(frontier[full])
            keep = ~full & ~disjoint
            frontier, tris = frontier[keep], tris[keep]
            if lvl < res:
                frontier = self.children(frontier).ravel()
                # children() column order is c0..c3 — interleave tris to match
                tris = np.stack(_children_tris(tris), axis=1).reshape(-1, 3, 3)
        return np.concatenate(fulls), frontier

    # ---- native Spark column hooks (prefix bit math, codegen-resident) ------
    def col_level(self, id_col):
        from pyspark.sql import functions as F
        # exact integer math: a level-k id lies in [8·4^k, 16·4^k), so a
        # descending comparison chain over the 21 boundaries is precise even
        # at the all-zero child chain 8<<2k where floor(log2(double)) can
        # return k-1 (JVM Math.log is only 1-ulp accurate; ADVICE r02)
        out = F.lit(0)
        for k in range(1, MAX_LEVEL + 1):  # outermost test = deepest level
            out = F.when(id_col >= F.lit(8 << (2 * k)), F.lit(k)).otherwise(out)
        return out.cast("int")

    def col_parent(self, id_col, res: int, from_res: int | None = None):
        from pyspark.sql import functions as F
        if from_res is not None:
            return F.shiftright(id_col, 2 * (from_res - res))
        d = self.col_level(id_col).cast("double") - F.lit(float(res))
        return (id_col.cast("double") / F.pow(F.lit(4.0), d)).cast("long")


register(HtmGrid())
