"""S2 cell-id grid — faithful reimplementation of the public S2 scheme.

Reference analog: ``src/S2GeomSpatialGrid.cpp`` (which wraps Google
s2geometry).  No s2 library exists in this environment, so the cell-id
scheme — 6 cube faces, quadratic u→s projection, Hilbert curve position,
64-bit id = ``face(3b) | hilbert_pos(2*level b) | 1``-marker — is
re-implemented here from the published algorithm, fully vectorized in numpy.

Why S2 is our flagship hierarchy grid (SURVEY §2.2, M6):
  * ``level/parent/is_ancestor/range_min/range_max`` are pure bit arithmetic
    on the id → native Spark column expressions inside whole-stage codegen
    (``col_*`` hooks below).  The HCQR ancestor joins (fm ancestor at level L
    vs pm descendant at level > L) become **range joins** on
    ``cell_id BETWEEN range_min AND range_max`` with zero Python.
  * descendants of a cell form one contiguous id range → Iceberg/parquet
    min-max stats prune region queries at the file level at 100 TB scale.

Signedness: Spark LongType is signed; faces 4-5 set bit 63.  All hierarchy
math (mask/or/add of low bits) is sign-agnostic because a cell's descendants
share the high face bits, so BETWEEN on signed longs is still correct.
numpy computes in uint64 and reinterprets via ``.view(int64)``.
"""

from __future__ import annotations

import numpy as np

# np.where evaluates both branches; invalid-sqrt lanes are never selected
np.seterr(divide="ignore", invalid="ignore")

from .base import Grid, classify_cells, holds_populated, register

MAX_LEVEL = 30
_LOOKUP_BITS = 4
_SWAP, _INVERT = 1, 2
_POS_TO_ORIENT = [_SWAP, 0, 0, _INVERT | _SWAP]
_POS_TO_IJ = [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]]

_LOOKUP_POS = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)
_LOOKUP_IJ = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)


def _init_lookup(level: int, i: int, j: int, orig: int, pos: int, orient: int) -> None:
    if level == _LOOKUP_BITS:
        ij = (i << _LOOKUP_BITS) + j
        _LOOKUP_POS[(ij << 2) + orig] = (pos << 2) + orient
        _LOOKUP_IJ[(pos << 2) + orig] = (ij << 2) + orient
        return
    r = _POS_TO_IJ[orient]
    for idx in range(4):
        _init_lookup(
            level + 1,
            (i << 1) + (r[idx] >> 1),
            (j << 1) + (r[idx] & 1),
            orig,
            (pos << 2) + idx,
            orient ^ _POS_TO_ORIENT[idx],
        )


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)

_U64 = np.uint64


def _latlon_to_xyz(lat, lon):
    phi, lam = np.radians(np.asarray(lat, np.float64)), np.radians(np.asarray(lon, np.float64))
    cp = np.cos(phi)
    return cp * np.cos(lam), cp * np.sin(lam), np.sin(phi)


# per-face operand tables.  (u, v) = (num_u / den, num_v / den) with den
# the face's axis; numerators index [x, y, z, -x, -y, -z]
_DEN = np.array([0, 1, 2, 0, 1, 2])
_NUM_U = np.array([1, 3, 3, 2, 2, 4])  # y/x, -x/y, -x/z, z/x, z/y, -y/z
_NUM_V = np.array([2, 2, 4, 1, 3, 3])  # z/x, z/y, -y/z, y/x, -x/y, -x/z
# (x, y, z) of a face point index [1, u, v, -1, -u, -v]
_X = np.array([0, 4, 4, 3, 2, 2])      # 1, -u, -u, -1, v, v
_Y = np.array([1, 0, 5, 5, 3, 1])      # u, 1, -v, -v, -1, u
_Z = np.array([2, 2, 0, 4, 4, 3])      # v, v, 1, -u, -u, -1


def _xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    ops = np.stack([x, y, z, -x, -y, -z])
    lane = np.arange(face.size).reshape(face.shape)
    den = ops[_DEN[face], lane]
    return face, ops[_NUM_U[face], lane] / den, ops[_NUM_V[face], lane] / den


def _face_uv_to_xyz(face, u, v):
    one = np.ones_like(u)
    ops = np.stack([one, u, v, -one, -u, -v])
    lane = np.arange(face.size).reshape(face.shape)
    return ops[_X[face], lane], ops[_Y[face], lane], ops[_Z[face], lane]


def _uv_to_st(u):
    return np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def _st_to_uv(s):
    return np.where(s >= 0.5, (4.0 * s * s - 1.0) / 3.0, (1.0 - 4.0 * (1.0 - s) ** 2) / 3.0)


def _st_to_ij(s):
    return np.clip(np.floor(s * (1 << MAX_LEVEL)), 0, (1 << MAX_LEVEL) - 1).astype(np.int64)


def _from_face_ij(face, i, j):
    """(face, leaf i, leaf j) → leaf cell id (uint64)."""
    n = face.astype(_U64) << _U64(60)
    bits = (face & 1).astype(np.int64)  # face & kSwapMask
    i = i.astype(np.int64)
    j = j.astype(np.int64)
    mask = (1 << _LOOKUP_BITS) - 1
    for k in range(7, -1, -1):
        bits += ((i >> (k * _LOOKUP_BITS)) & mask) << (_LOOKUP_BITS + 2)
        bits += ((j >> (k * _LOOKUP_BITS)) & mask) << 2
        bits = _LOOKUP_POS[bits].astype(np.int64)
        n |= (bits.astype(_U64) >> _U64(2)) << _U64(k * 2 * _LOOKUP_BITS)
        bits &= _SWAP | _INVERT
    return n * _U64(2) + _U64(1)


def _to_face_ij(ids_u64):
    """cell id (any level, uint64) → (face, i, j) of a leaf inside the cell."""
    ids = ids_u64.astype(_U64)
    face = (ids >> _U64(61)).astype(np.int64)
    bits = (face & 1).astype(np.int64)
    i = np.zeros(len(ids), dtype=np.int64)
    j = np.zeros(len(ids), dtype=np.int64)
    for k in range(7, -1, -1):
        nbits = (MAX_LEVEL - 7 * _LOOKUP_BITS) if k == 7 else _LOOKUP_BITS
        bits += ((ids >> _U64(k * 2 * _LOOKUP_BITS + 1)).astype(np.int64)
                 & ((1 << (2 * nbits)) - 1)) << 2
        bits = _LOOKUP_IJ[bits].astype(np.int64)
        i += (bits >> (_LOOKUP_BITS + 2)) << (k * _LOOKUP_BITS)
        j += ((bits >> 2) & ((1 << _LOOKUP_BITS) - 1)) << (k * _LOOKUP_BITS)
        bits &= _SWAP | _INVERT
    return face, i, j


class S2Grid(Grid):
    name = "s2"
    max_level = MAX_LEVEL

    # ---- numpy kernels ----------------------------------------------------
    def cell(self, lat, lon, res: int):
        x, y, z = _latlon_to_xyz(lat, lon)
        face, u, v = _xyz_to_face_uv(x, y, z)
        i = _st_to_ij(_uv_to_st(u))
        j = _st_to_ij(_uv_to_st(v))
        leaf = _from_face_ij(face, i, j)
        return self._parent_u64(leaf, res).view(np.int64)

    @staticmethod
    def _lsb_for(res: int) -> _U64:
        return _U64(1) << _U64(2 * (MAX_LEVEL - res))

    def _parent_u64(self, ids_u64, res: int):
        # (id & -lsb) | lsb : clear position bits below `res`, set the marker
        lsb = self._lsb_for(res)
        neg_lsb = (~lsb + _U64(1)) & _U64(0xFFFFFFFFFFFFFFFF)
        return (ids_u64 & neg_lsb) | lsb

    def level(self, ids):
        u = np.asarray(ids, np.int64).view(_U64)
        lsb = u & (~u + _U64(1))
        tz = np.round(np.log2(lsb.astype(np.float64))).astype(np.int64)
        return MAX_LEVEL - (tz >> 1)

    def parent(self, ids, res: int | None = None):
        u = np.asarray(ids, np.int64).view(_U64)
        if res is None:
            lvl = self.level(ids)
            assert (lvl == lvl[0]).all(), "mixed-level parent() needs explicit res"
            res = int(lvl[0]) - 1
        return self._parent_u64(u, res).view(np.int64)

    def children(self, ids):
        u = np.asarray(ids, np.int64).view(_U64)
        lsb = u & (~u + _U64(1))
        clsb = lsb >> _U64(2)
        base = u - lsb
        out = np.empty((len(u), 4), dtype=_U64)
        for k in range(4):
            out[:, k] = base + clsb * _U64(2 * k + 1)
        return out.view(np.int64)

    def range_bounds(self, ids):
        u = np.asarray(ids, np.int64).view(_U64)
        lsb = u & (~u + _U64(1))
        return (u - (lsb - _U64(1))).view(np.int64), (u + (lsb - _U64(1))).view(np.int64)

    def is_ancestor(self, anc, desc):
        lo, hi = self.range_bounds(anc)
        d = np.asarray(desc, np.int64)
        # signed compare is fine: descendants share the high (face) bits
        return (d >= lo) & (d <= hi) & (self.level(desc) > self.level(anc))

    def _block(self, ids):
        """(face, i0, j0, size) of the cell's aligned ij block."""
        ids = np.asarray(ids, np.int64)
        face, i, j = _to_face_ij(ids.view(_U64))
        lvl = self.level(ids)
        size = np.int64(1) << (MAX_LEVEL - lvl)
        return face, i & ~(size - 1), j & ~(size - 1), size

    def _corners_latlon(self, ids):
        """(n,4,2) lat/lon of the 4 st-corners of each cell."""
        face, i0, j0, size = self._block(ids)
        scale = 1.0 / (1 << MAX_LEVEL)
        out = np.empty((len(ids), 4, 2), dtype=np.float64)
        for k, (di, dj) in enumerate([(0, 0), (0, 1), (1, 1), (1, 0)]):
            s = (i0 + di * size) * scale
            t = (j0 + dj * size) * scale
            x, y, z = _face_uv_to_xyz(face, _st_to_uv(s), _st_to_uv(t))
            r = np.sqrt(x * x + y * y + z * z)
            out[:, k, 0] = np.degrees(np.arcsin(np.clip(z / r, -1, 1)))
            out[:, k, 1] = np.degrees(np.arctan2(y, x))
        return out

    def center(self, ids):
        face, i0, j0, size = self._block(ids)
        scale = 1.0 / (1 << MAX_LEVEL)
        s = (i0 + size / 2.0) * scale
        t = (j0 + size / 2.0) * scale
        x, y, z = _face_uv_to_xyz(face, _st_to_uv(s), _st_to_uv(t))
        r = np.sqrt(x * x + y * y + z * z)
        return np.degrees(np.arcsin(np.clip(z / r, -1, 1))), np.degrees(np.arctan2(y, x))

    def bbox(self, ids):
        from .base import bbox_from_corners

        return bbox_from_corners(self._corners_latlon(ids))

    def area_km2(self, ids):
        """Average cell area at the cell's level (S2 AverageArea convention)."""
        lvl = self.level(ids)
        R = 6371.0088
        return (4.0 * np.pi / 6.0) / (4.0 ** lvl) * R * R

    def res_bounds(self, ids, res: int):
        return self.range_bounds(ids)

    def _covering(self, poly: np.ndarray, res: int, populated):
        """Recursive subdivision covering; conservative (never drops hits).

        Planar lat/lon tests with a one-diagonal pad (``classify_cells``);
        coarse levels (< 3) always subdivide, so face-cell bbox distortion
        cannot prune wrongly."""
        fulls = [np.empty(0, np.int64)]
        frontier = (np.arange(6, dtype=_U64) << _U64(61)) | (_U64(1) << _U64(60))
        frontier = frontier.view(np.int64)
        for lvl in range(res + 1):
            if populated is not None:
                frontier = frontier[holds_populated(*self.range_bounds(frontier), populated)]
            if not len(frontier):
                break
            full, disjoint = classify_cells(
                self._corners_latlon(frontier), *self.center(frontier), poly)
            if lvl < min(3, res):
                full[:] = disjoint[:] = False
            fulls.append(frontier[full])
            frontier = frontier[~full & ~disjoint]
            if lvl < res:
                frontier = self.children(frontier).ravel()
        return np.concatenate(fulls), frontier

    # ---- native Spark column hooks (pure bit arithmetic, codegen-resident) -
    def col_level(self, id_col):
        from pyspark.sql import functions as F
        lsb = id_col.bitwiseAND(-id_col)
        tz = F.bit_count(lsb - F.lit(1).cast("long"))
        return (F.lit(MAX_LEVEL) - tz.cast("long") / F.lit(2)).cast("int")

    def col_parent(self, id_col, res: int, from_res: int | None = None):
        from pyspark.sql import functions as F
        lsb = 1 << (2 * (MAX_LEVEL - res))
        return id_col.bitwiseAND(F.lit(-lsb).cast("long")).bitwiseOR(F.lit(lsb).cast("long"))

    def col_range(self, id_col, res: int | None = None):
        from pyspark.sql import functions as F  # noqa: F401
        lsb = id_col.bitwiseAND(-id_col)
        return id_col - (lsb - 1), id_col + (lsb - 1)


register(S2Grid())
