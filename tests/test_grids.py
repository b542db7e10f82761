"""Grid-kernel invariants (SURVEY M1) — pure numpy, no Spark.

Mirrors the reference's build-time invariant assertions
(``SSERIALIZE_EXPENSIVE_ASSERT`` blocks, ``src/OscarSgIndex.cpp:134-146``)
as property tests over the three grid implementations.
"""

import numpy as np
import pytest

from oscar_spatial_index_compare_spark.grids import s2 as s2mod
from oscar_spatial_index_compare_spark.grids.base import get_grid, point_in_poly, populated_in
from oscar_spatial_index_compare_spark.sources.regions import REGIONS

RNG = np.random.default_rng(42)
LAT = RNG.uniform(-89, 89, 5000)
LON = RNG.uniform(-180, 180, 5000)

CASES = [("s2", [0, 3, 10, 30]), ("h3", [0, 4, 9]), ("zxy", [0, 5, 12]), ("htm", [0, 4, 12])]


@pytest.mark.parametrize("name,levels", CASES)
def test_level_and_center_roundtrip(name, levels):
    g = get_grid(name)
    for res in levels:
        ids = g.cell(LAT, LON, res)
        assert (g.level(ids) == res).all()
        clat, clon = g.center(ids)
        assert (g.cell(clat, clon, res) == ids).all()


@pytest.mark.parametrize("name,levels", CASES)
def test_parent_is_ancestor(name, levels):
    g = get_grid(name)
    res = levels[-1]
    coarse = max(levels[0], res - 3)
    ids = g.cell(LAT, LON, res)
    p = g.parent(ids, coarse)
    assert (g.level(p) == coarse).all()
    assert g.is_ancestor(p, ids).all()
    # parent chain consistency: parent(parent(x)) == parent(x, l-2)
    if res - 2 >= 0:
        p1 = g.parent(g.parent(ids, res - 1), res - 2)
        p2 = g.parent(ids, res - 2)
        assert (p1 == p2).all()


@pytest.mark.parametrize("name,res", [("s2", 5), ("h3", 4), ("zxy", 6), ("htm", 5)])
def test_children_inverse(name, res):
    g = get_grid(name)
    cells = np.unique(g.cell(LAT[:500], LON[:500], res))
    ch = g.children(cells)
    for row, c in zip(ch, cells):
        kids = row[row != -1]  # hex pads with -1; s2 face-4/5 ids are negative
        assert len(kids) > 0
        assert (g.level(kids) == res + 1).all()
        assert (g.parent(kids, res) == c).all()


def test_s2_structure():
    g = get_grid("s2")
    ids = g.cell(LAT, LON, 0)
    faces = np.unique(ids.view(np.uint64) >> np.uint64(61))
    assert set(faces.tolist()) == {0, 1, 2, 3, 4, 5}
    # face cell ids: face << 61 | 1 << 60
    expect = {(f << 61) | (1 << 60) for f in range(4)} | {
        (4 << 61 | 1 << 60) - (1 << 64), (5 << 61 | 1 << 60) - (1 << 64)
    }
    assert set(ids.tolist()) <= expect
    # descendant ranges are contiguous and signed-compare safe
    deep = g.cell(LAT, LON, 20)
    lo, hi = g.range_bounds(g.parent(deep, 8))
    assert ((deep >= lo) & (deep <= hi)).all()


def test_hex_children_count_is_seven():
    g = get_grid("h3")
    cells = np.unique(g.cell(LAT[:300], LON[:300], 3))
    ch = g.children(cells)
    counts = (ch >= 0).sum(axis=1)
    assert (counts == 7).all()


@pytest.mark.parametrize("name,res", [("s2", 9), ("h3", 5), ("zxy", 9), ("htm", 8)])
def test_covering_conservative(name, res):
    g = get_grid(name)
    poly = np.array([[10.0, 20.0], [10.0, 40.0], [30.0, 45.0], [32.0, 18.0]])
    full, boundary = g.covering(poly, res)
    fullset, bdset = set(full.tolist()), set(boundary.tolist())
    lat = RNG.uniform(8, 34, 3000)
    lon = RNG.uniform(16, 47, 3000)
    inside = point_in_poly(lat, lon, poly)
    cells = g.cell(lat, lon, res)

    def covered(c):
        if int(c) in bdset or int(c) in fullset:
            return True
        cur = np.array([c])
        for lvl in range(res - 1, -1, -1):
            cur = g.parent(cur, lvl)
            if int(cur[0]) in fullset:
                return True
        return False

    def in_full(c):
        if int(c) in fullset:
            return True
        cur = np.array([c])
        for lvl in range(res - 1, -1, -1):
            cur = g.parent(cur, lvl)
            if int(cur[0]) in fullset:
                return True
        return False

    # completeness: every inside point is covered
    assert all(covered(c) for c in cells[inside])
    # soundness: no outside point is in a FULL cell
    assert not any(in_full(c) for c in cells[~inside])


def test_hex_disk_sizes():
    g = get_grid("h3")
    c = int(g.cell(np.array([10.0]), np.array([10.0]), 6)[0])
    for k in [1, 2, 5]:
        assert len(g.disk(c, k)) == 3 * k * (k + 1) + 1
    assert len(g.ring(c, 3)) == 18


def test_child_position_roundtrip():
    """G5 childPosition: inverse of children() order, for every grid."""
    import numpy as np
    from oscar_spatial_index_compare_spark.grids.base import get_grid

    for name in ("s2", "zxy", "h3", "htm"):
        g = get_grid(name)
        cells = g.cell(
            np.array([48.85, -33.0, 13.37]), np.array([2.35, 151.0, 179.7]), 6
        )
        ch = g.children(cells)
        for row in range(ch.shape[0]):
            kids = ch[row][ch[row] >= 0]
            pos = g.child_position(kids)
            assert list(pos) == list(range(len(kids))), (name, row, pos)


# ---- coverings pruned to populated cells ---------------------------------

COVER_RES = [("s2", 9), ("h3", 5), ("zxy", 9), ("htm", 8)]


def _star(rng, clat, clon, r, n=9):
    """A seeded concave star polygon around (clat, clon), radius ≤ r°."""
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    rad = r * np.where(np.arange(n) % 2 == 0, 1.0, rng.uniform(0.25, 0.5, n))
    return np.stack([np.clip(clat + rad * np.sin(ang), -89.9, 89.9),
                     clon + rad * np.cos(ang)], axis=1)


def _cover_polys():
    """The region fixtures plus seeded polygons: concave stars at city to
    continent scale, near either pole, across the antimeridian (raw
    longitudes past ±180, and wrapped into [-180, 180]), and sub-cell."""
    rng = np.random.default_rng(13)
    out = [poly for *_x, poly in REGIONS]
    for clat, clon in [(20.0, 30.0), (-35.0, -60.0), (86.5, 10.0), (-87.5, 120.0),
                       (10.0, 179.6), (-25.0, -179.7)]:
        for r in (0.02, 2.0, 12.0):
            out.append(_star(rng, clat, clon, r))
    wrapped = _star(rng, 40.0, 179.0, 3.0)
    wrapped[:, 1] = (wrapped[:, 1] + 180.0) % 360.0 - 180.0
    out.append(wrapped)
    return out


def _populated(g, res, poly):
    """Sorted populated cells: the global sample plus seeded points in
    and around the polygon's bbox."""
    rng = np.random.default_rng(len(poly))
    (la0, lo0), (la1, lo1) = poly.min(0), poly.max(0)
    lat = np.clip(rng.uniform(la0 - 1, la1 + 1, 2000), -89.9, 89.9)
    lon = (rng.uniform(lo0 - 1, lo1 + 1, 2000) + 180.0) % 360.0 - 180.0
    return np.unique(np.concatenate([g.cell(LAT, LON, res), g.cell(lat, lon, res)]))


def _two_step(g, poly, res, pop):
    """The covering pruned after enumeration: its full cells, at their own
    levels, that hold a populated cell, and its populated boundary."""
    full, boundary = g.covering(poly, res)
    keep = np.zeros(len(full), bool)
    lvls = g.level(full)
    for lvl in np.unique(lvls):
        sel = lvls == lvl
        keep[sel] = np.isin(full[sel], pop if lvl == res else g.parent(pop, int(lvl)))
    return full[keep], boundary[np.isin(boundary, pop)]


@pytest.mark.parametrize("name,res", COVER_RES)
def test_pruned_covering_equals_two_step(name, res):
    g = get_grid(name)
    hits = 0
    for poly in _cover_polys():
        pop = _populated(g, res, poly)
        full, boundary = g.covering(poly, res, pop)
        want_full, want_boundary = _two_step(g, poly, res, pop)
        assert np.array_equal(full, want_full)
        assert np.array_equal(boundary, want_boundary)
        # the dimension's full side: populated res-level cells under them
        lvls = g.level(full)
        under = [pop[np.isin(pop if lvl == res else g.parent(pop, int(lvl)),
                             full[lvls == lvl])] for lvl in np.unique(lvls)]
        assert np.array_equal(populated_in(*g.res_bounds(full, res), pop),
                              np.unique(np.concatenate([pop[:0], *under])))
        hits += bool(len(full)) and bool(len(boundary))
    assert hits >= 10  # the populated sets reach both sides of many polygons


@pytest.mark.parametrize("name,res", COVER_RES)
def test_covering_empty_inputs(name, res):
    g = get_grid(name)
    poly = REGIONS[1][3]
    full, boundary = g.covering(poly, res, np.empty(0, np.int64))
    assert full.dtype == boundary.dtype == np.int64
    assert len(full) == len(boundary) == 0
    # below 3 vertices the strict PIP has no interior
    for degenerate in (np.empty((0, 2)), poly[:1], poly[:2]):
        for pop in (None, _populated(g, res, poly)):
            full, boundary = g.covering(degenerate, res, pop)
            assert len(full) == len(boundary) == 0


# ---- s2 face kernels: table gathers vs the six-way selects -----------------

def _ref_xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    )
    u = np.select([face == k for k in range(6)],
                  [y / x, -x / y, -x / z, z / x, z / y, -y / z])
    v = np.select([face == k for k in range(6)],
                  [z / x, z / y, -y / z, y / x, -x / y, -x / z])
    return face.astype(np.int64), u, v


def _ref_face_uv_to_xyz(face, u, v):
    one = np.ones_like(u)
    sel = [face == k for k in range(6)]
    return (np.select(sel, [one, -u, -u, -one, v, v]),
            np.select(sel, [u, one, -v, -v, -one, u]),
            np.select(sel, [v, v, one, -u, -u, -one]))


def test_s2_face_kernels_bit_identical(monkeypatch):
    rng = np.random.default_rng(11)
    n = 100_000
    face = np.concatenate([rng.integers(0, 6, n), np.repeat(np.arange(6), 25)])
    edge = np.array([-1.0, -0.5, 0.0, 0.5, 1.0])
    u = np.concatenate([rng.uniform(-1, 1, n), np.tile(np.repeat(edge, 5), 6)])
    v = np.concatenate([rng.uniform(-1, 1, n), np.tile(np.tile(edge, 5), 6)])
    want = _ref_face_uv_to_xyz(face, u, v)
    for a, b in zip(s2mod._face_uv_to_xyz(face, u, v), want):
        assert np.array_equal(a, b)
    # back again, plus points of the sphere: face edges and corners tie
    x, y, z = (np.concatenate([c, r]) for c, r in zip(
        want, s2mod._latlon_to_xyz(rng.uniform(-90, 90, n), rng.uniform(-180, 180, n))))
    for a, b in zip(s2mod._xyz_to_face_uv(x, y, z), _ref_xyz_to_face_uv(x, y, z)):
        assert np.array_equal(a, b)
    # cell ids and centers are unchanged
    g = get_grid("s2")
    got = [(g.cell(LAT, LON, r), *g.center(g.cell(LAT, LON, r))) for r in (0, 10, 30)]
    monkeypatch.setattr(s2mod, "_xyz_to_face_uv", _ref_xyz_to_face_uv)
    monkeypatch.setattr(s2mod, "_face_uv_to_xyz", _ref_face_uv_to_xyz)
    for r, (ids, clat, clon) in zip((0, 10, 30), got):
        assert np.array_equal(ids, g.cell(LAT, LON, r))
        ref_lat, ref_lon = g.center(ids)
        assert np.array_equal(clat, ref_lat) and np.array_equal(clon, ref_lon)
