"""Query-region fixture — the GeoHierarchy-cell analog (FIXTURES.md §3).

The reference's "cells" are polygonal GeoHierarchy regions whose exact
point-membership comes from a triangulation (``src/OscarSgIndex.cpp:106``).
Our regions are fixed polygons defined here (deterministic, no external
data): rectangles, convex + concave shapes, nested country⊃city pairs, one
polygon over the hot-metro cluster (skew) and one doc-free ocean polygon.

Vertices are chosen with margin from every gazetteer coordinate so the
float-exact PIP agreement between numpy/Spark/DuckDB is never degenerate.
"""

from __future__ import annotations

import numpy as np


def _rect(lat0, lat1, lon0, lon1):
    return np.array([[lat0, lon0], [lat0, lon1], [lat1, lon1], [lat1, lon0]], dtype=np.float64)


# (region_id, name, admin_level, polygon[lat,lon])
REGIONS: list[tuple[int, str, int, np.ndarray]] = [
    # metro rectangle around the hot-word cluster (48.85..,2.35..) — hot cells
    (1, "metro", 8, _rect(48.5, 49.3, 2.0, 2.9)),
    # "country" containing the metro (nested hierarchy, country ⊃ city)
    (2, "country", 2, _rect(42.3, 51.7, -4.8, 8.7)),
    # northern band (catches several spiral points)
    (3, "north_band", 4, _rect(55.0, 75.0, -150.0, 150.0)),
    # southern convex pentagon
    (4, "south_pent", 4, np.array([
        [-60.2, -30.1], [-52.4, -58.3], [-33.7, -44.2], [-31.9, -12.6], [-48.1, -3.4],
    ])),
    # concave "C" shape straddling the equator
    (5, "concave_c", 4, np.array([
        [-20.3, 60.2], [25.4, 60.2], [25.4, 100.7], [14.8, 100.7],
        [14.8, 72.9], [-10.1, 72.9], [-10.1, 100.7], [-20.3, 100.7],
    ])),
    # polar cap-ish rectangle (catches the 'dup' entry at lat 89.5)
    (6, "polar", 4, _rect(80.0, 89.9, -179.5, 179.5)),
    # near-antimeridian box on the east side (catches 'the' at lon 179.95)
    (7, "east_am", 6, _rect(5.0, 20.0, 170.0, 179.99)),
    # mid-pacific empty box (no gazetteer point inside)
    (8, "empty_box", 6, _rect(-5.0, 5.0, -140.0, -120.0)),
    # wide equatorial band
    (9, "equator_band", 3, _rect(-15.0, 15.0, -60.0, 60.0)),
    # small triangle inside the country but away from the metro
    (10, "tri_west", 7, np.array([[43.1, -3.9], [46.4, -0.2], [43.6, 1.8]])),
]


def region_query_file(n_queries: int = 50) -> list[tuple[str, np.ndarray]]:
    """Deterministic polygon-query workload: the 10 fixture regions plus
    lat-shifted variants — the analog of the reference's benchmark query
    FILE (``apps/mainq.cpp:126-140``), sized so throughput benchmarks have
    enough distinct queries to saturate a large cluster.  Variant k shifts
    every vertex k·1.7° SOUTH (southward only so the polar cap stays inside
    [-90, 90]; longitudes untouched so antimeridian handling is unchanged).
    """
    out: list[tuple[str, np.ndarray]] = []
    k = 0
    while len(out) < n_queries:
        for _rid, name, _lvl, poly in REGIONS:
            if len(out) >= n_queries:
                break
            if k == 0:
                out.append((name, poly))
            else:
                out.append((f"{name}~{k}", poly - np.array([1.7 * k, 0.0])))
        k += 1
    return out


def region_by_name(name: str) -> np.ndarray:
    for _, n, _, poly in REGIONS:
        if n == name:
            return poly
    raise KeyError(name)


def region_by_id(rid: int) -> np.ndarray:
    for r, _, _, poly in REGIONS:
        if r == rid:
            return poly
    raise KeyError(rid)
