"""G9 bbox direct unit tests (VERDICT r02 item 8) + cache-identity fixes
(VERDICT r02 item 6 / ADVICE: id()-keyed caches must never alias across
tables, and htm col_level must be exact at power-of-two ids)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from oscar_spatial_index_compare_spark.grids.base import get_grid

RNG = np.random.default_rng(42)
# (grid, res, eps_deg): corner-based bboxes (s2/htm geodesic edges) bulge
# O(width^2) between corners — at these resolutions the bulge is < eps
CASES = [("s2", 10, 1e-3), ("zxy", 9, 1e-9), ("h3", 8, 1e-3), ("htm", 9, 1e-3)]


def _pts(n=4000):
    lat = RNG.uniform(-84.0, 84.0, n)
    lon = RNG.uniform(-179.9, 179.9, n)
    return lat, lon


@pytest.mark.parametrize("grid,res,eps", CASES)
def test_bbox_contains_member_points(grid, res, eps):
    """Every point maps to a cell whose bbox contains it: the defining
    invariant of G9 (reference src/S2GeomSpatialGrid.cpp:128-139 etc.)."""
    g = get_grid(grid)
    lat, lon = _pts()
    ids = np.asarray(g.cell(lat, lon, res), np.int64)
    uniq, inv = np.unique(ids, return_inverse=True)
    bb = np.asarray(g.bbox(uniq))[inv]  # (n,4) min_lat,max_lat,min_lon,max_lon
    assert ((lat >= bb[:, 0] - eps) & (lat <= bb[:, 1] + eps)).all()
    wraps = bb[:, 2] > bb[:, 3]  # antimeridian-crossing boxes
    lon_ok = np.where(
        wraps,
        (lon >= bb[:, 2] - eps) | (lon <= bb[:, 3] + eps),
        (lon >= bb[:, 2] - eps) & (lon <= bb[:, 3] + eps),
    )
    assert lon_ok.all()


@pytest.mark.parametrize("grid,res,eps", CASES)
def test_bbox_contains_center(grid, res, eps):
    g = get_grid(grid)
    lat, lon = _pts(500)
    ids = np.unique(np.asarray(g.cell(lat, lon, res), np.int64))
    clat, clon = g.center(ids)
    bb = np.asarray(g.bbox(ids))
    assert ((clat >= bb[:, 0] - eps) & (clat <= bb[:, 1] + eps)).all()
    wraps = bb[:, 2] > bb[:, 3]
    ok = np.where(
        wraps,
        (clon >= bb[:, 2] - eps) | (clon <= bb[:, 3] + eps),
        (clon >= bb[:, 2] - eps) & (clon <= bb[:, 3] + eps),
    )
    assert ok.all()


def test_htm_col_level_exact_at_power_of_two(spark):
    """floor(log2(double)) can yield k-1 at exact powers of two (ADVICE r02);
    the comparison-chain col_level must be exact on the all-zero child chain
    8<<2k and at every boundary id."""
    g = get_grid("htm")
    ids = []
    for k in range(0, 21):
        ids.append(8 << (2 * k))           # all-zero child chain (power of 2)
        ids.append((16 << (2 * k)) - 1)    # last id of level k
        ids.append(11 << (2 * k))          # interior face
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = [r.lvl for r in df.select(g.col_level(F.col("id")).alias("lvl"))
           .collect()]
    want = list(np.asarray(g.level(np.array(ids, np.int64))).astype(int))
    assert got == want


def test_region_cache_no_aliasing_across_tables(spark, engine):
    """Two different mention tables queried interleaved must each get their
    own populated-cell sets (the id()-reuse hazard, VERDICT r02 item 6)."""
    import gc

    from oscar_spatial_index_compare_spark.functions.geo import pip_sql
    from oscar_spatial_index_compare_spark.operators.index_build import mention_cells
    from oscar_spatial_index_compare_spark.operators.region_query import (
        region_query_docs,
    )
    from oscar_spatial_index_compare_spark.sources.regions import region_by_name

    poly = region_by_name("metro")
    full = mention_cells(engine.mentions, "s2", 10)
    half = mention_cells(
        engine.mentions.where(F.col("doc_id") % 2 == 0), "s2", 10
    )

    def brute(m):
        return (
            m.where(F.expr(pip_sql("lat", "lon", poly)))
            .select("doc_id").distinct().count()
        )

    want_full, want_half = brute(full), brute(half)
    assert want_full != want_half  # the two corpora must be distinguishable
    # interleave + drop references + gc to maximize id-reuse pressure
    assert region_query_docs(spark, full, poly, "s2", 10).count() == want_full
    assert region_query_docs(spark, half, poly, "s2", 10).count() == want_half
    del half
    gc.collect()
    half2 = mention_cells(
        engine.mentions.where(F.col("doc_id") % 2 == 0), "s2", 10
    )
    assert region_query_docs(spark, half2, poly, "s2", 10).count() == want_half
    assert region_query_docs(spark, full, poly, "s2", 10).count() == want_full
