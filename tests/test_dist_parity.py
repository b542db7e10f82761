"""One distance string for Spark and the DuckDB oracle.

kNN ranks docs by ``dist_m_sql(haversine_sql(...))``, and the oracle
evaluates the same string, so a kNN answer can be compared row for row
only if both engines, and the driver's numpy bound, turn every point pair
into the same integer meters.  The pairs cover the cases where the
formula is fragile: identical points, the poles, the antimeridian,
near-antipodal pairs (the haversine term rounds above 1) and pairs about
one meter apart.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from oscar_spatial_index_compare_spark.functions.geo import (
    dist_m_sql,
    haversine_np,
    haversine_sql,
)
from oscar_spatial_index_compare_spark.session import local_frame

M_DEG = 1.0 / 111_195.0  # about one meter of latitude, in degrees


N = 80  # pairs per case


def _pairs() -> pd.DataFrame:
    rng = np.random.RandomState(20)
    n = N
    lat = rng.uniform(-89.9, 89.9, n)
    lon = rng.uniform(-180.0, 180.0, n)
    pole = np.where(rng.rand(n) < 0.5, 90.0, -90.0)
    east = rng.uniform(179.0, 180.0, n)
    anti = np.where(lon > 0, lon - 180.0, lon + 180.0)
    sets = [
        (lat, lon, lat, lon),                                   # identical
        (pole, lon, lat, rng.uniform(-180.0, 180.0, n)),        # a pole
        (lat, east, lat + rng.uniform(-0.05, 0.05, n), -east),  # antimeridian
        (lat, lon, -lat, anti),                                 # antipodal
        (lat, lon, -lat + rng.uniform(-1e-6, 1e-6, n), anti),
        (lat, lon, lat + M_DEG, lon),                           # 1 m apart
        (lat, lon, lat, lon + M_DEG / np.cos(np.radians(lat))),
    ]
    cols = [np.concatenate(c) for c in zip(*sets)]
    return pd.DataFrame(dict(zip(["lat1", "lon1", "lat2", "lon2"], cols)))


def test_spark_duckdb_and_numpy_agree_to_the_meter(spark):
    pairs = _pairs()
    assert len(pairs) >= 500
    expr = dist_m_sql(haversine_sql("lat1", "lon1", "lat2", "lon2"))
    want = np.floor(haversine_np(pairs.lat1, pairs.lon1, pairs.lat2, pairs.lon2)
                    * 1000.0 + 0.5).astype(np.int64).tolist()

    frame = local_frame(spark, "i long, lat1 double, lon1 double, lat2 double, "
                        "lon2 double", [np.arange(len(pairs)), *(pairs[c] for c in pairs)])
    got_spark = [r.d for r in sorted(frame.selectExpr("i", f"{expr} AS d").collect())]

    con = duckdb.connect()
    con.register("pairs", pairs.assign(i=np.arange(len(pairs))))
    got_duck = [r[0] for r in con.execute(
        f"SELECT {expr} FROM pairs ORDER BY i").fetchall()]

    assert got_spark == want
    assert got_duck == want
    assert want[:N] == [0] * N
    assert set(want[-2 * N:]) == {1}
