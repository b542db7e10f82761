"""Raster↔vector web-Mercator tile aggregation, z0-z15 (SURVEY X3).

Pure column math end-to-end: lat/lon → (z,x,y) via the zxy grid's native
expressions, then a groupBy count — the whole plan is whole-stage codegen +
one shuffle with map-side partial aggregation.  The "vector side" joins tile
ids to grid cells by containment (tile_cells) for raster↔vector movement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..grids.zxy import ZXY


def tiles(mcells: DataFrame, zooms: list[int]) -> DataFrame:
    """mentions(+coords) → (z, x, y, n_docs, n_mentions) per zoom level."""
    parts = []
    for z in zooms:
        cell = ZXY.col_cell(F.col("lat"), F.col("lon"), z)
        t = mcells.select(
            F.lit(z).alias("z"),
            F.shiftright(cell, 28).bitwiseAND(F.lit((1 << 28) - 1)).alias("x"),
            cell.bitwiseAND(F.lit((1 << 28) - 1)).alias("y"),
            "doc_id",
        )
        parts.append(
            t.groupBy("z", "x", "y").agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count("*").cast("long").alias("n_mentions"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def tiles_oracle_sql(zooms: list[int]) -> str:
    """DuckDB twin: same mercator floor-math on the jittered mentions."""
    from ..sources.gazetteer import mentions_subquery_sql

    selects = []
    for z in zooms:
        cell = ZXY.cell_sql("m.lat", "m.lon", z)
        selects.append(f"""
SELECT {z} AS z,
       (({cell}) // {1 << 28}) % {1 << 28} AS x,
       ({cell}) % {1 << 28} AS y,
       COUNT(DISTINCT m.doc_id) AS n_docs,
       COUNT(*) AS n_mentions
FROM {mentions_subquery_sql()} m
GROUP BY 1, 2, 3""")
    return "\nUNION ALL\n".join(selects)
