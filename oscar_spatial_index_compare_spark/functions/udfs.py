"""Arrow-batched pandas UDF factories over the grid kernels (SURVEY §2.2).

The only Python that ever touches row data in this engine goes through these
vectorized UDFs (north_rule: no per-row Python).  Grids that expose native
column hooks (zxy everything; s2 level/parent/range; hex level) never reach
Python at all — ``cell_col`` below picks the native path automatically.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..grids.base import get_grid


def cell_udf(grid_name: str, res: int):
    """(lat, lon) → cell_id as an Arrow-batched pandas UDF."""
    @F.pandas_udf(LongType())
    def _cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        g = get_grid(grid_name)
        return pd.Series(g.cell(lat.to_numpy(np.float64), lon.to_numpy(np.float64), res))
    return _cell


def cell_col(grid_name: str, lat_col: Column, lon_col: Column, res: int) -> Column:
    """point→cell, native column expr when the grid supports it, else UDF."""
    g = get_grid(grid_name)
    native = g.col_cell(lat_col, lon_col, res)
    if native is not None:
        return native
    return cell_udf(grid_name, res)(lat_col, lon_col)


def cells_arr_udf(grid_name: str, res: int):
    """(array<lat>, array<lon>) → array<cell_id>: the grid kernel over
    flattened batches — one numpy call per Arrow batch, never per row."""
    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(LongType()))
    def _cells(lats: pd.Series, lons: pd.Series) -> pd.Series:
        g = get_grid(grid_name)
        lens = np.fromiter((len(x) for x in lats), np.int64, count=len(lats))
        total = int(lens.sum())
        if total == 0:
            empty = np.empty(0, np.int64)
            return pd.Series([empty] * len(lats))
        flat_la = np.concatenate([np.asarray(x, np.float64) for x in lats])
        flat_lo = np.concatenate([np.asarray(x, np.float64) for x in lons])
        ids = np.asarray(g.cell(flat_la, flat_lo, res), np.int64)
        return pd.Series(np.split(ids, np.cumsum(lens)[:-1]))

    return _cells


def cells_arr_col(grid_name: str, lats_col: Column, lons_col: Column, res: int) -> Column:
    """Array-valued point→cell: native ``zip_with`` lambda when the grid has a
    column kernel (zxy), else ONE Arrow-batched UDF over the whole array."""
    g = get_grid(grid_name)
    probe = g.col_cell(F.lit(0.0), F.lit(0.0), res)
    if probe is not None:
        return F.zip_with(lats_col, lons_col, lambda la, lo: g.col_cell(la, lo, res))
    return cells_arr_udf(grid_name, res)(lats_col, lons_col)


def parent_udf(grid_name: str, res: int):
    @F.pandas_udf(LongType())
    def _parent(ids: pd.Series) -> pd.Series:
        g = get_grid(grid_name)
        return pd.Series(g.parent(ids.to_numpy(np.int64), res))
    return _parent


def parent_col(grid_name: str, id_col: Column, res: int, from_res: int | None = None) -> Column:
    g = get_grid(grid_name)
    native = g.col_parent(id_col, res, from_res)
    if native is not None:
        return native
    return parent_udf(grid_name, res)(id_col)


def parent1_col(grid_name: str, id_col: Column) -> Column:
    """One-level-up parent as a column expression, valid for MIXED levels in
    one column — the workhorse of ancestor-chain explodes (HCQR rollup).
    s2: pure lsb arithmetic; zxy: shift fields; hex: vectorized UDF."""
    if grid_name == "s2":
        lsb = id_col.bitwiseAND(-id_col)
        nl = F.shiftleft(lsb, 2)
        return id_col.bitwiseAND(-nl).bitwiseOR(nl)
    if grid_name == "zxy":
        z = F.shiftright(id_col, 56)
        x = F.shiftright(id_col, 28).bitwiseAND(F.lit((1 << 28) - 1))
        y = id_col.bitwiseAND(F.lit((1 << 28) - 1))
        return (
            (z - 1) * F.lit(1 << 56).cast("long")
            + F.shiftright(x, 1) * F.lit(1 << 28).cast("long")
            + F.shiftright(y, 1)
        )
    if grid_name == "htm":
        return F.shiftright(id_col, 2)

    @F.pandas_udf(LongType())
    def _p1(ids: pd.Series) -> pd.Series:
        g = get_grid(grid_name)
        return pd.Series(g.parent(ids.to_numpy(np.int64)))
    return _p1(id_col)
