"""Scalar geo functions, each built once from one formula.

Haversine, meter quantization and point-in-polygon are SQL text: one
string that both Spark and the DuckDB oracle evaluate (``pip_hof_sql`` is
``pip_sql``'s bit-identical polygon-independent Spark form), with numpy
twins for driver-side bounds.  So the side-by-side correctness harness
verifies geo operators bit-for-bit without any geo library on either side.

Reference analogs: exact PIP refinement plays the role of the reference's
exact triangulation lookup ``tr.cellIds(p)`` (``src/OscarSgIndex.cpp:106-111``);
haversine backs the kNN distance (reference stubs NEAR — SURVEY Q9/X2).
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_KM = 6371.0088


# --------------------------------------------------------------------------
# haversine
# --------------------------------------------------------------------------

def _double(x: float) -> str:
    """A DOUBLE literal in both dialects: Spark parses a bare ``2.0`` as a
    DECIMAL, so every constant is spelled as a cast string."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle km as SQL: the formula of ``haversine_np``, op for op."""
    def half(a: str, b: str) -> str:
        return f"SIN(RADIANS(({b}) - ({a})) / {_double(2.0)})"

    dp, dl = half(lat1, lat2), half(lon1, lon2)
    return (
        f"({_double(2.0 * EARTH_RADIUS_KM)} * ASIN(SQRT(LEAST("
        f"{dp} * {dp} + COS(RADIANS({lat1})) * COS(RADIANS({lat2})) * ({dl} * {dl})"
        f", {_double(1.0)}))))"
    )


def haversine_np(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = np.radians(lat2 - lat1) / 2.0
    dl = np.radians(lon2 - lon1) / 2.0
    a = np.sin(dp) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.clip(a, 0, 1)))


# --------------------------------------------------------------------------
# point-in-polygon (ray casting), polygon fixed at plan time
# --------------------------------------------------------------------------

def pip_sql(lat: str, lon: str, poly: np.ndarray) -> str:
    """Ray-casting PIP as an SQL boolean with the polygon inlined.

    Same edge formula as grids.base.point_in_poly: a crossing is counted
    when the edge straddles the point's latitude and the intersection
    longitude lies east of the point.
    """
    x1s, y1s = poly[:, 1], poly[:, 0]
    x2s, y2s = np.roll(x1s, -1), np.roll(y1s, -1)
    terms = []
    for x1, y1, x2, y2 in zip(x1s, y1s, x2s, y2s):
        terms.append(
            f"(CASE WHEN (({y1!r} > ({lat})) <> ({y2!r} > ({lat})))"
            f" AND (({lon}) < {x2 - x1!r} * (({lat}) - {y1!r}) / {y2 - y1!r} + {x1!r})"
            f" THEN 1 ELSE 0 END)"
        )
    return "((" + (" + ".join(terms) or "0") + ") % 2 = 1)"  # no edges: outside


def pip_hof_sql(lat: str, lon: str, poly: np.ndarray) -> str:
    """pip_sql's crossing test with the edge constants carried as ONE
    array<struct> literal folded through an ``aggregate`` higher-order
    function.

    Bit-identical to ``pip_sql``: the per-edge arithmetic is the same ops in
    the same order on the same driver-precomputed constants (``x2 - x1`` /
    ``y2 - y1`` are folded in Python exactly as the unrolled form's literal
    subtraction folds at plan time), and the crossing sum accumulates
    sequentially in edge order (integer adds — order-insensitive anyway).
    Verified 0 differing rows over the full corpus in r06.

    Why it exists (guide §7.2 duplicated-codegen class): the unrolled form
    inlines the vertex doubles into the generated Java source, so EVERY
    distinct polygon recompiles its whole-stage method (~0.6-1.5 s measured
    per polygon).  Here the literals live in the codegen references array
    (HOFs are CodegenFallback), the generated source is polygon-independent
    and janino's cache makes every polygon after the first compile-free.
    The trade: interpreted evaluation is ~3x slower per row (measured 1.19 s
    vs 0.39 s per 16M rows x 32 cores), so callers choose this form only
    under a driver-known bound on PIP-evaluated rows — compile cost
    amortizes at scale, per-row speed does not.
    """
    x1s, y1s = poly[:, 1], poly[:, 0]
    x2s, y2s = np.roll(x1s, -1), np.roll(y1s, -1)
    # float() before !r: np.float64's repr is the bare number on numpy 1.x
    # but 'np.float64(…)' on numpy 2.x, which CAST('…' AS DOUBLE) would
    # turn into silent NULLs (review r06); plain float reprs are identical
    # on both and parse exactly
    edges = ", ".join(
        f"named_struct('y1', CAST('{float(y1)!r}' AS DOUBLE), "
        f"'y2', CAST('{float(y2)!r}' AS DOUBLE), "
        f"'dx', CAST('{float(x2) - float(x1)!r}' AS DOUBLE), "
        f"'dy', CAST('{float(y2) - float(y1)!r}' AS DOUBLE), "
        f"'x1', CAST('{float(x1)!r}' AS DOUBLE))"
        for x1, y1, x2, y2 in zip(x1s, y1s, x2s, y2s))
    return (
        f"(aggregate(array({edges}), 0, (acc, e) -> acc + "
        f"(CASE WHEN ((e.y1 > ({lat})) <> (e.y2 > ({lat})))"
        f" AND (({lon}) < e.dx * (({lat}) - e.y1) / e.dy + e.x1)"
        f" THEN 1 ELSE 0 END)) % 2 = 1)"
    )


# --------------------------------------------------------------------------
# distance quantization for cross-engine comparison
# --------------------------------------------------------------------------

def dist_m_sql(km_expr: str) -> str:
    """Distance in integer meters — stable across Spark/DuckDB libm ulps."""
    return (f"CAST(FLOOR(({km_expr}) * {_double(1000.0)} + {_double(0.5)})"
            " AS BIGINT)")
