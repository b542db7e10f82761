"""DuckDB-oracle SQL generation for op-tree queries.

Mirrors the planner node-for-node in plain ANSI SQL over the raw
``documents`` table (the driver's correctness harness runs these
side-by-side with the Spark plans) — the reference's differential
verification against OSCAR's original cell index (``apps/main.cpp:193-205``)
with DuckDB in the oracle seat.

Lowering model: every op-tree node denotes a **support relation**
``S(node) ⊆ (doc_id, cell_id)`` — the per-cell doc lists of its CQR with
full-match rows expanded to the whole cell population:

  * token leaf   S = docs-matching-token × their mention cells
  * region leaf  S = (doc, cell) of mentions strictly inside the polygon
  * cell leaf    S = all (doc, cell) rows of that one cell
  * ∪ / ∩ / −    plain UNION / INTERSECT / EXCEPT on the pairs — the CQR
                 fm/pm case analysis (fm∩pm→pm, fm−pm→totals-except, …) is
                 exactly pairwise set algebra once fm is expanded
  * fm (Q8)      S = all (doc, cell) pairs of the cells where the child's
                 support is non-empty
  * flatten      π_doc(S)

This makes region/poly leaves and FM_CONVERSION composable in the oracle in
any nesting (the naive doc-set-only lowering breaks for fm over regions:
a region CQR holds only the cells *inside* the region, not every cell its
matching docs touch).
"""

from __future__ import annotations

from ..grids.zxy import ZXY
from ..sources.gazetteer import mentions_subquery_sql
from ..sources.regions import region_by_id, region_by_name
from .optree import Node, parse


def _ctes(res: int) -> str:
    cell = ZXY.cell_sql("m.lat", "m.lon", res)
    return f"""mentions AS (
  SELECT * FROM {mentions_subquery_sql()}
),
mcells AS (
  SELECT DISTINCT m.doc_id, {cell} AS cell_id FROM mentions m
)"""


def _token_leaf_sql(pat: str, qt: str) -> str:
    if qt == "exact":
        cond = f"list_contains(string_split(text, ' '), '{pat}')"
    elif qt == "prefix":
        cond = f"len(list_filter(string_split(text, ' '), t -> t LIKE '{pat}%')) > 0"
    elif qt == "suffix":
        cond = f"len(list_filter(string_split(text, ' '), t -> t LIKE '%{pat}')) > 0"
    else:  # substring
        cond = f"len(list_filter(string_split(text, ' '), t -> t LIKE '%{pat}%')) > 0"
    return f"SELECT doc_id FROM documents WHERE {cond}"


def _support_sql(n: Node, res: int) -> str:
    """SQL producing the (doc_id, cell_id) support relation of the node."""
    cell = ZXY.cell_sql("m.lat", "m.lon", res)
    if n.op == "token":
        return (
            f"SELECT doc_id, cell_id FROM mcells WHERE doc_id IN "
            f"({_token_leaf_sql(*n.args)})"
        )
    if n.op in ("region", "poly", "rect"):
        import numpy as np

        from ..functions.geo import pip_sql

        if n.op == "rect":
            la0, la1, lo0, lo1 = n.args
            poly = np.array(
                [[la0, lo0], [la0, lo1], [la1, lo1], [la1, lo0]], np.float64)
        else:
            poly = region_by_id(n.args[0]) if n.op == "region" else region_by_name(n.args[0])
        return (
            f"SELECT DISTINCT m.doc_id, {cell} AS cell_id FROM mentions m "
            f"WHERE {pip_sql('m.lat', 'm.lon', poly)}"
        )
    if n.op == "dilate":
        # one-ring zxy dilation: neighbor cells NOT already in the child
        # join with their full population (fm semantics); x wraps, y clamps
        child = _support_sql(n.args[0], res)
        mask = (1 << 28) - 1
        return f"""SELECT doc_id, cell_id FROM mcells WHERE cell_id IN (
  SELECT (CAST({res} AS BIGINT) * (1::BIGINT << 56)) + (((c.x + d.dx + nn.n) % nn.n) * (1::BIGINT << 28)) + (c.y + d.dy)
  FROM (SELECT DISTINCT (cell_id // (1::BIGINT << 28)) % {mask + 1} AS x,
               cell_id % {mask + 1} AS y FROM ({child})) c
  CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)) d(dx, dy)
  CROSS JOIN (SELECT (1::BIGINT << {res}) AS n) nn
  WHERE c.y + d.dy >= 0 AND c.y + d.dy < nn.n
) AND cell_id NOT IN (SELECT DISTINCT cell_id FROM ({child}))
UNION SELECT * FROM ({child})"""
    if n.op == "cell":
        return f"SELECT doc_id, cell_id FROM mcells WHERE cell_id = {n.args[0]}"
    if n.op == "fm":
        child = _support_sql(n.args[0], res)
        return (
            f"SELECT doc_id, cell_id FROM mcells WHERE cell_id IN ("
            f"SELECT DISTINCT cell_id FROM ({child}))"
        )
    l = _support_sql(n.args[0], res)
    r = _support_sql(n.args[1], res)
    if n.op == "union":
        return f"SELECT * FROM ({l}) UNION SELECT * FROM ({r})"
    if n.op == "inter":
        return f"SELECT * FROM ({l}) INTERSECT SELECT * FROM ({r})"
    if n.op == "diff":
        return f"SELECT * FROM ({l}) EXCEPT SELECT * FROM ({r})"
    if n.op == "sym":
        return (
            f"SELECT * FROM (SELECT * FROM ({l}) UNION SELECT * FROM ({r})) "
            f"EXCEPT SELECT * FROM (SELECT * FROM ({l}) INTERSECT SELECT * FROM ({r}))"
        )
    raise ValueError(n.op)


_HCQR_STATS_SAFE_OPS = frozenset({"inter", "token", "region", "poly", "rect", "cell"})


def _assert_intersection_only(n: Node) -> None:
    """hcqr_stats_oracle_sql's extensional-fm classification is only
    equivalent to the engine's structural one for intersection-shaped trees
    (see its docstring); fail loudly on anything else."""
    if n.op not in _HCQR_STATS_SAFE_OPS:
        raise ValueError(
            f"hcqr_stats_oracle_sql is valid only for intersection-shaped "
            f"trees (ops {sorted(_HCQR_STATS_SAFE_OPS)}); found {n.op!r} — "
            f"use a brute-force check instead"
        )
    for a in n.args:
        if isinstance(a, Node):
            _assert_intersection_only(a)


def hcqr_stats_oracle_sql(query: str, res: int = 9) -> str:
    """DuckDB twin of ``hcqr_stats`` over the zxy grid (r02 VERDICT item 7:
    depth/node-count over zxy pixels is closed-form ancestor arithmetic).

    Reproduces the engine's single-pass compaction semantics
    (operators/hcqr.py compactify): leaves of the result CQR classify fm
    extensionally (support covers every doc of the cell); an ancestor is a
    candidate iff its fm leaves cover every populated leaf of its subtree;
    fm rows of the compacted tree are the MAXIMAL candidates (parent not a
    candidate); pm rows stay at res.  Stats mirror ``apps/mainq.cpp:151-156``.

    VALID ONLY for trees of token/region leaves and INTERSECTIONS: for ∩ the
    structural fm flag equals the extensional test (a proper subset ∩
    anything cannot cover a full cell), while ∪ of two pm rows may cover a
    cell extensionally yet stay pm structurally.  ENFORCED below — a tree
    containing union/diff/sym/fm/dilate raises instead of silently
    mis-verifying (VERDICT r03 item 6); pytest covers union-tree stats by
    brute force instead (tests/test_hcqr.py).  zxy ancestor math:
    pixel = z·2^56 + x·2^28 + y; ancestor at distance k =
    (z−k)·2^56 + ⌊x/2^k⌋·2^28 + ⌊y/2^k⌋.
    """
    ast = parse(query)
    _assert_intersection_only(ast)
    sup = _support_sql(ast, res)
    anc = ("(zz - k) * (1::BIGINT << 56) + (xx // (1::BIGINT << k)) * (1::BIGINT << 28)"
           " + (yy // (1::BIGINT << k))")
    unpack = ("cell_id // (1::BIGINT << 56) AS zz,"
              " (cell_id // (1::BIGINT << 28)) % (1::BIGINT << 28) AS xx,"
              " cell_id % (1::BIGINT << 28) AS yy")
    return f"""WITH {_ctes(res)},
sup AS ({sup}),
totals AS (SELECT cell_id, COUNT(DISTINCT doc_id) AS n_total FROM mcells GROUP BY 1),
leaves AS (
  SELECT s.cell_id, COUNT(DISTINCT s.doc_id) AS n_sup, t.n_total
  FROM sup s JOIN totals t USING (cell_id) GROUP BY s.cell_id, t.n_total),
fm_leaves AS (SELECT cell_id, {unpack} FROM leaves WHERE n_sup = n_total),
pm_leaves AS (SELECT cell_id, n_sup FROM leaves WHERE n_sup < n_total),
pop AS (SELECT cell_id, {unpack} FROM (SELECT DISTINCT cell_id FROM mcells)),
ks AS (SELECT k FROM generate_series(0, {res}) t(k)),
pop_anc AS (
  SELECT {anc} AS apix, {res} - k AS alvl, COUNT(*) AS tot
  FROM pop, ks GROUP BY 1, 2),
cov AS (
  SELECT {anc} AS apix, {res} - k AS alvl, COUNT(*) AS cov
  FROM fm_leaves, ks GROUP BY 1, 2),
cand AS (
  SELECT c.apix, c.alvl FROM cov c JOIN pop_anc p
  ON c.apix = p.apix AND c.alvl = p.alvl
  WHERE c.cov = p.tot AND p.tot > 0),
maximal AS (
  SELECT apix, alvl FROM cand c
  WHERE NOT EXISTS (
    SELECT 1 FROM cand p WHERE p.alvl = c.alvl - 1
    AND p.apix = (c.apix // (1::BIGINT << 56) - 1) * (1::BIGINT << 56)
      + (((c.apix // (1::BIGINT << 28)) % (1::BIGINT << 28)) // 2) * (1::BIGINT << 28)
      + (c.apix % (1::BIGINT << 28)) // 2)),
hrows AS (
  SELECT apix AS pixel_id, alvl AS level FROM maximal
  UNION ALL SELECT cell_id, {res} FROM pm_leaves),
unp AS (SELECT pixel_id, level, pixel_id // (1::BIGINT << 56) AS zz,
       (pixel_id // (1::BIGINT << 28)) % (1::BIGINT << 28) AS xx,
       pixel_id % (1::BIGINT << 28) AS yy FROM hrows),
allnodes AS (
  SELECT DISTINCT {anc} AS apix, level - k AS alvl
  FROM unp, ks WHERE k <= level)
SELECT CAST(MAX(r.level) + 1 AS BIGINT) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_leaves,
       CAST((SELECT COUNT(*) FROM maximal) AS BIGINT) AS n_fm,
       CAST(COALESCE((SELECT SUM(n_sup) FROM pm_leaves), 0) AS BIGINT) AS pm_items,
       CAST((SELECT COUNT(*) FROM allnodes) AS BIGINT) AS n_nodes
FROM hrows r"""


def optree_oracle_sql(query: str, res: int = 9) -> str:
    """Op-tree query string → DuckDB SQL for the flattened doc set.

    ``res`` must equal the zxy resolution the Spark plan runs at whenever the
    tree contains cell-sensitive nodes (fm-conversion, $cell); pure set-op
    trees flatten to the same doc set at any res (the compositional
    invariant, proven per-op in tests/test_optree_parser.py docstrings).
    """
    ast = parse(query)
    return (
        f"WITH {_ctes(res)}\n"
        f"SELECT DISTINCT doc_id FROM ({_support_sql(ast, res)})"
    )
