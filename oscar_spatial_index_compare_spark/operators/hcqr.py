"""HCQR — hierarchical cell query results (SURVEY §2.3 B8, §2.4, M6).

Reference: ``HCQRSpatialGrid`` trees (node = {fullMatch:1, pmItems:31,
children[4]}, ``include/hic/HtmCqr.h:24-56``), built per token by
``OscarSearchHCQRTextIndexCreator`` (``src/static-htm-index.cpp:250-449``),
combined with ``+ / -`` and ``allToFull`` (``src/HcqrOpTree.cpp:68-141``),
measured by ``depth()/numberOfNodes()`` (``apps/mainq.cpp:151-156``).

DataFrame encoding — **normal form**:
  (pixel_id long, level int, is_fm boolean, doc_ids array<long>)
  * rows are pairwise disjoint (no row is an ancestor of another);
  * pm rows live exactly at the leaf res R; fm rows at any level ≤ R
    (that is what rolling up "4/7 fm children → fm parent" can produce —
    reference ``compactified(level)``, ``src/static-htm-index.cpp:359-362``).

Compactify is **single-pass**, no fixed-point loop: an ancestor is
promotable iff its fm rows cover every populated leaf of its subtree (one
groupBy per level; populated counts are cached per QueryContext).  Set ops
never split trees except difference — see the section comment below.
``items()`` provably matches the flat CQR result — asserted in
tests/test_hcqr.py, mirroring the reference's HCQR-vs-CQR differential
check (``apps/mainq.cpp:399-482``).
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import parent1_col, parent_col
from ..grids.base import get_grid
from ..session import local_frame
from .cqr import FM_EXPRS

HCQR_COLS = ["pixel_id", "level", "is_fm", "doc_ids"]


def hcqr_from_cqr(cqr: DataFrame, grid: str, res: int, ctotals: DataFrame,
                  pop_anc: DataFrame | None = None) -> DataFrame:
    """CQR at res → compactified HCQR (B8 sge2shcqr/sge2cn analog)."""
    leaves = cqr.selectExpr(
        "cell_id AS pixel_id", f"{res} AS level", "is_fm", "doc_ids")
    # plan boundary: an HCQR is reused many times by the op layer and the
    # compactify internals reference their input ~levels× — without a
    # boundary here, nested ops make Catalyst analysis explode
    # multiplicatively (observed: minutes of driver CPU on a 3-node tree).
    # eager=False is NOT lazy under AQE: to hand back the checkpoint RDD,
    # AQE runs every shuffle and broadcast stage beneath this call right
    # here; only the final, exchange-free stage waits for the next action.
    return compactify(leaves, grid, res, ctotals, pop_anc).localCheckpoint(eager=False)


_M28 = (1 << 28) - 1


def _anc_sql(grid: str, k: int, c: str = "pixel_id") -> str | None:
    """SQL for the ancestor ``k`` levels above the id column ``c`` (k=0:
    the cell itself), valid for mixed levels in one column; None on grids
    without prefix ids (hex).  Closed form per k (s2: ``(id & -(lsb<<2k))
    | (lsb<<2k)``; zxy: field shifts), so an explode over k stays O(levels):
    chained one-level parents would be collapsed by Catalyst's
    CollapseProject into a 4^depth tree and hang the optimizer (observed)."""
    if grid == "s2":
        nl = f"shiftleft({c} & -{c}, {2 * k})"
        return f"(({c} & -{nl}) | {nl})"
    if grid == "htm":
        return f"shiftright({c}, {2 * k})"
    if grid == "zxy":
        return (f"((shiftright({c}, 56) - {k}) * {1 << 56}"
                f" + shiftright(shiftright({c}, 28) & {_M28}, {k}) * {1 << 28}"
                f" + shiftright({c} & {_M28}, {k}))")
    return None


def explode_ancestors(df: DataFrame, grid: str, res: int,
                      keep: list[str]) -> DataFrame:
    """→ (apix, alvl, *keep): one row per (row, ancestor-or-self) pair, from
    the row's own level up to level 0 (a coarse row's res+1 chain runs past
    level 0; the ``alvl >= 0`` filter drops those rows).  Prefix grids: one
    SQL explode of ``_anc_sql`` per k; hex: one array-returning vectorized
    UDF + posexplode."""
    if _anc_sql(grid, 0) is not None:
        entries = ", ".join(
            f"named_struct('apix', {_anc_sql(grid, k)}, 'alvl', CAST(level - {k} AS INT))"
            for k in range(res + 1))
        e = df.selectExpr(*keep, f"explode(array({entries})) AS e")
    else:
        import pandas as pd
        from pyspark.sql.types import ArrayType, LongType

        @F.pandas_udf(ArrayType(LongType()))
        def _anc_arr(ids):  # no hints: pd not module-level (future annotations)
            g = get_grid(grid)
            cur = ids.to_numpy(np.int64)
            cols = [cur]
            for _ in range(res):
                cur = g.parent(cur)
                cols.append(cur)
            m = np.stack(cols, axis=1)
            return pd.Series(list(m))

        e = df.select(
            *keep, "level",
            F.posexplode(_anc_arr(F.col("pixel_id"))).alias("k", "apix"),
        ).selectExpr(
            *keep, "named_struct('apix', apix, 'alvl', CAST(level - k AS INT)) AS e")
    return e.selectExpr(*keep, "e.apix AS apix", "e.alvl AS alvl").where(
        "alvl >= 0")


def _maximal(cand: DataFrame, grid: str, key: tuple = ()) -> DataFrame:
    """Candidate (``*key``, pixel_id, level) rows whose one-level parent is
    not itself a candidate, as fm rows."""
    pp = _anc_sql(grid, 1)
    withp = (cand.withColumn("pp", parent1_col(grid, F.col("pixel_id")))
             if pp is None else cand.selectExpr("*", f"{pp} AS pp"))
    return withp.selectExpr("*", "CAST(level - 1 AS INT) AS plvl").join(
        cand.selectExpr(*key, "pixel_id AS pp", "level AS plvl"),
        [*key, "pp", "plvl"], "left_anti",
    ).selectExpr(*key, *_FM_COLS)


def hcqr_postings_build(tpostings: DataFrame, ctotals: DataFrame, grid: str,
                        res: int, pop_anc: DataFrame | None = None) -> DataFrame:
    """Pre-build the per-token compactified HCQR payload table
    ``(token, pixel_id, level, is_fm, doc_ids)`` — the reference's static
    HCQR index create step (``OscarSearchHCQRTextIndexCreator``,
    ``src/static-htm-index.cpp:250-449``; ``apps/mainc.cpp:152-157`` hcqr
    mode), so query-time token leaves are ONE pushed-filter scan instead of
    a per-query CQR lift + compaction (r03 VERDICT item 4).

    Same single-pass promotion rule as ``compactify`` but grouped by token:
    every fm posting row is a populated res-level leaf (tpostings joins
    cell_totals at build), weight 1; an ancestor is promotable for a token
    iff that token's fm leaves cover every populated leaf of its subtree;
    emitted fm rows are the maximal candidates.  pm rows pass through at
    leaf res unchanged.  ONE ancestor explode + two groupBys for the whole
    dictionary — fully distributed, no driver-side token loop.
    """
    tp = tpostings.selectExpr(
        "token", "cell_id AS pixel_id", f"{res} AS level", "is_fm", "doc_ids")
    if pop_anc is None:
        pop_anc = pop_ancestor_counts(ctotals, grid, res)
    fm = tp.where("is_fm").selectExpr("*", "1L AS w")
    anc = explode_ancestors(fm, grid, res, keep=["token", "w"])
    cand = (
        anc.groupBy("token", "apix", "alvl").agg(F.expr("sum(w) AS cov"))
        .join(pop_anc, ["apix", "alvl"]).where("cov = tot AND tot > 0")
        .selectExpr("token", "apix AS pixel_id", "alvl AS level")
        # referenced twice by _maximal (probe AND build side): without a
        # plan boundary the whole fm-explode + two-groupBy subtree executes
        # once per reference (this call already runs its shuffle stages
        # under AQE; the second reference reads the blocks — r06)
        .localCheckpoint(eager=False)
    )
    return _maximal(cand, grid, ("token",)).unionByName(
        tp.where("NOT is_fm").selectExpr("token", *HCQR_COLS))


def pop_ancestor_counts(ctotals: DataFrame, grid: str, res: int) -> DataFrame:
    """(apix, alvl, tot): populated-leaf count per ancestor pixel/level —
    ONE explode + ONE groupBy; cache it per QueryContext."""
    pop = ctotals.selectExpr("cell_id AS pixel_id", f"{res} AS level")
    anc = explode_ancestors(pop, grid, res, keep=[])
    return anc.groupBy("apix", "alvl").agg(F.expr("count(1) AS tot"))


def compactify(h: DataFrame, grid: str, res: int, ctotals: DataFrame,
               pop_anc: DataFrame | None = None) -> DataFrame:
    """Roll maximal all-fm subtrees up to single fm ancestors.

    Promotion rule (faithful to the reference's "all items of the pixel
    match" semantics, ``src/OscarSearchSgIndex.cpp:185-190``): an ancestor is
    promotable iff the fm rows below it cover **every populated leaf** in its
    subtree — empty cells don't block (and branch-arity assumptions, unsafe
    for the 7-ary hex grid, are never needed).  Each fm row carries a weight
    w = populated leaves covered; ancestors accumulate w via ONE
    ancestor-chain explode + groupBy, compared against ``pop_anc``
    (pop_ancestor_counts, cached per context).  Total: ~4 shuffles,
    independent of depth.  fm rows over no populated leaf are dropped.
    """
    if pop_anc is None:
        pop_anc = pop_ancestor_counts(ctotals, grid, res)
    # weight per fm row = populated leaves covered: 1 for a populated leaf;
    # a coarse row's own (pixel, level) is an ancestor key in pop_anc
    leaf_fm = h.where(f"is_fm AND level = {res}").join(
        ctotals.selectExpr("cell_id AS pixel_id"), "pixel_id", "left_semi")
    up_fm = h.where(f"is_fm AND level < {res}").join(
        pop_anc.selectExpr("apix AS pixel_id", "alvl AS level", "tot"),
        ["pixel_id", "level"], "left")
    fmw = leaf_fm.selectExpr("pixel_id", "level", "1L AS w").unionByName(
        up_fm.selectExpr("pixel_id", "level", "coalesce(tot, 0L) AS w"))
    anc = explode_ancestors(fmw, grid, res, keep=["w"])
    cand = (
        anc.groupBy("apix", "alvl").agg(F.expr("sum(w) AS cov"))
        .join(pop_anc, ["apix", "alvl"]).where("cov = tot AND tot > 0")
        .selectExpr("apix AS pixel_id", "alvl AS level")
    )
    return _maximal(cand, grid).unionByName(h.where("NOT is_fm"))


# ---------------------------------------------------------------------------
# set operations — range-join native (no tree splitting except difference)
# ---------------------------------------------------------------------------
#
# Key insight: with the normal form (fm rows disjoint at any level, pm rows
# only at leaf res), union and intersection NEVER need to split fm rows:
#   union        — fm rows absorb contained rows of the other side
#   intersection — the *deeper* row of any containing pair IS the result
# Only difference must decompose an fm row around the contained right-side
# rows; the decomposition is pure id bit-math on the (small) set of
# overlapping pairs, computed driver-side like a covering, while all
# postings stay distributed.  Containment joins: s2 = contiguous-range
# BETWEEN (native bit ops, file-prunable at scale); zxy = ancestor equality
# via shifts.  The 7-ary hex grid has no prefix ids → HCQR ops raise (the
# reference similarly supports ops only on its 4-ary prefix grids' trees).
#
# Every expression below is SQL text (selectExpr / where(str) / one F.expr
# per join condition): on classic PySpark each F.col costs ~19 py4j round
# trips, a selectExpr 9, a where(str) 1, so Column trees made plan
# construction, not execution, most of an HCQR op's wall.


def _fside(df: DataFrame, grid: str) -> DataFrame:
    """Containing ('f') side of a containment join, columns renamed flat —
    fresh exprIds so self-joins never trip ambiguity detection — and
    broadcast (it is the small side of every containment join)."""
    cols = ["pixel_id AS f_pixel", "level AS f_level"]
    if grid == "s2":
        cols += ["pixel_id - ((pixel_id & -pixel_id) - 1) AS f_lo",
                 "pixel_id + ((pixel_id & -pixel_id) - 1) AS f_hi"]
    return df.selectExpr(*cols).hint("broadcast")


def _contains_cond(grid: str) -> str:
    """Join condition: f row (fm) contains-or-equals o row (plain columns)."""
    if grid == "s2":
        return "pixel_id >= f_lo AND pixel_id <= f_hi AND level >= f_level"
    if grid == "zxy":
        d = "pow(2.0D, level - f_level)"
        return (f"level - f_level >= 0 AND CAST(f_level AS BIGINT) * {1 << 56}"
                f" + CAST((shiftright(pixel_id, 28) & {_M28}) / {d} AS BIGINT) * {1 << 28}"
                f" + CAST((pixel_id & {_M28}) / {d} AS BIGINT) = f_pixel")
    if grid == "htm":
        # ids < 2^44: double division by 4^d is exact, cast truncates = floor
        return ("level - f_level >= 0 AND CAST(CAST(pixel_id AS DOUBLE)"
                " / pow(4.0D, level - f_level) AS BIGINT) = f_pixel")
    raise NotImplementedError("HCQR set ops require a prefix-id grid (s2/zxy/htm)")


def _strict_cond(grid: str) -> str:
    return f"{_contains_cond(grid)} AND level > f_level"


def _semi(df: DataFrame, f: DataFrame, grid: str, how: str,
          strict: bool = False) -> DataFrame:
    """Rows of ``df`` (not) contained in an f row of ``f``."""
    cond = _strict_cond(grid) if strict else _contains_cond(grid)
    return df.join(_fside(f, grid), F.expr(cond), how)


_FM_COLS = ("pixel_id", "level", *FM_EXPRS)


def hcqr_all_to_full(h: DataFrame) -> DataFrame:
    return h.selectExpr(*_FM_COLS)


def _union_all(parts: list[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, parts)


def _hcqr_union(l: DataFrame, r: DataFrame, grid: str) -> DataFrame:
    fm = l.where("is_fm").unionByName(r.where("is_fm")).dropDuplicates(
        ["pixel_id", "level"])
    # keep only fm rows not strictly inside another fm row
    keep = _semi(fm, fm, grid, "left_anti", strict=True)
    # pm rows: per-pixel union, then drop those covered by a kept fm row
    j = l.where("NOT is_fm").alias("l").join(
        r.where("NOT is_fm").alias("r"), F.expr("l.pixel_id = r.pixel_id"),
        "full_outer")
    pm = j.selectExpr(
        "coalesce(l.pixel_id, r.pixel_id) AS pixel_id",
        "coalesce(l.level, r.level) AS level", "false AS is_fm",
        "CASE WHEN l.doc_ids IS NULL THEN r.doc_ids"
        " WHEN r.doc_ids IS NULL THEN l.doc_ids"
        " ELSE array_sort(array_union(l.doc_ids, r.doc_ids)) END AS doc_ids")
    return keep.unionByName(_semi(pm, keep, grid, "left_anti"))


def _hcqr_intersect(l: DataFrame, r: DataFrame, grid: str) -> DataFrame:
    lf, rf = l.where("is_fm"), r.where("is_fm")
    lp, rp = l.where("NOT is_fm"), r.where("NOT is_fm")
    return _union_all([
        # the deeper (or equal) row of a containing fm/fm pair
        _semi(rf, lf, grid, "left_semi"),
        _semi(lf, rf, grid, "left_semi", strict=True),
        # fm contains pm (incl. equal leaf pixel) → the pm row
        _semi(rp, lf, grid, "left_semi"),
        _semi(lp, rf, grid, "left_semi"),
        # pm ∩ pm at equal leaf pixels
        lp.alias("l").join(rp.alias("r"), F.expr("l.pixel_id = r.pixel_id"))
        .selectExpr("l.pixel_id AS pixel_id", "l.level AS level", "false AS is_fm",
                    "array_sort(array_intersect(l.doc_ids, r.doc_ids)) AS doc_ids")
        .where("size(doc_ids) > 0"),
    ])


def _decompose_fm(grid: str, jobs: list[tuple[int, int, list[tuple[int, int]]]]):
    """Driver-side bit-math: decompose fm cell X (level lx) around the
    contained pixels P.  Returns (fm_cells[(pixel, level)], leaf_hits[pixel])
    where leaf_hits are the P members themselves (their handling depends on
    the right row's fm/pm type, resolved by the caller)."""
    g = get_grid(grid)
    fm_cells: list[tuple[int, int]] = []
    leaf_hits: list[int] = []
    for xpix, xlvl, plist in jobs:
        frontier = [(xpix, xlvl)]
        # dedup once, then ONE vectorized is_ancestor per frontier cell —
        # the per-(cell, pair) single-element numpy calls this replaces
        # were O(levels × frontier × pset) Python overhead and dominated
        # driver wall near MAX_DRIVER_OVERLAP_PAIRS (r5 review)
        pairs = list({(pp, pl) for pp, pl in plist})
        parr = np.fromiter((p for p, _ in pairs), np.int64, len(pairs))
        larr = np.fromiter((l for _, l in pairs), np.int64, len(pairs))
        maxlvl = int(larr.max())
        for lvl in range(xlvl, maxlvl + 1):
            nxt = []
            for cpix, clvl in frontier:
                if clvl != lvl:
                    nxt.append((cpix, clvl))
                    continue
                elig = larr >= clvl
                same = (parr == cpix) & (larr == clvl)
                anc = np.zeros(len(pairs), bool)
                n_el = int(elig.sum())
                if n_el:
                    anc[elig] = g.is_ancestor(
                        np.full(n_el, cpix, np.int64), parr[elig])
                hitmask = elig & (anc | same)
                nh = int(hitmask.sum())
                if nh == 0:
                    fm_cells.append((cpix, clvl))
                elif nh == 1 and bool(same[int(np.argmax(hitmask))]):
                    leaf_hits.append(cpix)
                else:
                    for kid in g.children(np.array([cpix]))[0].tolist():
                        nxt.append((int(kid), clvl + 1))
            frontier = nxt
        for cpix, clvl in frontier:
            # frontier cells at maxlvl+1 … cannot happen: children stop at maxlvl
            fm_cells.append((cpix, clvl))
    return fm_cells, leaf_hits


# overlap pairs above this are not collected; difference falls back to a
# fully distributed leaf-expansion decomposition (r01 VERDICT item 7: the
# driver collect was unbounded in principle)
MAX_DRIVER_OVERLAP_PAIRS = 100_000


def _totals_minus_pm(keys: DataFrame, rp: DataFrame, ctotals: DataFrame,
                     res: int) -> DataFrame:
    """Leaf pixels of ``keys`` that hold a pm_R row → pm rows of the cell
    totals minus the R docs (empty results dropped)."""
    return (
        keys.join(rp.selectExpr("pixel_id", "doc_ids AS rdocs"), "pixel_id")
        .join(ctotals.selectExpr("cell_id AS pixel_id", "doc_ids AS tdocs"), "pixel_id")
        .selectExpr("pixel_id", f"{res} AS level", "false AS is_fm",
                    "array_sort(array_except(tdocs, rdocs)) AS doc_ids")
        .where("size(doc_ids) > 0")
    )


def _difference_by_leaf_expansion(
    lf_surv: DataFrame, rall: DataFrame, rf: DataFrame, rp: DataFrame,
    grid: str, res: int, ctotals: DataFrame,
) -> list[DataFrame]:
    """Distributed decomposition of fm_L − R: expand every OVERLAPPED fm_L
    container to its populated leaves (ancestor equi-joins, no BNLJ), then
    subtract R at leaf level.  The leaves keep the normal form, and
    ``Planner.hcqr``'s root compactify() re-rolls them.  Never collects
    data-dependent rows to the driver."""
    over_keys = _semi(rall, lf_surv, grid, "inner").selectExpr(
        "f_pixel AS pixel_id", "f_level AS level").dropDuplicates()
    parts = [lf_surv.join(over_keys, ["pixel_id", "level"], "left_anti")]
    # populated leaves under the overlapped containers, one equi-join per
    # distinct container level (≤ res+1 driver-side values, never row data)
    lvls = [row.level for row in over_keys.select("level").dropDuplicates().collect()]
    leaves = _union_all([
        ctotals.selectExpr(f"{_anc_sql(grid, res - int(lvl), 'cell_id')} AS _anc",
                           "cell_id AS pixel_id", f"{res} AS level")
        .join(over_keys.where(f"level = {int(lvl)}").selectExpr("pixel_id AS _anc"),
              "_anc", "left_semi")
        for lvl in lvls
    ]).drop("_anc").dropDuplicates()
    # leaf ⊆ fm_R → gone entirely
    leaves = _semi(leaves, rf, grid, "left_anti")
    # leaf == pm_R pixel → cell totals − pm docs; else stays fm
    parts.append(_totals_minus_pm(leaves, rp, ctotals, res))
    parts.append(hcqr_all_to_full(
        leaves.join(rp.selectExpr("pixel_id"), "pixel_id", "left_anti")))
    return parts


def _hcqr_difference(
    l: DataFrame, r: DataFrame, grid: str, res: int,
    spark: SparkSession, ctotals: DataFrame,
) -> DataFrame:
    lf, rf = l.where("is_fm"), r.where("is_fm")
    rp = r.where("NOT is_fm")
    rall = rf.unionByName(rp)
    # pm_L: drop rows inside fm_R; subtract equal-pixel pm_R docs
    pm_surv = _semi(l.where("NOT is_fm"), rf, grid, "left_anti")
    parts = [
        pm_surv.alias("l").join(
            rp.selectExpr("pixel_id AS rpix", "doc_ids AS rdocs"),
            F.expr("l.pixel_id = rpix"), "left",
        ).selectExpr(
            "l.pixel_id AS pixel_id", "l.level AS level", "false AS is_fm",
            "CASE WHEN rdocs IS NULL THEN l.doc_ids"
            " ELSE array_sort(array_except(l.doc_ids, rdocs)) END AS doc_ids",
        ).where("size(doc_ids) > 0")
    ]
    # fm_L: drop rows contained in fm_R
    lf_surv = _semi(lf, rf, grid, "left_anti")
    # overlap pairs: surviving fm_L rows containing-or-equal any R row; the
    # fm side flips roles here — lf_surv rows are the containers ('f').
    # Collect is CAPPED: a too-large overlap set switches to the fully
    # distributed leaf-expansion decomposition instead of pulling
    # O(postings-cells) rows to the driver.
    pairs = (
        _semi(rall, lf_surv, grid, "inner")
        .selectExpr("f_pixel AS xpix", "f_level AS xlvl", "pixel_id AS opix",
                    "level AS olvl", "is_fm AS ofm")
        .limit(MAX_DRIVER_OVERLAP_PAIRS + 1)
        .collect()
    )
    if len(pairs) > MAX_DRIVER_OVERLAP_PAIRS:
        return _union_all(parts + _difference_by_leaf_expansion(
            lf_surv, rall, rf, rp, grid, res, ctotals))
    overlapped: dict[tuple[int, int], list[tuple[int, int]]] = {}
    fm_hit_leaves: set[int] = set()
    for row in pairs:
        overlapped.setdefault((row.xpix, row.xlvl), []).append((row.opix, row.olvl))
        if row.ofm:
            fm_hit_leaves.add(row.opix)
    if not overlapped:
        return _union_all(parts + [lf_surv])
    over_keys = local_frame(spark, "pixel_id long, level int", zip(*overlapped))
    parts.append(lf_surv.join(over_keys.hint("broadcast"), ["pixel_id", "level"],
                              "left_anti"))
    jobs = [(x, lx, plist) for (x, lx), plist in overlapped.items()]
    fm_cells, leaf_hits = _decompose_fm(grid, jobs)
    if fm_cells:
        parts.append(hcqr_all_to_full(local_frame(
            spark, "pixel_id long, level int", zip(*fm_cells))))
    # leaf hits where the contained row was pm_R → cell totals − pm docs
    pm_hit = [p for p in leaf_hits if p not in fm_hit_leaves]
    if pm_hit:
        parts.append(_totals_minus_pm(
            local_frame(spark, "pixel_id long", [pm_hit]), rp, ctotals, res))
    return _union_all(parts)


def hcqr_op(
    op: str, l: DataFrame, r: DataFrame, grid: str, res: int,
    spark: SparkSession, ctotals: DataFrame,
) -> DataFrame:
    """Binary HCQR op (union/inter/diff), reference semantics
    (``src/HcqrOpTree.cpp:106-135``).

    Set ops PRESERVE disjointness and pm-at-leaf-res of their normal-form
    inputs, so the result is not re-compacted: the planner compacts ONCE
    at the tree root."""
    if op == "union":
        out = _hcqr_union(l, r, grid)
    elif op == "inter":
        out = _hcqr_intersect(l, r, grid)
    elif op == "diff":
        out = _hcqr_difference(l, r, grid, res, spark, ctotals)
    else:
        raise ValueError(op)  # '^' unsupported in HCQR (HcqrOpTree.cpp:136)
    return out.localCheckpoint(eager=False)  # plan boundary (hcqr_from_cqr note)


def hcqr_items(h: DataFrame, ctotals: DataFrame, grid: str, res: int) -> DataFrame:
    """items(): flatten to distinct doc ids.  fm rows above leaf level pull
    every leaf posting in their range (s2: range join; others: one
    ancestor equi-join per fm level)."""
    docs = "explode(doc_ids) AS doc_id"
    parts = [
        h.where("NOT is_fm").selectExpr(docs),
        h.where(f"is_fm AND level = {res}").selectExpr("pixel_id AS cell_id")
        .join(ctotals, "cell_id").selectExpr(docs),
    ]
    fm_up = h.where(f"is_fm AND level < {res}")
    if grid == "s2":
        parts.append(ctotals.join(
            _fside(fm_up, grid), F.expr("cell_id >= f_lo AND cell_id <= f_hi")
        ).selectExpr(docs))
    else:
        up = fm_up.selectExpr("pixel_id AS apix", "level AS alvl")
        for row in up.select("alvl").dropDuplicates().collect():
            lvl = int(row.alvl)
            anc = _anc_sql(grid, res - lvl, "cell_id")
            tot = (ctotals.withColumn("apix", parent_col(
                       grid, F.col("cell_id"), lvl, from_res=res))
                   if anc is None else ctotals.selectExpr("*", f"{anc} AS apix"))
            parts.append(tot.join(up.where(f"alvl = {lvl}").hint("broadcast"), "apix")
                         .selectExpr(docs))
    return _union_all(parts).dropDuplicates(["doc_id"])


def hcqr_stats(h: DataFrame, grid: str, res: int) -> DataFrame:
    """depth() / numberOfNodes() (Q12) + postings-size stats.

    Node count = leaves + distinct proper ancestors down to level 0.  The
    reference counts its synthetic root one level above
    (``H3SpatialGrid.h:6`` off-by-one), so a consumer comparing against
    the reference should add 1 to ``n_nodes`` — no extra column is
    returned (the oracle hashes pin this exact schema).
    """
    leaves = h.select("pixel_id", "level").dropDuplicates()
    allnodes = explode_ancestors(leaves, grid, res, keep=[]).select(
        F.col("apix").alias("pixel_id"), F.col("alvl").alias("level")
    )
    n_nodes = allnodes.dropDuplicates(["pixel_id", "level"])
    return h.agg(
        (F.max("level") + 1).cast("long").alias("depth"),
        F.count("*").cast("long").alias("n_leaves"),
        F.sum(F.col("is_fm").cast("long")).cast("long").alias("n_fm"),
        F.sum(F.when(F.col("is_fm"), 0).otherwise(F.size("doc_ids")))
        .cast("long").alias("pm_items"),
    ).crossJoin(n_nodes.agg(F.count("*").cast("long").alias("n_nodes")))
