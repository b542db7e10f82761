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

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import parent_col
from ..grids.base import get_grid
from ..session import local_frame

HCQR_COLS = ["pixel_id", "level", "is_fm", "doc_ids"]


def hcqr_from_cqr(cqr: DataFrame, grid: str, res: int, ctotals: DataFrame,
                  min_level: int = 0,
                  pop_anc: DataFrame | None = None) -> DataFrame:
    """CQR at res → compactified HCQR (B8 sge2shcqr/sge2cn analog)."""
    leaves = cqr.select(
        F.col("cell_id").alias("pixel_id"),
        F.lit(res).cast("int").alias("level"),
        "is_fm", "doc_ids",
    )
    # plan boundary: an HCQR is reused many times by the op layer and the
    # compactify internals reference their input ~levels× — without a
    # boundary here, nested ops make Catalyst analysis explode
    # multiplicatively (observed: minutes of driver CPU on a 3-node tree).
    # eager=False keeps the boundary but folds materialization into the
    # next job instead of one Spark job per tree node (r01 had 35 jobs for
    # a 3-node query; lazy checkpoints + root-only compaction → ~8).
    return compactify(leaves, grid, res, ctotals, min_level, pop_anc).localCheckpoint(eager=False)


def explode_ancestors(df: DataFrame, grid: str, res: int, min_level: int,
                      keep: list[str]) -> DataFrame:
    """→ (apix, alvl, *keep): one row per (row, ancestor-or-self) pair, from
    the row's own level up to min_level.

    Closed-form per-level expressions (s2: ``(id & -(lsb<<2k)) | (lsb<<2k)``;
    zxy: field shifts) keep the expression tree O(levels).  Chained
    one-level parents would be collapsed by Catalyst's CollapseProject into
    a 4^depth tree and hang the optimizer (observed).  hex: one
    array-returning vectorized UDF + posexplode.
    """
    if grid == "s2":
        entries = []
        for k in range(res - min_level + 1):
            lsb = F.col("pixel_id").bitwiseAND(-F.col("pixel_id"))
            nl = F.shiftleft(lsb, 2 * k)
            anc = F.col("pixel_id").bitwiseAND(-nl).bitwiseOR(nl)
            entries.append(F.struct(
                anc.alias("apix"),
                (F.col("level") - F.lit(k)).cast("int").alias("alvl"),
            ))
        e = df.select(*keep, "level", F.explode(F.array(*entries)).alias("e"))
    elif grid == "htm":
        entries = []
        for k in range(res - min_level + 1):
            entries.append(F.struct(
                F.shiftright(F.col("pixel_id"), 2 * k).alias("apix"),
                (F.col("level") - F.lit(k)).cast("int").alias("alvl"),
            ))
        e = df.select(*keep, "level", F.explode(F.array(*entries)).alias("e"))
    elif grid == "zxy":
        entries = []
        z = F.shiftright(F.col("pixel_id"), 56)
        x = F.shiftright(F.col("pixel_id"), 28).bitwiseAND(F.lit((1 << 28) - 1))
        y = F.col("pixel_id").bitwiseAND(F.lit((1 << 28) - 1))
        for k in range(res - min_level + 1):
            anc = (
                (z - k) * F.lit(1 << 56).cast("long")
                + F.shiftright(x, k) * F.lit(1 << 28).cast("long")
                + F.shiftright(y, k)
            )
            entries.append(F.struct(
                anc.alias("apix"),
                (F.col("level") - F.lit(k)).cast("int").alias("alvl"),
            ))
        e = df.select(*keep, "level", F.explode(F.array(*entries)).alias("e"))
    else:
        import pandas as pd
        from pyspark.sql.types import ArrayType, LongType

        depth = res - min_level

        @F.pandas_udf(ArrayType(LongType()))
        def _anc_arr(ids):  # no hints: pd not module-level (future annotations)
            g = get_grid(grid)
            cur = ids.to_numpy(np.int64)
            cols = [cur]
            for _ in range(depth):
                cur = g.parent(cur)
                cols.append(cur)
            m = np.stack(cols, axis=1)
            return pd.Series(list(m))

        e = df.select(
            *keep, "level",
            F.posexplode(_anc_arr(F.col("pixel_id"))).alias("k", "apix"),
        ).select(
            *keep, "level",
            F.struct(
                F.col("apix"),
                (F.col("level") - F.col("k")).cast("int").alias("alvl"),
            ).alias("e"),
        )
    return (
        e.select(*keep, F.col("e.apix").alias("apix"), F.col("e.alvl").alias("alvl"))
        .where(F.col("alvl") >= F.lit(min_level))
    )


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
    from ..functions.udfs import parent1_col

    tp = tpostings.select(
        "token", F.col("cell_id").alias("pixel_id"),
        F.lit(res).cast("int").alias("level"), "is_fm", "doc_ids",
    )
    pm = tp.where(~F.col("is_fm"))
    fm = tp.where(F.col("is_fm")).withColumn("w", F.lit(1).cast("long"))
    if pop_anc is None:
        pop_anc = pop_ancestor_counts(ctotals, grid, res)
    anc = explode_ancestors(fm, grid, res, 0, keep=["token", "w"])
    covered = anc.groupBy("token", "apix", "alvl").agg(F.sum("w").alias("cov"))
    cand = (
        covered.join(pop_anc, ["apix", "alvl"])
        .where((F.col("cov") == F.col("tot")) & (F.col("tot") > 0))
        .select("token", F.col("apix").alias("pixel_id"), F.col("alvl").alias("level"))
        # referenced twice below (maximal's probe AND build side): without a
        # plan boundary the whole fm-explode + two-groupBy subtree executes
        # once per reference (lazy checkpoint = materialized inside the
        # first action, block read for the second — r06)
        .localCheckpoint(eager=False)
    )
    withp = cand.withColumn("pp", parent1_col(grid, F.col("pixel_id"))).withColumn(
        "plvl", (F.col("level") - 1).cast("int")
    )
    maximal = withp.join(
        cand.select(
            "token", F.col("pixel_id").alias("pp"), F.col("level").alias("plvl")
        ),
        ["token", "pp", "plvl"], "left_anti",
    ).select(
        "token", "pixel_id", "level",
        F.lit(True).alias("is_fm"),
        F.lit(None).cast("array<long>").alias("doc_ids"),
    )
    return maximal.unionByName(pm.select("token", *HCQR_COLS))


def pop_ancestor_counts(ctotals: DataFrame, grid: str, res: int,
                        min_level: int = 0) -> DataFrame:
    """(apix, alvl, tot): populated-leaf count per ancestor pixel/level —
    ONE explode + ONE groupBy; cache it per QueryContext."""
    pop = ctotals.select(
        F.col("cell_id").alias("pixel_id"), F.lit(res).cast("int").alias("level")
    )
    anc = explode_ancestors(pop, grid, res, min_level, keep=[])
    return anc.groupBy("apix", "alvl").agg(F.count("*").alias("tot"))


def compactify(h: DataFrame, grid: str, res: int, ctotals: DataFrame,
               min_level: int = 0,
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
    independent of depth.
    """
    pop = ctotals.select(F.col("cell_id").alias("pixel_id"))
    fm = h.where(F.col("is_fm"))
    pm = h.where(~F.col("is_fm"))
    if pop_anc is None:
        pop_anc = pop_ancestor_counts(ctotals, grid, res, min_level)
    # weight per fm row = populated leaves covered
    leaf_fm = fm.where(F.col("level") == res).join(
        pop, "pixel_id", "left_semi"
    ).withColumn("w", F.lit(1).cast("long"))
    # coarse fm rows: weight = populated leaves under them — their own
    # (pixel, level) is an ancestor key in pop_anc
    up_fm = (
        fm.where(F.col("level") < res)
        .join(
            pop_anc.withColumnRenamed("apix", "pixel_id")
            .withColumnRenamed("alvl", "level"),
            ["pixel_id", "level"], "left",
        )
        .withColumn("w", F.coalesce(F.col("tot"), F.lit(0)).cast("long"))
        .drop("tot")
    )
    fmw = leaf_fm.unionByName(up_fm.select(*HCQR_COLS, "w"))
    # covered counts per ancestor: ONE explode + groupBy
    anc = explode_ancestors(fmw, grid, res, min_level, keep=["w"])
    covered = anc.groupBy("apix", "alvl").agg(F.sum("w").alias("cov"))
    cand = (
        covered.join(pop_anc, ["apix", "alvl"])
        .where((F.col("cov") == F.col("tot")) & (F.col("tot") > 0))
        .select(F.col("apix").alias("pixel_id"), F.col("alvl").alias("level"))
    )
    # maximal: one-level parent not itself a candidate
    from ..functions.udfs import parent1_col

    withp = cand.withColumn("pp", parent1_col(grid, F.col("pixel_id"))).withColumn(
        "plvl", (F.col("level") - 1).cast("int")
    )
    maximal = withp.join(
        cand.select(F.col("pixel_id").alias("pp"), F.col("level").alias("plvl")),
        ["pp", "plvl"], "left_anti",
    ).select(
        "pixel_id", "level",
        F.lit(True).alias("is_fm"),
        F.lit(None).cast("array<long>").alias("doc_ids"),
    )
    return maximal.unionByName(pm.select(*HCQR_COLS))


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


def _fside(df: DataFrame, grid: str) -> DataFrame:
    """Containing ('f') side of a containment join, columns renamed flat —
    fresh exprIds so self-joins never trip ambiguity detection."""
    g = get_grid(grid)
    out = df.select(
        F.col("pixel_id").alias("f_pixel"), F.col("level").alias("f_level")
    )
    if grid == "s2":
        lo, hi = g.col_range(F.col("f_pixel"))
        out = out.withColumn("f_lo", lo).withColumn("f_hi", hi)
    return out


def _contains_cond(grid: str):
    """Join condition: f row (fm) contains-or-equals o row (plain columns)."""
    if grid == "s2":
        return (
            (F.col("pixel_id") >= F.col("f_lo"))
            & (F.col("pixel_id") <= F.col("f_hi"))
            & (F.col("level") >= F.col("f_level"))
        )
    if grid == "zxy":
        d = F.col("level") - F.col("f_level")
        ox = F.shiftright(F.col("pixel_id"), 28).bitwiseAND(F.lit((1 << 28) - 1))
        oy = F.col("pixel_id").bitwiseAND(F.lit((1 << 28) - 1))
        anc = (
            F.col("f_level").cast("long") * F.lit(1 << 56).cast("long")
            + (ox / F.pow(F.lit(2.0), d)).cast("long") * F.lit(1 << 28).cast("long")
            + (oy / F.pow(F.lit(2.0), d)).cast("long")
        )
        return (d >= 0) & (anc == F.col("f_pixel"))
    if grid == "htm":
        d = F.col("level") - F.col("f_level")
        # ids < 2^44: double division by 4^d is exact, cast truncates = floor
        anc = (F.col("pixel_id").cast("double") / F.pow(F.lit(4.0), d)).cast("long")
        return (d >= 0) & (anc == F.col("f_pixel"))
    raise NotImplementedError("HCQR set ops require a prefix-id grid (s2/zxy/htm)")


def _strict_cond(grid: str):
    return _contains_cond(grid) & (F.col("level") > F.col("f_level"))


def _fm(df: DataFrame) -> DataFrame:
    return df.where(F.col("is_fm")).select(*HCQR_COLS)


def _pm(df: DataFrame) -> DataFrame:
    return df.where(~F.col("is_fm")).select(*HCQR_COLS)


def _mkfm(df: DataFrame) -> DataFrame:
    return df.select(
        "pixel_id", "level", F.lit(True).alias("is_fm"),
        F.lit(None).cast("array<long>").alias("doc_ids"),
    )


def _hcqr_union(l: DataFrame, r: DataFrame, grid: str) -> DataFrame:
    fm = _fm(l).unionByName(_fm(r)).dropDuplicates(["pixel_id", "level"])
    # keep only fm rows not strictly inside another fm row
    keep = fm.join(
        F.broadcast(_fside(fm, grid)), _strict_cond(grid), "left_anti"
    ).select(*HCQR_COLS)
    # pm rows: per-pixel union, then drop those covered by a kept fm row
    lp = _pm(l).alias("l")
    rp = _pm(r).alias("r")
    j = lp.join(rp, F.col("l.pixel_id") == F.col("r.pixel_id"), "full_outer")
    pm = j.select(
        F.coalesce(F.col("l.pixel_id"), F.col("r.pixel_id")).alias("pixel_id"),
        F.coalesce(F.col("l.level"), F.col("r.level")).alias("level"),
        F.lit(False).alias("is_fm"),
        F.when(F.col("l.doc_ids").isNull(), F.col("r.doc_ids"))
        .when(F.col("r.doc_ids").isNull(), F.col("l.doc_ids"))
        .otherwise(F.array_sort(F.array_union(F.col("l.doc_ids"), F.col("r.doc_ids"))))
        .alias("doc_ids"),
    )
    pm_keep = pm.join(
        F.broadcast(_fside(keep, grid)), _contains_cond(grid), "left_anti"
    ).select(*HCQR_COLS)
    return keep.unionByName(pm_keep)


def _hcqr_intersect(l: DataFrame, r: DataFrame, grid: str) -> DataFrame:
    lf, rf = _fm(l), _fm(r)
    lp, rp = _pm(l), _pm(r)
    parts = [
        # the deeper (or equal) row of a containing fm/fm pair
        rf.join(F.broadcast(_fside(lf, grid)), _contains_cond(grid), "left_semi"),
        lf.join(F.broadcast(_fside(rf, grid)), _strict_cond(grid), "left_semi"),
        # fm contains pm (incl. equal leaf pixel) → the pm row
        rp.join(F.broadcast(_fside(lf, grid)), _contains_cond(grid), "left_semi"),
        lp.join(F.broadcast(_fside(rf, grid)), _contains_cond(grid), "left_semi"),
    ]
    parts = [x.select(*HCQR_COLS) for x in parts]
    # pm ∩ pm at equal leaf pixels
    jj = lp.alias("l").join(rp.alias("r"), F.col("l.pixel_id") == F.col("r.pixel_id"))
    parts.append(
        jj.select(
            F.col("l.pixel_id").alias("pixel_id"),
            F.col("l.level").alias("level"),
            F.lit(False).alias("is_fm"),
            F.array_sort(F.array_intersect(F.col("l.doc_ids"), F.col("r.doc_ids"))).alias("doc_ids"),
        ).where(F.size("doc_ids") > 0)
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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


def _difference_by_leaf_expansion(
    lf_surv: DataFrame, rall: DataFrame, rf: DataFrame, rp: DataFrame,
    grid: str, res: int, spark: SparkSession, ctotals: DataFrame,
) -> list[DataFrame]:
    """Distributed decomposition of fm_L − R: expand every OVERLAPPED fm_L
    container to its populated leaves (ancestor equi-joins, no BNLJ), then
    subtract R at leaf level.  compactify() in hcqr_op re-rolls the
    surviving leaves, so the normal form is restored.  Never collects
    data-dependent rows to the driver."""
    from ..functions.udfs import parent_col

    over_keys = (
        rall.join(F.broadcast(_fside(lf_surv, grid)), _contains_cond(grid))
        .select(F.col("f_pixel").alias("pixel_id"), F.col("f_level").alias("level"))
        .dropDuplicates()
    )
    parts = [
        lf_surv.join(over_keys, ["pixel_id", "level"], "left_anti")
        .select(*HCQR_COLS)
    ]
    # populated leaves under the overlapped containers, one equi-join per
    # distinct container level (≤ res+1 driver-side values, never row data)
    lvls = [row.level for row in over_keys.select("level").dropDuplicates().collect()]
    leaf_parts = []
    pop = ctotals.select("cell_id")
    for lvl in lvls:
        if int(lvl) == res:
            keys = over_keys.where(F.col("level") == lvl).select(
                F.col("pixel_id").alias("cell_id")
            )
            leaf_parts.append(pop.join(keys, "cell_id", "left_semi"))
        else:
            anc = parent_col(grid, F.col("cell_id"), int(lvl), from_res=res)
            keys = over_keys.where(F.col("level") == lvl).select(
                F.col("pixel_id").alias("_anc")
            )
            leaf_parts.append(
                pop.withColumn("_anc", anc)
                .join(keys, "_anc", "left_semi").select("cell_id")
            )
    leaves = leaf_parts[0]
    for p in leaf_parts[1:]:
        leaves = leaves.unionByName(p)
    leaves = leaves.select(
        F.col("cell_id").alias("pixel_id"), F.lit(res).cast("int").alias("level")
    ).dropDuplicates()
    # leaf ⊆ fm_R → gone entirely
    leaves = leaves.join(
        F.broadcast(_fside(rf, grid)), _contains_cond(grid), "left_anti"
    )
    # leaf == pm_R pixel → cell totals − pm docs; else stays fm
    rpx = rp.select(F.col("pixel_id"), F.col("doc_ids").alias("rdocs"))
    hit = leaves.join(rpx, "pixel_id")
    parts.append(
        hit.join(
            ctotals.select(F.col("cell_id").alias("pixel_id"),
                           F.col("doc_ids").alias("tdocs")),
            "pixel_id",
        ).select(
            "pixel_id", "level", F.lit(False).alias("is_fm"),
            F.array_sort(F.array_except(F.col("tdocs"), F.col("rdocs"))).alias("doc_ids"),
        ).where(F.size("doc_ids") > 0)
    )
    parts.append(_mkfm(leaves.join(rpx, "pixel_id", "left_anti")))
    return parts


def _hcqr_difference(
    l: DataFrame, r: DataFrame, grid: str, res: int,
    spark: SparkSession, ctotals: DataFrame,
) -> DataFrame:
    lf, rf = _fm(l), _fm(r)
    lp, rp = _pm(l), _pm(r)
    rall = rf.unionByName(rp)
    parts = []
    # pm_L: drop rows inside fm_R; subtract equal-pixel pm_R docs
    pm_surv = lp.join(
        F.broadcast(_fside(rf, grid)), _contains_cond(grid), "left_anti"
    )
    jj = pm_surv.alias("l").join(
        rp.select(F.col("pixel_id").alias("rpix"), F.col("doc_ids").alias("rdocs")),
        F.col("l.pixel_id") == F.col("rpix"), "left",
    )
    parts.append(
        jj.select(
            F.col("l.pixel_id").alias("pixel_id"), F.col("l.level").alias("level"),
            F.lit(False).alias("is_fm"),
            F.when(F.col("rdocs").isNull(), F.col("l.doc_ids"))
            .otherwise(F.array_sort(F.array_except(F.col("l.doc_ids"), F.col("rdocs"))))
            .alias("doc_ids"),
        ).where(F.size("doc_ids") > 0)
    )
    # fm_L: drop rows contained in fm_R
    lf_surv = lf.join(
        F.broadcast(_fside(rf, grid)), _contains_cond(grid), "left_anti"
    ).select(*HCQR_COLS)
    # overlap pairs: surviving fm_L rows containing-or-equal any R row; the
    # fm side flips roles here — lf_surv rows are the containers ('f').
    # Collect is CAPPED: a too-large overlap set switches to the fully
    # distributed leaf-expansion decomposition instead of pulling
    # O(postings-cells) rows to the driver.
    pairs = (
        rall.join(F.broadcast(_fside(lf_surv, grid)), _contains_cond(grid))
        .select(
            F.col("f_pixel").alias("xpix"), F.col("f_level").alias("xlvl"),
            F.col("pixel_id").alias("opix"), F.col("level").alias("olvl"),
            F.col("is_fm").alias("ofm"),
        )
        .limit(MAX_DRIVER_OVERLAP_PAIRS + 1)
        .collect()
    )
    if len(pairs) > MAX_DRIVER_OVERLAP_PAIRS:
        parts.extend(_difference_by_leaf_expansion(
            lf_surv, rall, rf, rp, grid, res, spark, ctotals
        ))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    overlapped: dict[tuple[int, int], list[tuple[int, int]]] = {}
    fm_hit_leaves: set[int] = set()
    for row in pairs:
        overlapped.setdefault((row.xpix, row.xlvl), []).append((row.opix, row.olvl))
        if row.ofm:
            fm_hit_leaves.add(row.opix)
    if overlapped:
        over_keys = local_frame(
            spark, "pixel_id long, level int", zip(*overlapped))
        clean = lf_surv.join(F.broadcast(over_keys), ["pixel_id", "level"], "left_anti")
        parts.append(clean.select(*HCQR_COLS))
        jobs = [(x, lx, plist) for (x, lx), plist in overlapped.items()]
        fm_cells, leaf_hits = _decompose_fm(grid, jobs)
        if fm_cells:
            parts.append(_mkfm(local_frame(
                spark, "pixel_id long, level int", zip(*fm_cells))))
        # leaf hits where the contained row was pm_R → cell totals − pm docs
        pm_hit = [p for p in leaf_hits if p not in fm_hit_leaves]
        if pm_hit:
            hit_df = local_frame(spark, "pixel_id long", [pm_hit])
            t = ctotals.select(
                F.col("cell_id").alias("pixel_id"), F.col("doc_ids").alias("tdocs")
            )
            x = (
                hit_df.join(t, "pixel_id")
                .join(
                    rp.select(F.col("pixel_id"), F.col("doc_ids").alias("rdocs")),
                    "pixel_id",
                )
                .select(
                    "pixel_id", F.lit(res).cast("int").alias("level"),
                    F.lit(False).alias("is_fm"),
                    F.array_sort(F.array_except(F.col("tdocs"), F.col("rdocs"))).alias("doc_ids"),
                ).where(F.size("doc_ids") > 0)
            )
            parts.append(x)
    else:
        parts.append(lf_surv)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def hcqr_op(
    op: str, l: DataFrame, r: DataFrame, grid: str, res: int,
    spark: SparkSession, ctotals: DataFrame,
    pop_anc: DataFrame | None = None, compact: bool = True,
) -> DataFrame:
    """Binary HCQR op (union/inter/diff), reference semantics
    (``src/HcqrOpTree.cpp:106-135``).

    Set ops PRESERVE disjointness and pm-at-leaf-res of their normal-form
    inputs, so re-compaction per node is an optimization, not a correctness
    need — the planner re-compacts ONCE at the tree root (``compact=True``
    keeps the per-op behavior for direct callers)."""
    if op == "union":
        out = _hcqr_union(l, r, grid)
    elif op == "inter":
        out = _hcqr_intersect(l, r, grid)
    elif op == "diff":
        out = _hcqr_difference(l, r, grid, res, spark, ctotals)
    else:
        raise ValueError(op)  # '^' unsupported in HCQR (HcqrOpTree.cpp:136)
    out = out.localCheckpoint(eager=False)  # plan boundary (hcqr_from_cqr note)
    if not compact:
        return out
    return compactify(out, grid, res, ctotals, pop_anc=pop_anc).localCheckpoint(eager=False)


def hcqr_all_to_full(h: DataFrame) -> DataFrame:
    return h.select(
        "pixel_id", "level", F.lit(True).alias("is_fm"),
        F.lit(None).cast("array<long>").alias("doc_ids"),
    )


def hcqr_items(h: DataFrame, ctotals: DataFrame, grid: str, res: int,
               spark: SparkSession) -> DataFrame:
    """items(): flatten to distinct doc ids.  fm rows above leaf level pull
    every leaf posting in their range (s2: range join; zxy: parent equality)."""
    pm = h.where(~F.col("is_fm")).select(F.explode("doc_ids").alias("doc_id"))
    fm_leaf = h.where(F.col("is_fm") & (F.col("level") == res)).select("pixel_id")
    leaf_docs = fm_leaf.join(
        ctotals.select(F.col("cell_id").alias("pixel_id"), "doc_ids"), "pixel_id"
    ).select(F.explode("doc_ids").alias("doc_id"))
    fm_up = h.where(F.col("is_fm") & (F.col("level") < res))
    if grid == "s2":
        g = get_grid(grid)
        lo, hi = g.col_range(F.col("pixel_id"))
        ranges = F.broadcast(fm_up.select(lo.alias("lo"), hi.alias("hi")))
        up_docs = ctotals.join(
            ranges, (F.col("cell_id") >= F.col("lo")) & (F.col("cell_id") <= F.col("hi"))
        ).select(F.explode("doc_ids").alias("doc_id"))
    else:
        up = fm_up.select(F.col("pixel_id").alias("apix"), F.col("level").alias("alvl"))
        tot = ctotals
        parts = []
        lvls = [row.alvl for row in up.select("alvl").dropDuplicates().collect()]
        for lvl in lvls:
            anc = parent_col(grid, F.col("cell_id"), int(lvl), from_res=res)
            parts.append(
                tot.withColumn("apix", anc)
                .join(F.broadcast(up.where(F.col("alvl") == lvl)), "apix")
                .select(F.explode("doc_ids").alias("doc_id"))
            )
        up_docs = parts[0] if parts else spark.range(0).select(F.col("id").alias("doc_id"))
        for p in parts[1:]:
            up_docs = up_docs.unionByName(p)
    return pm.unionByName(leaf_docs).unionByName(up_docs).dropDuplicates(["doc_id"])


def hcqr_stats(h: DataFrame, grid: str, res: int) -> DataFrame:
    """depth() / numberOfNodes() (Q12) + postings-size stats.

    Node count = leaves + distinct proper ancestors down to level 0.  The
    reference counts its synthetic root one level above
    (``H3SpatialGrid.h:6`` off-by-one), so a consumer comparing against
    the reference should add 1 to ``n_nodes`` — no extra column is
    returned (the oracle hashes pin this exact schema).
    """
    leaves = h.select("pixel_id", "level").dropDuplicates()
    allnodes = explode_ancestors(leaves, grid, res, 0, keep=[]).select(
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
