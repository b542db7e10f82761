"""r06 third pass: the two PIP lowerings must be bit-identical, and the
bound-driven form choice must never change results.

pip_hof_sql (array-literal aggregate fold, polygon-independent codegen
source) replaced the unrolled pip_sql in the region-query gate whenever the
driver-known boundary-row bound is small; both forms must agree on every
row, and forcing either form through the public entry points must produce
identical doc sets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from oscar_spatial_index_compare_spark.functions.geo import pip_hof_sql, pip_sql
from oscar_spatial_index_compare_spark.sources.regions import REGIONS


def test_pip_forms_bit_identical_on_corpus(spark, engine):
    """Every region polygon: zero rows where the two forms disagree over
    the full mention set (the exact arithmetic-equivalence claim)."""
    m = engine.mentions
    checks = []
    for _rid, name, _lvl, poly in REGIONS:
        checks.append(
            F.sum(
                (~F.expr(pip_sql("lat", "lon", poly))
                 .eqNullSafe(F.expr(pip_hof_sql("lat", "lon", poly)))).cast("int")
            ).alias(name)
        )
    row = m.agg(*checks).collect()[0]
    assert all(v == 0 for v in row), row.asDict()


def test_pop_row_bound_exact(spark, engine):
    """The per-cell row counts sum to the true row count of any cell
    subset (the bound that gates the interpreted PIP form)."""
    from oscar_spatial_index_compare_spark.operators.cell_stats import cell_stats

    ctx = engine.context("s2", 10)
    probe = ctx.mcells.where((F.col("grid") == "s2") & (F.col("res") == 10))
    stats = cell_stats(ctx.mcells, "s2", 10)
    assert stats is not None and len(stats.cells) > 0
    assert (np.diff(stats.cells) > 0).all()
    subset = stats.cells[:: max(1, len(stats.cells) // 17)]
    truth = probe.where(
        F.col("cell_id").isin([int(c) for c in subset])).count()
    assert stats.row_bound(subset) == truth
    # total over all cells == total probe rows
    assert stats.row_bound(stats.cells) == probe.count()
    # unpopulated ids add nothing
    assert stats.row_bound(np.array([-1, 1], np.int64)) == 0


def test_knn_cell_counts_exact(spark, engine):
    """cell_stats returns exactly the brute-force per-cell distinct doc
    counts and (M*, D) spread."""
    from oscar_spatial_index_compare_spark.operators.cell_stats import cell_stats

    ctx = engine.context("h3", 6)
    probe = ctx.mcells.where(
        (F.col("grid") == "h3") & (F.col("res") == 6)).select(
        "doc_id", "lat", "lon", "cell_id")
    stats = cell_stats(ctx.mcells, "h3", 6)
    counts = dict(zip(stats.cells.tolist(), stats.n_docs.tolist()))
    pairs = {(r.cell_id, r.doc_id) for r in
             probe.select("cell_id", "doc_id").dropDuplicates().collect()}
    exp_counts: dict[int, int] = {}
    per_doc: dict[int, int] = {}
    for c, d in pairs:
        exp_counts[c] = exp_counts.get(c, 0) + 1
        per_doc[d] = per_doc.get(d, 0) + 1
    assert counts == exp_counts
    assert stats.mstar == max(per_doc.values())
    assert stats.docs == len(per_doc)
