"""Edge-input regressions for the batched region-counts lowering (X1).

r5 review findings: region names used to be interpolated into the
stack()/alias SQL of the counts path (a quote or backtick crashed the
parser, duplicate names alias-collided), and an empty query batch crashed
every lowering.  Names now never enter SQL text and the empty batch
returns an empty frame.
"""

from oscar_spatial_index_compare_spark.operators.region_query import (
    region_query_batch,
    region_query_batch_counts,
    region_query_docs,
)
from oscar_spatial_index_compare_spark.sources.regions import region_query_file


def _mcells(engine):
    return engine.context("s2", 10).mcells


def test_counts_with_hostile_names(spark, engine):
    base = region_query_file(2)
    hostile = [("cote d'azur", base[0][1]), ("back`tick", base[1][1])]
    got = {r.region: r.n_docs
           for r in region_query_batch_counts(
               spark, _mcells(engine), hostile, "s2", 10).collect()}
    assert set(got) == {"cote d'azur", "back`tick"}
    for (name, poly) in hostile:
        want = region_query_docs(spark, _mcells(engine), poly, "s2", 10).count()
        assert got[name] == want, name


def test_counts_with_duplicate_names(spark, engine):
    base = region_query_file(2)
    dup = [("same", base[0][1]), ("same", base[1][1])]
    rows = region_query_batch_counts(
        spark, _mcells(engine), dup, "s2", 10).collect()
    assert len(rows) == 2 and all(r.region == "same" for r in rows)
    wants = sorted(
        region_query_docs(spark, _mcells(engine), p, "s2", 10).count()
        for _n, p in dup)
    assert sorted(r.n_docs for r in rows) == wants


def test_counts_empty_batch(spark, engine):
    out = region_query_batch_counts(spark, _mcells(engine), [], "s2", 10)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["region", "n_docs"]


def test_batch_empty_batch(spark, engine):
    out = region_query_batch(spark, _mcells(engine), [], "s2", 10)
    assert out.count() == 0
    assert out.schema.simpleString() == "struct<region:string,doc_id:bigint>"


def test_broad_pattern_leaf_caps_literal_expansion(engine, monkeypatch):
    # above the literal cap the leaf lowers to the distributed predicate;
    # results must be identical to the dictionary-expansion path
    from oscar_spatial_index_compare_spark.plans import planner as planner_mod

    def lowered():
        df = engine.planner("zxy", 9).docs("*a*")
        plan = df._jdf.queryExecution().analyzed().toString()
        return plan, sorted(r.doc_id for r in df.collect())

    plan, want = lowered()
    assert " IN (" in plan and "Contains(token#" not in plan
    monkeypatch.setattr(planner_mod, "MAX_PLAN_LITERAL_TOKENS", 1)
    plan, got = lowered()
    assert "Contains(token#" in plan and " IN (" not in plan
    assert got == want and len(got) > 0


def test_degenerate_polygons_answer_empty(spark, engine, duck):
    """Below 3 vertices a polygon has no interior under the strict PIP:
    its covering is empty and every entry point answers empty, as the
    oracle does (the empty polygon used to raise from every covering)."""
    from oscar_spatial_index_compare_spark.operators.region_query import (
        region_query_oracle_sql,
    )

    metro = region_query_file(1)[0][1]
    regs = [("none", metro[:0]), ("point", metro[:1]), ("segment", metro[:2]),
            ("metro", metro)]
    want = {name: {r[0] for r in duck.execute(region_query_oracle_sql(poly)).fetchall()}
            for name, poly in regs}
    assert want["metro"] and not (want["none"] or want["point"] or want["segment"])
    for name, poly in regs:
        got = region_query_docs(spark, _mcells(engine), poly, "s2", 10)
        assert {r.doc_id for r in got.collect()} == want[name], name
    rows = region_query_batch(spark, _mcells(engine), regs, "s2", 10).collect()
    assert {n: {r.doc_id for r in rows if r.region == n} for n, _p in regs} == want
    counts = region_query_batch_counts(spark, _mcells(engine), regs, "s2", 10).collect()
    assert {r.region: r.n_docs for r in counts} == {n: len(d) for n, d in want.items()}
