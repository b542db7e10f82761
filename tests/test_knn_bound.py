"""Regression tests for the kNN phase-1 density bound (SURVEY X2).

The driver-side bound sorts populated cells by (center distance +
circumradius) and stops at the first prefix PROVABLY holding >= k distinct
docs.  Per-cell counts are distinct-per-cell, so a doc whose mentions span
several cells is counted once in EACH — the r5 review found the original
``cum >= k`` test unsound: it could stop the prefix early and mask out the
cell holding the true rank-k doc.  The fix lower-bounds distinct docs with
the cached spread stats (max cells-per-doc M*, distinct docs D, total
pairs P): distinct(prefix) >= max(cum - (P - D), ceil(cum / M*)).
"""

import numpy as np
import pytest

from oscar_spatial_index_compare_spark.functions.geo import haversine_np
from oscar_spatial_index_compare_spark.grids.base import get_grid
from oscar_spatial_index_compare_spark.operators.knn import knn_docs

MCELLS_SCHEMA = ("grid string, res int, doc_id long, lat double, "
                 "lon double, cell_id long")


def _mcells(spark, grid, res, mentions):
    """mentions: [(doc_id, lat, lon)] → a mention_cells-shaped DataFrame."""
    g = get_grid(grid)
    rows = []
    for doc_id, lat, lon in mentions:
        cell = int(g.cell(np.array([lat]), np.array([lon]), res)[0])
        rows.append((grid, res, doc_id, float(lat), float(lon), cell))
    return spark.createDataFrame(rows, MCELLS_SCHEMA)


def _brute_topk(mentions, qlat, qlon, k):
    """Exact top-k (doc_id, dist_m) with the engine's meter quantization."""
    best = {}
    for doc_id, lat, lon in mentions:
        d = int(np.floor(haversine_np(qlat, qlon, lat, lon) * 1000.0 + 0.5))
        if doc_id not in best or d < best[doc_id]:
            best[doc_id] = d
    ranked = sorted(best.items(), key=lambda x: (x[1], x[0]))[:k]
    return ranked


def test_multi_cell_doc_does_not_shadow_farther_doc(spark):
    # doc 7 has mentions in TWO nearby cells; doc 9 sits in one far cell.
    # The unsound bound counted doc 7 twice, "proved" k=2 docs inside the
    # two near cells, and masked doc 9's cell out entirely.
    mentions = [
        (7, 0.02, 0.02),
        (7, 0.45, 0.45),   # distinct cell from the first mention at res 5
        (9, 5.0, 5.0),     # far: provably outside the old (too-small) bound
    ]
    mc = _mcells(spark, "h3", 5, mentions)
    got = knn_docs(spark, mc, [(1, 0.0, 0.0, 2)], grid="h3", res=5).collect()
    want = _brute_topk(mentions, 0.0, 0.0, 2)
    assert [(r.doc_id, r.dist_m) for r in sorted(got, key=lambda r: r.rank)] \
        == want
    assert len(got) == 2  # both docs present, not just the double-counted one


def test_multi_cell_brute_force_parity_random(spark):
    # Many multi-cell docs + several queries: exact parity vs brute force.
    rng = np.random.RandomState(7)
    mentions = []
    for doc_id in range(40):
        n_m = 1 + int(rng.randint(4))
        for _ in range(n_m):
            mentions.append((doc_id,
                             float(rng.uniform(-3, 3)),
                             float(rng.uniform(-3, 3))))
    mc = _mcells(spark, "h3", 5, mentions)
    queries = [(qid, float(rng.uniform(-3, 3)), float(rng.uniform(-3, 3)), 5)
               for qid in range(4)]
    got = knn_docs(spark, mc, queries, grid="h3", res=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, qlat, qlon, k in queries:
        mine = [(r.doc_id, r.dist_m)
                for r in sorted(by_q.get(qid, []), key=lambda r: r.rank)]
        assert mine == _brute_topk(mentions, qlat, qlon, k), f"query {qid}"


def test_candidate_cap_falls_back_to_ring_expansion(spark, monkeypatch):
    # With the candidate cap forced to 0 every dense/unprunable batch must
    # take the ring-expansion path (never a queries×cells literal frame)
    # and still return exact results (VERDICT r05 item 4).
    import oscar_spatial_index_compare_spark.operators.knn as K

    mentions = [(d, float(0.1 * d), float(0.1 * d)) for d in range(12)]
    mc = _mcells(spark, "h3", 5, mentions)
    calls = {"ring": 0}
    orig = K._knn_ring_expansion

    def spy(*a, **kw):
        calls["ring"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(K, "_knn_ring_expansion", spy)
    monkeypatch.setattr(K, "MAX_CANDIDATE_ROWS", 0)
    got = knn_docs(spark, mc, [(1, 0.0, 0.0, 3)], grid="h3", res=5).collect()
    assert calls["ring"] == 1
    want = _brute_topk(mentions, 0.0, 0.0, 3)
    assert [(r.doc_id, r.dist_m) for r in sorted(got, key=lambda r: r.rank)] \
        == want


def test_empty_populated_cell_set_returns_empty(spark):
    # No mentions at the requested (grid, res): must return an empty frame,
    # not IndexError on an empty cumulative sum.
    mc = spark.createDataFrame([], MCELLS_SCHEMA)
    out = knn_docs(spark, mc, [(1, 0.0, 0.0, 3)], grid="h3", res=5)
    assert out.count() == 0


def test_empty_query_batch_returns_empty(spark):
    mc = _mcells(spark, "h3", 5, [(1, 0.0, 0.0)])
    out = knn_docs(spark, mc, [], grid="h3", res=5)
    assert out.schema.simpleString() == (
        "struct<query_id:bigint,doc_id:bigint,dist_m:bigint,rank:int>")
    assert out.count() == 0


def test_duplicate_query_id_is_rejected(spark):
    # Two points under one id used to merge into one ranked answer.
    mc = _mcells(spark, "h3", 5, [(1, 0.0, 0.0), (2, 0.1, 0.1), (3, 3.0, 3.0)])
    with pytest.raises(ValueError, match="query_id 0"):
        knn_docs(spark, mc, [(0, 0.0, 0.0, 2), (0, 3.0, 3.0, 1)],
                 grid="h3", res=5)


def test_no_cell_stats_takes_ring_expansion(spark, monkeypatch):
    # Above MAX_DRIVER_CELLS cell_stats returns None and kNN expands rings
    # from the seed cell; doc 9 lies outside the first ring, so the ring
    # doubles at least once before the kth distance is proven.
    import oscar_spatial_index_compare_spark.operators.cell_stats as cs
    import oscar_spatial_index_compare_spark.operators.knn as K

    mentions = [(1, 0.01, 0.01), (2, -0.02, 0.03), (2, 0.04, -0.01),
                (9, 0.6, 0.5)]
    mc = _mcells(spark, "h3", 5, mentions)
    monkeypatch.setattr(cs, "MAX_DRIVER_CELLS", -1)
    monkeypatch.setitem(mc.__dict__, cs._MEMO, {})
    assert cs.cell_stats(mc, "h3", 5) is None
    calls = {"ring": 0, "frames": 0}
    ring, candidates = K._knn_ring_expansion, K._candidates

    def ring_spy(*a, **kw):
        calls["ring"] += 1
        return ring(*a, **kw)

    def candidates_spy(*a, **kw):
        calls["frames"] += 1
        return candidates(*a, **kw)

    monkeypatch.setattr(K, "_knn_ring_expansion", ring_spy)
    monkeypatch.setattr(K, "_candidates", candidates_spy)
    got = knn_docs(spark, mc, [(1, 0.0, 0.0, 3)], grid="h3", res=5).collect()
    assert calls["ring"] == 1
    assert calls["frames"] >= 3  # two rounds or more, then the final plan
    want = _brute_topk(mentions, 0.0, 0.0, 3)
    assert [(r.doc_id, r.dist_m) for r in sorted(got, key=lambda r: r.rank)] \
        == want
    # capped at the first ring, the query falls back to an exact scan
    capped = knn_docs(spark, mc, [(1, 0.0, 0.0, 3)], grid="h3", res=5,
                      max_r=2).collect()
    assert [(r.doc_id, r.dist_m) for r in sorted(capped, key=lambda r: r.rank)] \
        == want
