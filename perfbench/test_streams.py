"""Properties of the seeded input streams (no Spark needed).

    python3 -m pytest perfbench/test_streams.py -q
"""

import os
import sys
from collections import Counter, OrderedDict

HERE = os.path.dirname(os.path.abspath(__file__))
for _p in (HERE, os.path.dirname(HERE)):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import pytest  # noqa: E402
import streams as S  # noqa: E402

from oscar_spatial_index_compare_spark.engine import Engine  # noqa: E402
from oscar_spatial_index_compare_spark.plans.optree import parse  # noqa: E402

N = 400


def _optree(seed):
    warm = S.optree_warmup(seed, 2)
    return warm, S.optree_stream(seed, N, tuple(warm))


def test_same_seed_same_stream():
    assert _optree(7) == _optree(7)
    assert S.spatial_stream(7, N) == S.spatial_stream(7, N)


def test_other_seed_other_stream():
    assert _optree(7)[1] != _optree(8)[1]
    assert S.spatial_stream(7, N) != S.spatial_stream(8, N)
    assert S.spatial_warmup(7, 4) != S.spatial_stream(7, 4)


def test_cache_model_mirrors_engine():
    assert S.RESULT_CACHE_CAP == Engine.RESULT_CACHE_CAP
    assert S.POOL_TREES >= 3 * S.RESULT_CACHE_CAP


@pytest.mark.parametrize("seed", [0, 1, 99])
def test_optree_hit_share_and_mix(seed):
    warm, ops = _optree(seed)
    assert len(ops) >= 300
    cycle = S.HIT_EVERY * 2
    whole = ops[:len(ops) // cycle * cycle]
    assert sum(o.hit for o in whole) * S.HIT_EVERY == len(whole)
    # replay an LRU of the engine's size: the stream's hit flags are exact
    lru = OrderedDict(((o.path, o.query), None) for o in warm)
    for o in ops:
        key = (o.path, o.query)
        assert (key in lru) == o.hit
        lru[key] = None
        lru.move_to_end(key)
        while len(lru) > Engine.RESULT_CACHE_CAP:
            lru.popitem(last=False)
    # paths alternate, HCQR never gets ^, every template shows up on both
    assert [o.path for o in ops] == ["cqr", "hcqr"] * (len(ops) // 2) + ["cqr"] * (len(ops) % 2)
    assert not any("^" in o.query for o in ops if o.path == "hcqr")
    for path in ("cqr", "hcqr"):
        seen = Counter(o.template for o in ops if o.path == path and not o.hit)
        want = set(S.TEMPLATES) - ({"xor"} if path == "hcqr" else set())
        assert set(seen) == want
    # fresh ops never repeat a (path, tree) already sent
    fresh = [(o.path, o.query) for o in ops if not o.hit]
    assert len(fresh) == len(set(fresh))
    assert not set(fresh) & {(o.path, o.query) for o in warm}


def _grid_insensitive(n, under_setminus=False) -> bool:
    if n.op in ("fm", "cell", "dilate"):
        return False
    if n.op in ("region", "rect", "poly"):
        return not under_setminus
    if n.op == "token":
        return True
    minus = under_setminus or n.op in ("diff", "sym")
    return all(_grid_insensitive(a, minus) for a in n.args)


@pytest.mark.parametrize("seed", [0, 5])
def test_optree_queries_parse_and_are_oracle_checkable(seed):
    for o in _optree(seed)[1]:
        assert _grid_insensitive(parse(o.query)), o.query


@pytest.mark.parametrize("seed", [0, 1, 99])
def test_spatial_mix_and_shapes(seed):
    ops = S.spatial_stream(seed, N)
    kinds = ["knn" if isinstance(o, S.KnnOp) else "region" for o in ops]
    assert kinds == (["region"] * S.REGIONS_PER_KNN + ["knn"]) * (N // (S.REGIONS_PER_KNN + 1))
    polys = [o.poly for o in ops if isinstance(o, S.RegionOp)]
    assert len(polys) == len(set(polys))          # no polygon repeats
    for poly in polys:
        assert all(-90 < a < 90 and -180 < b < 180 for a, b in poly)
    qids = []
    for o in ops:
        if isinstance(o, S.KnnOp):
            assert len(o.queries) == S.KNN_BATCH
            assert sorted(q[3] for q in o.queries) == sorted(S.KNN_KS)
            qids += [q[0] for q in o.queries]
    assert len(qids) == len(set(qids))
