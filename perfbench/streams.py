"""Seeded input streams for the benchmark.

Everything the engine receives in a run is made here from ``--seed``: the
op-trees, polygons and kNN triples, plus the parameters of the synthetic
corpus.  The module needs neither Spark nor the engine, so its properties
are tested on their own (``perfbench/test_streams.py``).

Op-tree stream
    Ops alternate between the CQR path and the HCQR path.  The pool holds
    ``POOL_TREES`` distinct trees (several times ``Engine.RESULT_CACHE_CAP``)
    in ten templates; popularity inside a template is Zipf by pool rank.
    Fresh draws skip every (path, tree) already sent, so they miss the
    result cache.  Every ``HIT_EVERY``-th op repeats, again by Zipf, a
    (path, tree) that an LRU model of the engine's result cache still holds,
    so it hits.  The hit share is therefore exactly ``1 / HIT_EVERY`` of any
    whole cycle, whatever the seed.  HCQR draws skip ``^`` trees.

Spatial stream
    Three region singles, then one kNN batch of ``KNN_BATCH`` points, over
    and over.  No polygon repeats: seeded rectangles from city to continent
    size alternate with shifted fixture polygons.
"""

from __future__ import annotations

import random
from collections import OrderedDict
from dataclasses import dataclass

# the token vocabulary of sources/synth.py (every corpus word is one of these)
from oscar_spatial_index_compare_spark.sources.gazetteer import HOT_WORDS, VOCAB, gazetteer
from oscar_spatial_index_compare_spark.sources.regions import REGIONS

CORPUS_DOCS = 5000          # sf0.1-sized synthetic corpus, the same for every seed
RESULT_CACHE_CAP = 64       # mirrors Engine.RESULT_CACHE_CAP (checked in run.py)
POOL_TREES = 4 * RESULT_CACHE_CAP
HIT_EVERY = 5               # every 5th op is a result-cache hit
ZIPF_S = 1.1
# Fresh ops walk this template cycle in order, so every seed gets the same
# tree shapes in the same slots and only the leaves differ.  The HCQR path
# starts half-way round (a short run still sees every shape on one of the
# two paths) and skips "xor".
TEMPLATES = ("and", "nested", "prefix", "or", "rect",
             "suffix", "not", "region", "substring", "xor")
HCQR_OFFSET = len(TEMPLATES) // 2
KNN_KS = (1, 1, 5, 5, 50)   # the k multiset of every batch (shuffled per batch)
KNN_BATCH = len(KNN_KS)
REGIONS_PER_KNN = 3
# rectangle half-sizes in degrees, cycled: city, region, country, continent
RECT_HALF_DEG = (0.4, 3.0, 9.0, 25.0)

_ANCHORS = [(lat, lon) for _n, lat, lon, _p in gazetteer() if abs(lat) <= 75.0]
# Token leaves skip the five hot words: those sit in a different share of
# the documents, and a tree's cost follows its leaves' result sizes.
_TOKENS = [w for w in VOCAB if w not in HOT_WORDS]
# fixture regions of middling size (country, south_pent, east_am) for the
# $region leaf; the tiny and the near-global ones would swing its cost
_GEO_REGION_IDS = (2, 4, 7)


@dataclass(frozen=True)
class OptreeOp:
    path: str       # "cqr" | "hcqr"
    query: str
    template: str
    hit: bool       # the LRU model says the engine's result cache holds it


@dataclass(frozen=True)
class RegionOp:
    name: str
    poly: tuple     # ((lat, lon), ...)


@dataclass(frozen=True)
class KnnOp:
    queries: tuple  # ((query_id, lat, lon, k), ...)


def _odd(x: float) -> float:
    """Round to 1e-3 and add 3.7e-6: keeps vertices off the 1e-4 lattice of
    mention jitter so no point sits exactly on a polygon edge."""
    return round(x, 3) + 3.7e-6


def _pair(op: str):
    def make(rng: random.Random) -> str:
        a, b = rng.sample(_TOKENS, 2)
        return f"{a} {op} {b}"
    return make


def _nested(rng: random.Random) -> str:
    a, b, c, d = rng.sample(_TOKENS, 4)
    return f"({a} + {b}) / {c} - {d}"


def _unique_affixes(cut) -> list[str]:
    """Two-letter affixes that complete to exactly one corpus word.  A
    completion costs about one leaf per word it expands to, so a fixed
    expansion count keeps the template's cost alike across seeds."""
    hits: dict[str, int] = {}
    for w in VOCAB:
        for a in set(cut(w)):
            hits[a] = hits.get(a, 0) + 1
    return sorted(a for a, n in hits.items() if n == 1)


_PREFIXES = _unique_affixes(lambda w: [w[:2]] if len(w) >= 2 else [])
_SUFFIXES = _unique_affixes(lambda w: [w[-2:]] if len(w) >= 2 else [])
_INFIXES = _unique_affixes(lambda w: [w[i:i + 2] for i in range(len(w) - 1)])


def _prefix(rng: random.Random) -> str:
    return f"{rng.choice(_PREFIXES)}*"


def _suffix(rng: random.Random) -> str:
    return f"*{rng.choice(_SUFFIXES)}"


def _substring(rng: random.Random) -> str:
    return f"*{rng.choice(_INFIXES)}*"


def _anchor(rng: random.Random) -> tuple[float, float]:
    """A gazetteer place away from the poles.  Centring every polygon and
    kNN point near one keeps each op's work alike across seeds (a box
    dropped at random lands on empty ocean more often than not)."""
    return rng.choice(_ANCHORS)


def _box(rng: random.Random, half: float) -> tuple[float, float, float, float]:
    """Rectangle (lat0, lat1, lon0, lon1), 3:2 wide, around an anchor,
    kept inside [-89, 89] x [-179.5, 179.5]."""
    alat, alon = _anchor(rng)
    wide = 1.5 * half
    lat = min(max(alat + rng.uniform(-0.5, 0.5) * half, -89.0 + half), 89.0 - half)
    lon = min(max(alon + rng.uniform(-0.5, 0.5) * wide, -179.5 + wide), 179.5 - wide)
    return _odd(lat - half), _odd(lat + half), _odd(lon - wide), _odd(lon + wide)


def _rect_leaf(rng: random.Random) -> str:
    la0, la1, lo0, lo1 = _box(rng, RECT_HALF_DEG[1] * rng.uniform(0.8, 1.25))
    return f"$rect:{la0},{la1},{lo0},{lo1} / {rng.choice(_TOKENS)}"


def _region_leaf(rng: random.Random) -> str:
    return f"$region:{rng.choice(_GEO_REGION_IDS)} / {rng.choice(_TOKENS)}"


_MAKERS = {
    "and": _pair("/"), "or": _pair("+"), "not": _pair("-"), "xor": _pair("^"),
    "nested": _nested, "prefix": _prefix, "suffix": _suffix,
    "substring": _substring, "rect": _rect_leaf, "region": _region_leaf,
}


def _tree_pools(rng: random.Random) -> dict[str, list[str]]:
    """POOL_TREES distinct trees split evenly over the templates; list
    order is Zipf rank (index 0 most popular)."""
    want = POOL_TREES // len(TEMPLATES)
    pools: dict[str, list[str]] = {}
    for t in TEMPLATES:
        out: list[str] = []
        for _ in range(100 * want):
            q = _MAKERS[t](rng)
            if q not in out:
                out.append(q)
                if len(out) == want:
                    break
        pools[t] = out
    return pools


def _zipf_pick(rng: random.Random, ranked: list):
    """Pick from ``ranked`` (most popular first) with weight 1/(rank+1)^s."""
    weights = [1.0 / (i + 1) ** ZIPF_S for i in range(len(ranked))]
    return rng.choices(ranked, weights=weights, k=1)[0]


def optree_stream(seed: int, n_ops: int, warm: tuple = ()) -> list[OptreeOp]:
    """``warm``: ops already sent to the same engine (the warm-up pass); the
    model starts with them cached, and fresh draws never repeat them."""
    rng = random.Random(f"optree:{seed}")
    pools = _tree_pools(rng)
    rank = {q: i for t in pools for i, q in enumerate(pools[t])}
    lru: OrderedDict = OrderedDict()   # model of Engine._results
    for op in warm:
        lru[(op.path, op.query)] = None
    sent: set = set(lru)
    out: list[OptreeOp] = []
    fresh_slot = {"cqr": 0, "hcqr": HCQR_OFFSET}
    for i in range(n_ops):
        path = "cqr" if i % 2 == 0 else "hcqr"
        if i % HIT_EVERY == HIT_EVERY - 1:
            held = sorted((q for p, q in lru if p == path and q in rank),
                          key=rank.__getitem__)
            if not held:
                break
            q = _zipf_pick(rng, held)
            template = next(t for t in pools if q in pools[t])
            hit = True
        else:
            template = TEMPLATES[fresh_slot[path] % len(TEMPLATES)]
            fresh_slot[path] += 1
            if path == "hcqr" and template == "xor":
                template = TEMPLATES[fresh_slot[path] % len(TEMPLATES)]
                fresh_slot[path] += 1
            cand = [q for q in pools[template] if (path, q) not in sent]
            if not cand:
                break
            q = _zipf_pick(rng, cand)
            hit = False
        key = (path, q)
        sent.add(key)
        lru[key] = None
        lru.move_to_end(key)
        while len(lru) > RESULT_CACHE_CAP:
            lru.popitem(last=False)
        out.append(OptreeOp(path, q, template, hit))
    return out


def _shift_fixture(rng: random.Random, slot: int) -> tuple[str, tuple]:
    """Fixture polygon ``slot`` moved so its centre lands near an anchor."""
    _rid, name, _lvl, poly = REGIONS[slot % len(REGIONS)]
    alat, alon = _anchor(rng)
    clat, clon = poly[:, 0].mean(), poly[:, 1].mean()
    dlat = min(max(alat - clat + rng.uniform(-1.0, 1.0),
                   -89.0 - poly[:, 0].min()), 89.0 - poly[:, 0].max())
    dlon = min(max(alon - clon + rng.uniform(-1.0, 1.0),
                   -179.5 - poly[:, 1].min()), 179.5 - poly[:, 1].max())
    dlat, dlon = _odd(dlat), _odd(dlon)
    pts = tuple((float(a + dlat), float(b + dlon)) for a, b in poly)
    return f"{name}@{dlat:+.3f},{dlon:+.3f}", pts


def _rect(rng: random.Random, size_slot: int) -> tuple[str, tuple]:
    half = RECT_HALF_DEG[size_slot % len(RECT_HALF_DEG)] * rng.uniform(0.8, 1.25)
    la0, la1, lo0, lo1 = _box(rng, half)
    pts = ((la0, lo0), (la0, lo1), (la1, lo1), (la1, lo0))
    return f"rect{half:.1f}@{la0:+.2f},{lo0:+.2f}", pts


def _knn_point(rng: random.Random) -> tuple[float, float]:
    alat, alon = _anchor(rng)
    lat = min(max(alat + rng.uniform(-3.0, 3.0), -85.0), 85.0)
    lon = min(max(alon + rng.uniform(-3.0, 3.0), -179.0), 179.0)
    return round(lat, 4) + 3.7e-6, round(lon, 4) + 3.7e-6


def spatial_stream(seed: int, n_ops: int) -> list:
    rng = random.Random(f"spatial:{seed}")
    out: list = []
    seen: set = set()
    n_region = 0
    qid = 0
    while len(out) < n_ops:
        if len(out) % (REGIONS_PER_KNN + 1) == REGIONS_PER_KNN:
            ks = list(KNN_KS)
            rng.shuffle(ks)
            qs = []
            for k in ks:
                lat, lon = _knn_point(rng)
                qs.append((qid, lat, lon, k))
                qid += 1
            out.append(KnnOp(tuple(qs)))
            continue
        # one shifted fixture per three regions, the rest seeded rectangles
        if n_region % 3 == 2:
            name, pts = _shift_fixture(rng, n_region // 3)
        else:
            name, pts = _rect(rng, n_region - n_region // 3)
        if pts in seen:
            continue
        seen.add(pts)
        n_region += 1
        out.append(RegionOp(name, pts))
    return out


def optree_warmup(seed: int, n_ops: int) -> list[OptreeOp]:
    """The untimed warm-up ops: fresh draws of another stream."""
    return [op for op in optree_stream(-1 - seed, 2 * n_ops) if not op.hit][:n_ops]


def spatial_warmup(seed: int, n_ops: int) -> list:
    return spatial_stream(-1 - seed, n_ops)
