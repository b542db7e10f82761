"""Deterministic gazetteer: geo-entity dictionary for extraction (SURVEY X4).

The reference gets item geometry from the OSM store
(``src/OscarSgIndex.cpp:104-122`` — ``geoShape().visitPoints``).  Our corpus is
Common-Crawl-style web text, so geometry comes from *geo-entity extraction*:
a fixed dictionary of place names with fixed coordinates.  Names are drawn
from the corpus vocabulary (unigrams + bigrams) so every table in
/root/testdata exercises the pipeline; coordinates are seed-free pure
functions of the entry index (golden-angle spiral) so extraction is
byte-identical across runs and parallelism levels (north_rule per-row
invariant).

Skew design (FIXTURES.md §2): the 5 hottest vocabulary words share one metro
area (one coarse cell) — at coarse resolutions that cell carries ~5x the
postings of any other, forcing the AQE/salting path that the reference's
atomic work counter handled (``src/OscarSgIndex.cpp:81-95``).

Edge cases: one polar entry (lat 89.5), one near-antimeridian entry
(lon 179.95), southern-hemisphere + all-S2-face coverage via the spiral.
"""

from __future__ import annotations

import math
from functools import lru_cache

# Corpus vocabulary (observed in /root/testdata documents.text; stable).
VOCAB = [
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data",
    "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
    "big", "sort", "query", "fast", "the", "dup",
]

HOT_WORDS = ["join", "hash", "row", "batch", "scan"]  # one metro = hot cell
_METRO = (48.85, 2.35)

N_ENTRIES = 200


def _spiral(k: int, n: int) -> tuple[float, float]:
    """Golden-angle spiral point k of n on the sphere (deterministic)."""
    lat = math.degrees(math.asin(max(-1.0, min(1.0, 1.0 - 2.0 * (k + 0.5) / n))))
    lon = (k * 137.50776405003785) % 360.0 - 180.0
    # keep a safety margin off the exact antimeridian/poles
    # margins keep jittered mentions (±0.2°) inside valid lat/lon
    lon = max(-179.6, min(179.6, lon))
    lat = max(-89.0, min(89.0, lat))
    return round(lat, 6), round(lon, 6)


@lru_cache(maxsize=1)
def gazetteer() -> list[tuple[str, float, float, int]]:
    """(name, lat, lon, popularity) — exactly N_ENTRIES rows, deterministic."""
    entries: list[tuple[str, float, float, int]] = []
    # 1) hot words: clustered in one metro area (hot cell at coarse res)
    for i, w in enumerate(HOT_WORDS):
        entries.append((w, round(_METRO[0] + 0.03 * i, 6), round(_METRO[1] + 0.04 * i, 6), 100))
    # 2) special edge-case words (placed so the ±0.2° mention jitter cannot
    #    cross the antimeridian or the poles)
    specials = {"dup": (89.5, 12.25), "the": (13.37, 179.7), "a": (-87.9, -120.5)}
    used = set(HOT_WORDS) | set(specials)
    for w, (la, lo) in sorted(specials.items()):
        entries.append((w, la, lo, 50))
    # 3) remaining unigrams on the spiral
    rest = [w for w in VOCAB if w not in used]
    for i, w in enumerate(rest):
        la, lo = _spiral(i, len(rest))
        entries.append((w, la, lo, 10))
    # 4) bigrams "w1 w2" until N_ENTRIES, coordinates on a global spiral
    n_bi = N_ENTRIES - len(entries)
    v = VOCAB
    all_pairs = [f"{a_} {b_}" for a_ in v for b_ in v if a_ != b_]
    # stride through the ordered-pair list for variety (37 coprime to 930)
    picked: list[str] = []
    seen: set[str] = set()
    i = 0
    while len(picked) < n_bi:
        name = all_pairs[(i * 37) % len(all_pairs)]
        i += 1
        if name not in seen:
            seen.add(name)
            picked.append(name)
    for k, name in enumerate(picked):
        la, lo = _spiral(k, n_bi)
        entries.append((name, la, lo, 1))
    assert len(entries) == N_ENTRIES
    assert len({e[0] for e in entries}) == N_ENTRIES
    return entries


def gazetteer_values_sql() -> str:
    """The same gazetteer as an ANSI VALUES relation for the DuckDB oracle."""
    rows = ",\n".join(
        f"('{n}', {lat!r}, {lon!r}, {pop})" for n, lat, lon, pop in gazetteer()
    )
    return f"(VALUES\n{rows}\n) AS g(name, lat, lon, popularity)"


# ---------------------------------------------------------------------------
# mention coordinates: gazetteer position + deterministic per-(doc, name)
# jitter (±0.2°).  Real geo-extraction yields near-duplicate but distinct
# coordinates per mention; the jitter reproduces that so postings spread over
# many cells instead of 200 degenerate points (hot-cell arrays stay bounded).
# Pure integer arithmetic on (doc_id, name) → identical in Spark and DuckDB.
# doc_id must stay < ~9e12 so doc_id*1000003 cannot overflow a signed 64-bit
# value under ANSI semantics.
# ---------------------------------------------------------------------------

_JMOD = 4001  # → delta ∈ [-0.2, +0.2] in 1e-4 steps


def jitter_lat_sql(doc_id: str, name: str, lat: str) -> str:
    h = f"(({doc_id}) * 1000003 + length({name}) * 7919 + ascii({name}) * 131) % {_JMOD}"
    return f"({lat} + (({h}) - 2000) / 10000.0)"


def jitter_lon_sql(doc_id: str, name: str, lon: str) -> str:
    h = f"(({doc_id}) * 999983 + length({name}) * 104729 + ascii({name}) * 37) % {_JMOD}"
    return f"({lon} + (({h}) - 2000) / 10000.0)"


def mentions_subquery_sql() -> str:
    """Canonical mentions relation as a SQL subquery: (doc_id, name, lat,
    lon) with jittered coordinates — THE single source every oracle uses."""
    jlat = jitter_lat_sql("d.doc_id", "g.name", "g.lat")
    jlon = jitter_lon_sql("d.doc_id", "g.name", "g.lon")
    return f"""(SELECT d.doc_id, g.name, {jlat} AS lat, {jlon} AS lon
FROM documents d
JOIN {gazetteer_values_sql()}
  ON contains(' ' || d.text || ' ', ' ' || g.name || ' '))"""
