"""Op-tree plans and kNN batches are built from SQL text.

On classic PySpark every ``F.col`` is ~19 py4j round trips to the JVM (an
active-session lookup plus reflection), so Column-tree plan construction
cost thousands of gateway commands per HCQR op.  The planner and the
CQR/HCQR and kNN operators now build expressions as SQL strings; these
tests pin the command budget of building fixed trees and a kNN batch,
the one quoting helper for data-derived strings, and the engine's
result-cache LRU.
"""

from __future__ import annotations

import contextlib
from collections import OrderedDict

import pytest

from oscar_spatial_index_compare_spark.plans.planner import _token_pred, sql_str
from oscar_spatial_index_compare_spark.session import local_frame
from tests.test_local_frames import knn_batch


@contextlib.contextmanager
def _gateway_commands(spark, monkeypatch):
    """Counts py4j commands sent while the block runs.  Memory commands
    ('m': deletes of Python-side proxies) are left out: the garbage
    collector sends them whenever it happens to run."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        yield sent
    finally:
        monkeypatch.setattr(client, "send_command", send)


# (path, tree, ceiling): about 1.25x the commands of building the tree with
# SQL-text expressions; the Column-tree planner sent 1,693-4,857 for these
BUDGET = [
    ("hcqr", "join / dup", 225),
    ("hcqr", "join - dup", 390),
    ("hcqr", "$region:2 / join", 240),
    ("cqr", "(join + dup) / window - spark", 265),
]


@pytest.mark.parametrize("path,tree,ceiling", BUDGET)
def test_plan_construction_budget(engine, spark, monkeypatch, path, tree, ceiling):
    """Building (not collecting) a tree stays under its command ceiling.
    The first build loads per-context state (covering, cell stats), so the
    second one is counted."""
    if path == "hcqr":
        def build():
            return engine.hcqr_planner("s2", 10).hcqr_docs(tree)
    else:
        def build():
            return engine.planner("s2", 10).docs(tree)
    build()
    with _gateway_commands(spark, monkeypatch) as sent:
        build()
    assert 0 < len(sent) <= ceiling, f"{tree}: {len(sent)} gateway commands"


def test_knn_batch_construction_budget(spark, monkeypatch):
    """Building a 5-query kNN batch: SQL text over one candidate frame
    sends ~100 commands, the Column-tree plan with a second query frame
    sent ~590.  The first build collects the cell stats."""
    build = knn_batch(spark)
    build()
    with _gateway_commands(spark, monkeypatch) as sent:
        build()
    assert 0 < len(sent) < 150, f"{len(sent)} gateway commands"


TRICKY = ["o'neil", "c:\\temp", "\\'", "it''s\\\\", "plain"]


def test_sql_str_round_trips_quotes_and_backslashes(spark):
    row = spark.range(1).selectExpr(
        *[f"{sql_str(s)} AS s{i}" for i, s in enumerate(TRICKY)]).first()
    assert list(row) == TRICKY


@pytest.mark.parametrize("qt,pat,want", [
    ("exact", "o'neil", ["o'neil"]),
    ("prefix", "c:\\", ["c:\\temp"]),
    ("suffix", "''s\\\\", ["it''s\\\\"]),
    ("substring", "\\'", ["\\'"]),
])
def test_token_predicates_quote_data(spark, qt, pat, want):
    toks = local_frame(spark, "token string", [TRICKY])
    assert sorted(r.token for r in toks.where(_token_pred(pat, qt)).collect()) == want


def test_result_cache_lru(engine, spark, monkeypatch):
    """A hit returns the identical frame; the 65th distinct query evicts
    the oldest; eviction starts no Spark job and sends no gateway command
    beyond what an insert without eviction sends."""
    cap = engine.RESULT_CACHE_CAP
    monkeypatch.setattr(engine, "_results", OrderedDict())
    frames = [spark.range(i + 1) for i in range(cap + 1)]
    first = engine._cached(("t", 0), lambda: frames[0], True)
    assert engine._cached(("t", 0), lambda: pytest.fail("rebuilt"), True) is first
    for i in range(1, cap - 1):
        engine._cached(("t", i), lambda i=i: frames[i], True)
    with _gateway_commands(spark, monkeypatch) as filling:
        engine._cached(("t", cap - 1), lambda: frames[cap - 1], True)
    assert len(engine._results) == cap
    engine._cached(("t", 0), None, True)  # a hit: key 0 becomes the newest
    sc = spark.sparkContext
    sc.setJobGroup("lru-evict", "result-cache eviction")
    try:
        with _gateway_commands(spark, monkeypatch) as evicting:
            engine._cached(("t", cap), lambda: frames[cap], True)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert list(engine._results)[0] == ("t", 2)
    assert ("t", 1) not in engine._results and ("t", 0) in engine._results
    assert len(engine._results) == cap
    assert sc.statusTracker().getJobIdsForGroup("lru-evict") == []
    assert len(evicting) == len(filling)
