"""Corpus-derived token dictionary (r01 VERDICT item 4 / ADVICE medium):
tokens OUTSIDE the gazetteer vocabulary must be queryable end-to-end — the
r01 engine hardcoded the 31-word VOCAB and silently returned empty."""

import numpy as np
from pyspark.sql import functions as F

from oscar_spatial_index_compare_spark.operators.index_build import (
    cell_totals_from_base,
    doc_index_full,
    mention_cells,
)
from oscar_spatial_index_compare_spark.operators.mentions import extract_mentions
from oscar_spatial_index_compare_spark.operators.token_index import (
    token_postings_from_base,
)
from oscar_spatial_index_compare_spark.plans.planner import Planner, QueryContext


def _ctx(spark, docs, tokens):
    base = doc_index_full(docs, "zxy", 9)
    ct = cell_totals_from_base(base, "zxy", 9)
    tp = token_postings_from_base(base, ct, "zxy", 9)
    mc = mention_cells(extract_mentions(spark, docs), "zxy", 9)
    return QueryContext(spark=spark, grid="zxy", res=9,
                        mcells=mc, ctotals=ct, tpostings=tp, tokens=tokens)


def test_non_gazetteer_token_queryable(spark):
    docs = spark.createDataFrame(
        [(1, "zzqq join"), (2, "join window"), (3, "zzqq the"), (4, "window")],
        "doc_id long, text string",
    )
    toks = sorted(
        r.t for r in docs.select(
            F.explode(F.array_distinct(F.split("text", " "))).alias("t")
        ).distinct().collect()
    )
    assert "zzqq" in toks  # the corpus dictionary sees it
    p = Planner(_ctx(spark, docs, toks))
    assert {r.doc_id for r in p.docs("zzqq").collect()} == {1, 3}
    assert {r.doc_id for r in p.docs("zz*").collect()} == {1, 3}
    assert {r.doc_id for r in p.docs("zzqq / join").collect()} == {1}
    # distributed (dictionary-less) path answers identically
    pd_ = Planner(_ctx(spark, docs, None))
    assert {r.doc_id for r in pd_.docs("zzqq").collect()} == {1, 3}
    assert {r.doc_id for r in pd_.docs("*zq*").collect()} == {1, 3}


def test_engine_dictionary_comes_from_corpus(engine):
    toks = engine.corpus_tokens()
    ctx = engine.context("zxy", 9)
    assert ctx.tokens == toks
    # every distinct corpus token is present (not a fixed gazetteer list)
    corpus = {
        r.t for r in engine.docs.select(
            F.explode(F.array_distinct(F.split("text", " "))).alias("t")
        ).distinct().collect()
    }
    assert set(toks) == corpus


def _tp_rows(tp):
    return sorted(
        (r.token, r.cell_id, r.is_fm,
         tuple(r.doc_ids) if r.doc_ids is not None else None, r.n_docs)
        for r in tp.collect()
    )


def test_salted_groups_exact(spark, engine):
    """The Arrow-grouped build's hot-cell salting (target_docs forced to 1 —
    EVERY multi-doc cell splits into per-doc salted groups, so every list
    goes through the partial-merge path) must equal the unsalted build row
    for row — fm classification and lists included."""
    from oscar_spatial_index_compare_spark.operators.index_build import (
        cell_totals_from_base, doc_index_full,
    )

    base = doc_index_full(engine.docs, "zxy", 9)
    ct = cell_totals_from_base(base, "zxy", 9)
    default = token_postings_from_base(base, ct, "zxy", 9)
    salted = token_postings_from_base(base, ct, "zxy", 9, target_docs=1)
    rows_d = _tp_rows(default)
    assert _tp_rows(salted) == rows_d
    # sanity: the default build really has fm rows AND multi-doc lists
    # (else the salting equivalence is vacuous)
    assert any(r[2] for r in rows_d)
    assert any(r[3] is not None and len(r[3]) > 1 for r in rows_d)


def test_no_salt_hint_exact(spark):
    """n_docs_hint ≤ target_docs pins the salt factor to 1 (merge branch
    dropped from the plan) — rows must match the hintless build."""
    docs = spark.createDataFrame(
        [(i, "paris bridge" if i % 2 else "paris museum") for i in range(12)],
        "doc_id long, text string",
    )
    from oscar_spatial_index_compare_spark.operators.index_build import (
        cell_totals_from_base, doc_index_full,
    )

    base = doc_index_full(docs, "zxy", 9)
    ct = cell_totals_from_base(base, "zxy", 9)
    hinted = token_postings_from_base(base, ct, "zxy", 9, n_docs_hint=12)
    default = _tp_rows(token_postings_from_base(base, ct, "zxy", 9))
    assert _tp_rows(hinted) == default


def test_jvm_and_arrow_impls_identical(spark, engine):
    """The build tails must be row-identical on both the unsalted and the
    forced-salt (target_docs=1) paths.  Only the Arrow kernels remain (the
    post-exchange JVM tail is gone): the hash-keyed kernel (default) and the
    string-keyed kernel, which builds the whole table when every corpus
    token is routed to it as an xxhash64 collision."""
    from oscar_spatial_index_compare_spark.operators.index_build import (
        cell_totals_from_base, doc_index_full,
    )

    base = doc_index_full(engine.docs, "zxy", 9)
    ct = cell_totals_from_base(base, "zxy", 9)
    vocab = sorted(r.t for r in base.select(
        F.explode("toks").alias("t")).distinct().collect())
    assert len(vocab) > 2
    for target in (10**9, 1):
        hashed = _tp_rows(token_postings_from_base(
            base, ct, "zxy", 9, target_docs=target))
        stringed = _tp_rows(token_postings_from_base(
            base, ct, "zxy", 9, target_docs=target, _collide_tokens=vocab))
        assert stringed == hashed
        assert any(r[2] for r in hashed)  # fm rows present — not vacuous


def test_collision_routing_exact(spark, engine):
    """Inject a fake xxhash64-colliding token set (real 64-bit collisions
    are unconstructible): the routed build — those tokens through the
    string kernel, the rest through the hash kernel, unioned — must be
    row-identical to the unrouted default, on both salting paths.  Also
    pins the cap: an absurd colliding set must raise, not silently merge."""
    import pytest

    from oscar_spatial_index_compare_spark.operators.index_build import (
        cell_totals_from_base, doc_index_full,
    )
    from oscar_spatial_index_compare_spark.operators import token_index as ti

    base = doc_index_full(engine.docs, "zxy", 9)
    ct = cell_totals_from_base(base, "zxy", 9)
    # pick two real corpus tokens, one of them gazetteer-hot
    toks = [r.t for r in base.select(
        F.explode("toks").alias("t")).distinct().limit(2).collect()]
    assert len(toks) == 2
    for target in (10**9, 1):
        default = _tp_rows(token_postings_from_base(
            base, ct, "zxy", 9, target_docs=target))
        routed = _tp_rows(token_postings_from_base(
            base, ct, "zxy", 9, target_docs=target, _collide_tokens=toks))
        assert routed == default
        # the routed tokens genuinely appear in the result (non-vacuous)
        assert any(r[0] in toks for r in default)
    with pytest.raises(RuntimeError, match="colliding"):
        token_postings_from_base(
            base, ct, "zxy", 9,
            _collide_tokens=[f"t{i}" for i in range(ti.MAX_COLLIDING_TOKENS + 1)])


def test_kernel_tail_packed_matches_lexsort_and_handles_edges():
    """The r5 packed-word kernel tail must be bit-identical to the lexsort
    formulation it replaced: negative xxhash keys, fm groups, and the
    ≥2^40 doc-id fallback all produce the same (keys, ns, fm, doc lists)."""
    import pyarrow as pa

    from oscar_spatial_index_compare_spark.operators.token_index import (
        _kernel_tail,
    )

    rng = np.random.default_rng(11)
    n, vocab, n_total = 50_000, 700, 120
    hashes = rng.integers(-(2 ** 62), 2 ** 62, vocab)  # signed, like xxhash64
    codes = hashes[rng.integers(0, vocab, n)]
    drep = rng.integers(0, n_total, n).astype(np.int64)

    def reference(codes, drep):
        order = np.lexsort((drep, codes))
        cs, ds = codes[order], drep[order]
        cut = np.flatnonzero(np.diff(cs)) + 1
        starts = np.concatenate([[0], cut])
        ns = np.concatenate([cut, [len(cs)]]) - starts
        fm = ns == n_total
        vals = ds[np.repeat(~fm, ns)] if fm.any() else ds
        return cs[starts], ns, fm, vals

    # force an fm group: one fresh hash present for EVERY doc id
    sentinel = np.int64(2 ** 62 + 17)  # outside the sampled hash range
    full = np.concatenate([codes, np.full(n_total, sentinel)])
    dfull = np.concatenate([drep, np.arange(n_total, dtype=np.int64)])
    keys, ns, fm, doc_ids = _kernel_tail(full, dfull, n_total)
    rkeys, rns, rfm, rvals = reference(full, dfull)
    assert np.array_equal(keys, rkeys)
    assert np.array_equal(ns, rns)
    assert np.array_equal(fm, rfm) and fm.any()
    assert np.array_equal(doc_ids.flatten().to_numpy(), rvals)

    # dict-indices path (string kernel): codes already dense ints
    idx = rng.integers(0, 40, 5_000).astype(np.int32)
    d2 = rng.integers(0, 999, 5_000).astype(np.int64)
    k2, ns2, fm2, dl2 = _kernel_tail(idx, d2, 10 ** 9)
    order = np.lexsort((d2, idx))
    assert np.array_equal(k2, np.unique(idx))
    assert np.array_equal(dl2.flatten().to_numpy(), d2[order])
    assert not fm2.any()

    # fallback: doc ids beyond 40 bits cannot pack — same contract
    dbig = drep + (1 << 41)
    kf, nsf, fmf, dlf = _kernel_tail(codes, dbig, n_total)
    rkf, rnsf, rfmf, rvf = reference(codes, dbig)
    assert np.array_equal(kf, rkf)
    assert np.array_equal(nsf, rnsf)
    assert np.array_equal(dlf.flatten().to_numpy(), rvf)

    # empty group
    ke, nse, fme, dle = _kernel_tail(np.array([], np.int64),
                                     np.array([], np.int64), 5)
    assert len(ke) == 0 and len(nse) == 0 and len(dle) == 0
