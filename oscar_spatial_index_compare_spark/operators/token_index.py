"""Token/search index build — B4/B5 (SURVEY §2.3).

Reference: ``OscarSearchSgIndex::create`` workers intersect each token's
matched items with per-trixel postings (two-pointer merge,
``src/OscarSearchSgIndex.cpp:144-161``) and classify each trixel full-match
vs partial-match by comparing matched-count to the trixel total
(``src/OscarSearchSgIndex.cpp:178-197``).

Spark shape (``token_postings_from_base``): one (doc, cell) row carrying
the doc's token hashes → exchange on (cell, salt) → an Arrow kernel groups
by (token, cell) → n_matched, matched doc array; is_fm = (n_matched ==
cell total); doc_ids NULL iff fm.

The fm bit is the reference's "store 1 bit instead of the item list"
compression (SURVEY §4): fm rows carry NULL doc_ids and flatten() recovers
the full list from cell_totals — at 100 TB this is the dominant
postings-size saver for common tokens.

Query types: the reference pre-materializes exact/prefix/suffix/substring
payloads per trie node (``include/hic/OscarSearchSgIndex.h:29-35``).  We
materialize ``exact`` postings; prefix/suffix/substring leaves expand to the
matching token set against the (small, broadcastable) token dictionary at
plan time and union exact postings — on Spark the lazy union plan beats
4x index duplication (decision recorded in SURVEY §7).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_OBJ_HASH_AGG_CONF = "spark.sql.execution.useObjectHashAggregateExec"


@contextmanager
def sorted_list_agg(spark):
    """Scope a terminal action so collect_list groupBys plan as
    SortAggregate instead of ObjectHashAggregate.

    For posting-list builds (tens of millions of appended values across
    ~10^5 groups) the object-hash buffer churn made the list pass 3-4x
    slower than a shuffle-sort + streaming append (measured in the r04
    scaling profile: 103s → 31s at 48M triples / 8 cores).  The conf only
    affects TypedImperativeAggregate functions (collect_list/collect_set),
    so the count/sum HashAggregates in the same plan are untouched; it is
    restored on exit so interactive-session aggregations keep the default.
    Plans are frozen at ACTION time — wrap the ``.write``/``.count``, not
    the DataFrame construction.
    """
    old = spark.conf.get(_OBJ_HASH_AGG_CONF, "true")
    spark.conf.set(_OBJ_HASH_AGG_CONF, "false")
    try:
        yield
    finally:
        spark.conf.set(_OBJ_HASH_AGG_CONF, old)


# docs per (cell, salt) group of the Arrow-grouped build: bounds both the
# pandas group's memory (≈ target · |toks| token refs) and the straggler
# tail (a 10M-doc metro cell fans out to 200 salted groups, not one task)
TARGET_GROUP_DOCS = 50_000

# colliding-token routing is a driver-side literal, so its size is capped:
# the expected count is ~|vocab|²/2⁶⁵ (birthday bound on xxhash64 — ~3·10⁻⁴
# colliding PAIRS at a 100M-token vocabulary), so hitting this cap means a
# broken hash, not a big corpus
MAX_COLLIDING_TOKENS = 10_000


def vocab_collisions(vh: DataFrame) -> list[str]:
    """The plan-time collision audit over a (token, th = xxhash64(token))
    vocabulary: the sorted tokens whose hash another token shares."""
    rows = (vh.groupBy("th").agg(F.collect_list("token").alias("ts"))
            .where(F.size("ts") > 1).select("ts")
            .limit(MAX_COLLIDING_TOKENS + 1).collect())
    return sorted({t for r in rows for t in r.ts})


def _salted_pairs(b: DataFrame, ctb: DataFrame, no_salt: bool,
                  n_shuffle: int, hashed: bool) -> DataFrame:
    """(doc_id, cell_id, n_total, _salt, toks) exchange stream: explode
    ``cells`` only (ONE row per (doc, cell) carrying the token array),
    broadcast-join cell totals, slice-salt hot cells, and repartition on
    the exact grouping keys.

    Token-slice salting: cold cells (_nsalt == 1) skip the per-token
    filter; hot cells fan out to _nsalt rows, each carrying the tokens
    whose hash lands in that slice — deterministic, so a token's full
    posting for the cell lives in exactly one slice and EVERY (cell, salt)
    group holds the complete doc set of its token slice.  With ``hashed``
    toks (array<long>) the slice key is the value itself (pmod on a long);
    string toks pay one xxhash64 per token per slice.
    """
    pairs = b.select(
        "doc_id", "toks", F.explode("cells").alias("cell_id")
    ).join(F.broadcast(ctb), "cell_id")
    if no_salt:
        pairs = pairs.withColumn("_salt", F.lit(0))
    else:
        slice_of = ((lambda t: F.pmod(t, F.col("_nsalt"))) if hashed else
                    (lambda t: F.pmod(F.xxhash64(t), F.col("_nsalt"))))
        slices = F.when(
            F.col("_nsalt") == 1, F.array(F.col("toks"))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.col("_nsalt") - 1),
                lambda s: F.filter(F.col("toks"), lambda t: slice_of(t) == s),
            )
        )
        pairs = pairs.select(
            "doc_id", "cell_id", "n_total", "_nsalt",
            F.posexplode(slices).alias("_salt", "toks"),
        ).where(F.size("toks") > 0)
    # EXPLICIT partition count for the group exchange: AQE sizes post-shuffle
    # stages by shuffle BYTES, but this stage's cost is the ~|toks|× token
    # fan-out of those bytes — left to AQE it coalesced a 32-core stage down
    # to ~5 tasks (measured: 67 s at BOTH 8 and 32 cores, zero scaling).  An
    # explicit repartition on the exact grouping keys satisfies
    # FlatMapGroupsInPandas' clustering requirement (no second exchange) and
    # is exempt from AQE coalescing.
    return pairs.repartition(n_shuffle, "cell_id", "_salt")


def token_postings_from_base(base: DataFrame, ctotals: DataFrame,
                             grid: str, res: int,
                             n_docs_hint: int | None = None,
                             target_docs: int = TARGET_GROUP_DOCS,
                             _collide_tokens: list[str] | None = None,
                             vocab: tuple[DataFrame, list[str]] | None = None) -> DataFrame:
    """Arrow-grouped posting build over doc_index_base (doc_id, toks, cells)
    — the r05 scaling-gate rewrite (r04 VERDICT item 1).

    The r04 shape exploded every (token, doc, cell) triple BEFORE the
    exchange and shuffle-sorted ~40 triples per (doc, cell) — the shuffle
    and sort of ~10⁹ slim rows was the named non-scaling pass (0.34-0.40
    raw).  This build keeps the token fan-out OUT of the shuffle entirely:

      plan time  one narrow vocab pass (explode toks → distinct → th =
               xxhash64(token)) serves two jobs: the (th → token)
               restoration dimension, and an exact COLLISION AUDIT — any
               th mapping to >1 token is collected driver-side (bounded by
               ``MAX_COLLIDING_TOKENS``; expected count ~0, see constant)
               and those tokens are routed to the string-keyed kernel
               instead, so a 64-bit collision can never merge two tokens'
               postings.  Same driver-literal pattern as region_query's
               pruned coverings; the audit action runs once per build.
      stage 0  one narrow pass: ``toks`` → xxhash64 per token (ONCE per
               doc, JVM-side), explode ``cells`` only → (doc_id, toks,
               cell_id) + a broadcast join against cell_totals for
               ``n_total`` and the per-cell salt factor.  The exchange
               carries ONE row per (doc, cell) with the doc's token-HASH
               array — ~|toks|× fewer rows than the triple stream, and
               fixed-width longs instead of strings (measured 1M docs:
               5.6 GB → ~3 GB shuffle; the salt-slice filter becomes a
               pmod on the value instead of per-slice string hashing).
               Hot cells are salted by TOKEN SLICE: the doc's token array
               splits into ``_nsalt`` hash slices (JVM-side higher-order
               filter, empty slices dropped), so EVERY (cell, salt) group
               holds the complete doc set of its token slice.
      stage 1  ``applyInArrow`` over (cell_id, salt): the (token → sorted
               doc list) fan-out runs INSIDE each group on native Arrow
               buffers — zero-copy ``list_flatten`` and ONE value sort of
               rank-packed ``(token_rank << 40 | doc_id)`` words that
               groups token hashes and sorts every token's doc run in the
               same pass (see ``_kernel_tail``); no strings ever reach
               Python (the r05.0 string kernel spent 1.7× this kernel's
               wall in ``dictionary_encode`` alone, and its Arrow IPC was
               ~2× the bytes).  Every group is complete for its tokens, so
               fm classifies LOCALLY (len == n_total) and fm rows emit
               doc_ids NULL — the reference's fm-bit compression
               (``src/OscarSearchSgIndex.cpp:178-197``) applied before the
               lists ever cross Arrow.
      tail     join th → token against the vocab dimension (AQE picks
               broadcast while the vocab fits; plain shuffle join beyond)
               and union the string-kernel rows of any colliding tokens.

    Exactness: toks/cells are array_distinct per doc, so each (token, doc,
    cell) pair occurs once, lands in exactly one deterministic token slice,
    and per-group counts/lists are exact and complete (row-identical to the
    string kernel — pytest A≡B on the forced-salt corpus with the whole
    vocabulary routed, and the oracle suite).  Group memory is
    bounded: a slice carries ~``target_docs``·|toks| token refs, and
    dropping empty slices bounds group ROWS by the slice's token refs too.
    ``n_docs_hint`` ≤ target_docs proves no cell can need salting (a cell
    never exceeds the corpus doc count) and pins the salt factor to 1,
    skipping the slice fan-out entirely.

    Measured (250k docs, local[8], same sortWithinPartitions+write action):
    r04 slim-key two-pass 94-103 s → string-kernel build 35 s; the hot
    shuffle/sort volume falls |toks|-fold, which is also what the N→4N
    gate needs — the 4N level pays netty transfer for shuffle bytes that
    the 1-executor level reads locally.

    ``vocab``: optional pre-computed ``(vh, coll)`` — the (token, th)
    dimension frame and the sorted colliding-token list.  The vocabulary is
    a property of the CORPUS, not the grid: an Engine building three grids
    passes the same pair to every build instead of paying the corpus-wide
    distinct scan + collision-audit action per grid (r06; guide §1.2 "don't
    compute things you throw away").  ``_collide_tokens`` injects a fake
    colliding set so tests can exercise the routing (real 64-bit
    collisions are unconstructible).
    """
    no_salt = n_docs_hint is not None and n_docs_hint <= target_docs
    salt_expr = (F.lit(1) if no_salt else
                 F.greatest(F.lit(1), F.ceil(F.col("n_docs") / F.lit(target_docs))))
    ctb = ctotals.select(
        "cell_id", F.col("n_docs").alias("n_total"),
        salt_expr.cast("int").alias("_nsalt"),
    )
    # Kernel-stage parallelism: floored at the cluster's core count now
    # that output FILE sizing is decoupled from it (the engine clusters the
    # stored table by token in a separate explicit repartition — r06).  The
    # old ~2k-docs-per-task cap sized files but also capped the Arrow
    # kernel stage at 3 tasks for a 5k-doc corpus (measured 4s of a 32-core
    # build in a 3-task Python stage); any corpus big enough to matter
    # still hits the shuffle_partitions cap.
    spark = base.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if n_docs_hint is not None:
        n_shuffle = max(1, min(n_shuffle,
                               max(-(-n_docs_hint // 2000),
                                   spark.sparkContext.defaultParallelism)))
    head = [F.lit("exact").alias("qt"), F.lit(grid).alias("grid"),
            F.lit(res).alias("res")]
    if vocab is not None and _collide_tokens is None:
        vh, coll = vocab
    else:
        vh = (base.select(F.explode("toks").alias("token")).distinct()
              .select("token", F.xxhash64("token").alias("th")))
        coll = (vocab_collisions(vh) if _collide_tokens is None
                else sorted(set(_collide_tokens)))
    if len(coll) > MAX_COLLIDING_TOKENS:
        raise RuntimeError(
            f"token build: {len(coll)} xxhash64-colliding tokens exceeds "
            f"MAX_COLLIDING_TOKENS={MAX_COLLIDING_TOKENS} — a 64-bit key "
            "cannot collide at this rate on real vocabularies")
    b = base
    if coll:
        coll_lit = F.array(*[F.lit(t) for t in coll])
        b = base.withColumn("toks", F.array_except("toks", coll_lit))
    hb = b.withColumn("toks", F.transform("toks", lambda t: F.xxhash64(t)))
    pairs = _salted_pairs(hb, ctb, no_salt, n_shuffle, hashed=True)
    out_schema = ("th long, cell_id long, doc_ids array<long>, "
                  "n_docs long, is_fm boolean")

    def build(table):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        toks = table.column("toks").combine_chunks()
        lens = pc.list_value_length(toks).to_numpy().astype(np.int64)
        if int(lens.sum()) == 0:
            return pa.table({
                "th": pa.array([], pa.int64()),
                "cell_id": pa.array([], pa.int64()),
                "doc_ids": pa.array([], pa.list_(pa.int64())),
                "n_docs": pa.array([], pa.int64()),
                "is_fm": pa.array([], pa.bool_()),
            })
        cell = table.column("cell_id")[0].as_py()
        n_total = table.column("n_total")[0].as_py()
        codes = pc.list_flatten(toks).to_numpy()  # int64 hashes, zero-copy
        drep = np.repeat(table.column("doc_id").to_numpy(), lens)
        keys, ns, fm, doc_ids = _kernel_tail(codes, drep, n_total)
        k = len(ns)
        return pa.table({
            "th": pa.array(keys, pa.int64()),
            "cell_id": pa.array(np.full(k, cell, np.int64)),
            "doc_ids": doc_ids,
            "n_docs": pa.array(ns, pa.int64()),
            "is_fm": pa.array(fm),
        })

    grouped = pairs.groupBy("cell_id", "_salt").applyInArrow(build, out_schema)
    out = grouped.join(vh, "th").select(
        "token", *head, "cell_id", "is_fm", "doc_ids",
        F.col("n_docs").cast("long").alias("n_docs"))
    if coll:
        cb = base.withColumn(
            "toks", F.array_intersect("toks", coll_lit)
        ).where(F.size("toks") > 0)
        pairs_c = _salted_pairs(cb, ctb, no_salt, n_shuffle, hashed=False)
        out = out.unionByName(_tp_string_tail(pairs_c, head))
    return out


def _kernel_tail(codes, drep, n_total, dict_indices: bool = False):
    """Shared numpy tail of both Arrow kernels: groups token keys AND
    sorts every token's doc run, then run-length cuts → (per-group keys,
    run lengths ``ns``, fm mask, null-masked doc_ids ListArray pieces).

    Fast path (the r5 scaling-gate bandwidth fix): keys are rank-encoded
    to dense ints < 2^23 (string-kernel ``codes`` already ARE dictionary
    indices; hash keys take ONE ``dictionary_encode`` plus a k-sized rank
    remap that preserves the hash-ascending group order), packed
    ``rank << 40 | doc_id`` into a single int64 word and sorted by VALUE —
    one ``np.sort`` replaces lexsort's two stable argsorts AND both n-sized
    permutation gathers (measured 8x less kernel wall at 5M pairs; the
    token build is the one bandwidth-bound pass of the N→4N scaling gate).
    Falls back to the lexsort formulation, bit-identical, when doc ids
    exceed 40 bits or a group holds ≥2^23 distinct keys — a group is one
    cell × token-slice (~``TARGET_GROUP_DOCS``·|toks| refs), far below
    both bounds by construction, but the kernel stays exact if a caller
    breaks the construction.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(codes)
    if n == 0:
        empty = np.array([], np.int64)
        return empty, empty, np.array([], bool), pa.ListArray.from_arrays(
            pa.array([0], pa.int32()), pa.array([], pa.int64()))
    uniq_sorted = None
    if dict_indices:
        idx = codes.astype(np.int64)
        kmax = int(idx.max()) + 1
    else:
        enc = pc.dictionary_encode(pa.array(codes))
        uniq = enc.dictionary.to_numpy()
        ranks = np.empty(len(uniq), np.int64)
        order_u = np.argsort(uniq, kind="stable")
        ranks[order_u] = np.arange(len(uniq))
        idx = ranks[enc.indices.to_numpy()]
        uniq_sorted = uniq[order_u]
        kmax = len(uniq)
    # idx.min() guard (ADVICE r05): impossible for Arrow dictionary indices
    # today, but a negative key from a contract-breaking caller would
    # sign-corrupt the << 40 packing — fall back to lexsort instead
    if (kmax < (1 << 23) and int(idx.min()) >= 0
            and int(drep.min()) >= 0 and int(drep.max()) < (1 << 40)):
        packed = (idx << np.int64(40)) | drep
        sp = np.sort(packed)
        ids = sp >> np.int64(40)
        ds = sp & np.int64((1 << 40) - 1)
    else:  # exact fallback — same grouped-and-sorted stream
        order = np.lexsort((drep, idx))
        ids, ds = idx[order], drep[order]
    cut = np.flatnonzero(np.diff(ids)) + 1
    starts = np.concatenate([[0], cut])
    ends = np.concatenate([cut, [n]])
    ns = ends - starts
    # every group is complete for its token slice → fm is local & exact
    fm = ns == n_total
    # list offsets: fm rows contribute empty (null-masked) runs
    keep_lens = np.where(fm, 0, ns)
    offsets = np.concatenate([[0], np.cumsum(keep_lens)])
    values = ds[np.repeat(~fm, ns)] if fm.any() else ds
    doc_ids = pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), pa.array(values, pa.int64()),
        mask=pa.array(fm),
    )
    gk = ids[starts]
    keys = uniq_sorted[gk] if uniq_sorted is not None else gk
    return keys, ns, fm, doc_ids


def _tp_string_tail(pairs: DataFrame, head: list) -> DataFrame:
    """String-keyed Arrow kernel tail: dictionary_encode (the C++ hash
    table) assigns int codes, then the shared lexsort tail.  The exact
    route of the hashed build's xxhash64-colliding tokens (a colliding
    token's group is string-keyed, so the two tokens never merge)."""
    out_schema = ("token string, cell_id long, doc_ids array<long>, "
                  "n_docs long, is_fm boolean")

    def build(table):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        toks = table.column("toks").combine_chunks()
        lens = pc.list_value_length(toks).to_numpy().astype(np.int64)
        if int(lens.sum()) == 0:
            return pa.table({
                "token": pa.array([], pa.string()),
                "cell_id": pa.array([], pa.int64()),
                "doc_ids": pa.array([], pa.list_(pa.int64())),
                "n_docs": pa.array([], pa.int64()),
                "is_fm": pa.array([], pa.bool_()),
            })
        cell = table.column("cell_id")[0].as_py()
        n_total = table.column("n_total")[0].as_py()
        dic = pc.dictionary_encode(pc.list_flatten(toks))
        if isinstance(dic, pa.ChunkedArray):  # multi-chunk input path
            dic = dic.combine_chunks()
            if isinstance(dic, pa.ChunkedArray):
                dic = dic.chunk(0)
        codes = dic.indices.to_numpy()
        uniq = dic.dictionary
        drep = np.repeat(table.column("doc_id").to_numpy(), lens)
        keys, ns, fm, doc_ids = _kernel_tail(codes, drep, n_total,
                                             dict_indices=True)
        k = len(ns)
        return pa.table({
            "token": uniq.take(pa.array(keys, pa.int32())),
            "cell_id": pa.array(np.full(k, cell, np.int64)),
            "doc_ids": doc_ids,
            "n_docs": pa.array(ns, pa.int64()),
            "is_fm": pa.array(fm),
        })

    grouped = pairs.groupBy("cell_id", "_salt").applyInArrow(build, out_schema)
    return grouped.select(
        "token", *head, "cell_id", "is_fm", "doc_ids",
        F.col("n_docs").cast("long").alias("n_docs"))


def match_tokens(all_tokens: list[str], pattern: str, qt: str) -> list[str]:
    """Expand a leaf pattern to matching dictionary tokens for the given
    query type — the trie lookup analog (plan-time, driver-side)."""
    if qt == "exact":
        return [t for t in all_tokens if t == pattern]
    if qt == "prefix":
        return [t for t in all_tokens if t.startswith(pattern)]
    if qt == "suffix":
        return [t for t in all_tokens if t.endswith(pattern)]
    if qt == "substring":
        return [t for t in all_tokens if pattern in t]
    raise ValueError(qt)


# trie-depth cap of materialize_qt_postings: keys longer than this are NOT
# in the payload table, so a leaf whose pattern exceeds it must take the
# dictionary / distributed-filter path instead (ADVICE r02)
DEFAULT_MAX_KEY_LEN = 12


def materialize_qt_postings(tp_exact: DataFrame, qt: str,
                            max_key_len: int = DEFAULT_MAX_KEY_LEN) -> DataFrame:
    """Materialize a non-exact query-type payload table from exact postings
    — the reference's per-trie-node payloads
    (``include/hic/OscarSearchSgIndex.h:29-35``), Spark-style.

    Each exact posting row fans out to every dictionary KEY that reaches it
    under ``qt`` (prefixes / suffixes / substrings of the token, capped at
    ``max_key_len`` chars like a trie depth cap), then one groupBy merges
    per (key, cell).  Fully distributed — no driver dictionary at any size;
    a query leaf then needs ONE key-equality lookup instead of plan-time
    dictionary expansion.  Output schema == token_postings with qt set.

    ``is_fm`` is inherited (any contributing token fm ⟹ key fm): a pm union
    that happens to cover a whole cell stays pm-with-full-list — items()-
    equivalent, and identical to the planner's plan-time-expansion
    semantics (SURVEY §4 decision), though the reference would reclassify
    such a cell as fm when building the payload from scratch.
    """
    if qt == "prefix":
        keys = F.expr(
            f"transform(sequence(1, least(length(token), {max_key_len})),"
            " i -> substring(token, 1, i))"
        )
    elif qt == "suffix":
        keys = F.expr(
            f"transform(sequence(1, least(length(token), {max_key_len})),"
            " i -> substring(token, -i, i))"
        )
    elif qt == "substring":
        keys = F.expr(
            "array_distinct(flatten(transform(sequence(1, length(token)),"
            f" i -> transform(sequence(i, least(length(token), i + {max_key_len} - 1)),"
            " j -> substring(token, i, j - i + 1)))))"
        )
    else:
        raise ValueError(f"materialize_qt_postings: qt must be non-exact, got {qt!r}")
    fanned = tp_exact.select(
        F.explode(keys).alias("token"),
        "grid", "res", "cell_id",
        F.col("is_fm").alias("_fm"), F.col("doc_ids").alias("_docs"),
        F.col("n_docs").alias("_n"),
    )
    merged = fanned.groupBy("token", "grid", "res", "cell_id").agg(
        F.max("_fm").alias("any_fm"),
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list(F.coalesce("_docs", F.array()))))
        ).alias("m_docs"),
        # any fm contributor's _n IS the cell total (it matched every doc)
        F.max(F.when(F.col("_fm"), F.col("_n"))).alias("_fm_n"),
    )
    # a key's cell is fm iff ANY contributing token was fm there (that token
    # already matched every doc of the cell) — doc_ids NULL iff fm
    return merged.select(
        "token",
        F.lit(qt).alias("qt"),
        "grid", "res", "cell_id",
        F.col("any_fm").alias("is_fm"),
        F.when(F.col("any_fm"), F.lit(None)).otherwise(F.col("m_docs")).alias("doc_ids"),
        F.when(F.col("any_fm"), F.col("_fm_n"))
        .otherwise(F.size("m_docs")).cast("long").alias("n_docs"),
    )


QT_FALLBACK = {
    # reference fallback chain substring→prefix→suffix→exact
    # (src/OscarSearchWithSg.cpp:71-86, src/static-htm-index.cpp:83-105)
    "substring": ["substring", "prefix", "suffix", "exact"],
    "prefix": ["prefix", "exact"],
    "suffix": ["suffix", "exact"],
    "exact": ["exact"],
}


def resolve_qt(requested: str, available: set[str]) -> str:
    for qt in QT_FALLBACK[requested]:
        if qt in available:
            return qt
    raise KeyError(f"no query type available for {requested!r}")
