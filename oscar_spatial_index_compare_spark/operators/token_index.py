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
    SortAggregate instead of ObjectHashAggregate: for posting-list builds
    the object-hash buffer churn made the list pass 3-4x slower than a
    shuffle-sort + streaming append.  Only TypedImperativeAggregate
    functions are affected, and the conf is restored on exit.  Plans are
    frozen at ACTION time — wrap the ``.write``/``.count``, not the
    DataFrame construction.
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
    vocabulary: the sorted tokens whose hash another token shares.  The
    vocabulary is collected and grouped on the driver; over a local
    relation (the engine's dictionary) the collect runs no Spark job."""
    by_hash: dict[int, list[str]] = {}
    for r in vh.collect():
        by_hash.setdefault(r.th, []).append(r.token)
    return sorted(t for ts in by_hash.values() if len(ts) > 1 for t in ts)


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
    # EXPLICIT partition count: AQE sizes post-shuffle stages by shuffle
    # bytes, but this stage costs the ~|toks|× token fan-out of them (AQE
    # coalesced a 32-core stage to ~5 tasks).  A repartition on the exact
    # grouping keys needs no second exchange and is exempt from coalescing.
    return pairs.repartition(n_shuffle, "cell_id", "_salt")


def token_postings_from_base(base: DataFrame, ctotals: DataFrame,
                             grid: str, res: int,
                             n_docs_hint: int | None = None,
                             target_docs: int = TARGET_GROUP_DOCS,
                             _collide_tokens: list[str] | None = None,
                             vocab: tuple[DataFrame, list[str]] | None = None) -> DataFrame:
    """Arrow-grouped posting build over a doc_index_full frame (of which it
    reads doc_id, toks and cells).  The token fan-out stays OUT of the
    shuffle:

      plan time  the vocabulary (explode toks → distinct → th =
               xxhash64(token)) is the (th → token) restoration dimension
               and gets an exact COLLISION AUDIT: it is collected, and any
               th shared by >1 token (bounded by ``MAX_COLLIDING_TOKENS``;
               expected count ~0) routes those tokens to the string-keyed
               kernel, so a 64-bit collision never merges two tokens'
               postings.
      stage 0  one narrow pass: ``toks`` → xxhash64 per token (once per
               doc, JVM-side), explode ``cells`` only, broadcast-join cell
               totals for ``n_total`` and the salt factor.  The exchange
               carries ONE row per (doc, cell) with the doc's token-hash
               array, ~|toks|× fewer rows than a triple stream.  Hot cells
               are salted by TOKEN SLICE (``_salted_pairs``), so every
               (cell, salt) group holds the complete doc set of its tokens.
      stage 1  ``applyInArrow`` over (cell_id, salt): the (token → sorted
               doc list) fan-out runs inside each group on Arrow buffers
               (``_kernel_tail``); no strings reach Python.  Every group is
               complete for its tokens, so fm classifies LOCALLY (len ==
               n_total) and fm rows emit doc_ids NULL — the reference's
               fm-bit compression (``src/OscarSearchSgIndex.cpp:178-197``).
      tail     join th → token against the vocabulary (AQE picks broadcast
               while it fits) and union the string kernel's rows of any
               colliding tokens.

    Exactness: toks/cells are array_distinct per doc, so each (token, doc,
    cell) occurs once and lands in exactly one slice.  Group memory is
    bounded by ~``target_docs``·|toks| token refs per slice.
    ``n_docs_hint`` ≤ target_docs proves no cell needs salting (a cell
    never exceeds the corpus doc count) and skips the slice fan-out.

    ``vocab``: optional pre-computed ``(vh, coll)`` — the (token, th)
    dimension frame and the sorted colliding-token list.  The vocabulary
    is a property of the CORPUS, not the grid: an Engine passes the same
    pair to every grid's build.  ``_collide_tokens`` injects a fake
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
    # kernel-stage parallelism: ~2k docs per task, floored at the core count
    # (output files are sized by the engine's own clustered write) and
    # capped at the shuffle partitions
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

    Keys are rank-encoded to dense ints < 2^23 (string-kernel ``codes``
    already are dictionary indices; hash keys take one
    ``dictionary_encode`` plus a rank remap that keeps the hash-ascending
    group order), packed ``rank << 40 | doc_id`` into one int64 and sorted
    by VALUE: one ``np.sort`` instead of lexsort's two argsorts and two
    gathers.  Doc ids over 40 bits or ≥2^23 keys in a group fall back to
    the bit-identical lexsort.
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
