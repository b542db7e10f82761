"""Engine facade (``OsmCompleter::energize()``, ``apps/main.cpp:111-121``):
one ``TableSpec`` DAG per (grid, res) — the ``osi-compare-create``
pipeline, ``apps/mainc.cpp:84-125`` — builds the index tables, and the
engine hands out Planner-ready QueryContexts over them."""

from __future__ import annotations

import dataclasses
from collections import OrderedDict
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.cell_stats import load_stats, stats_frame
from .operators.hcqr import hcqr_postings_build
from .operators.index_build import (
    cell_totals_from_base,
    doc_index_full,
    doc_index_full_from_full,
    mention_cells_from_full,
)
from .operators.mentions import extract_mentions
from .operators.posting_store import (
    posting_store_build,
    posting_store_collisions,
    resolve_postings,
)
from .operators.token_index import token_postings_from_base, vocab_collisions
from .plans.planner import Planner, QueryContext
from .session import collect_arrow, local_frame
from .sources.catalog import WRITE_PARTS, Catalog, TableSpec, build_cached
from .sources.tables import (
    data_files, ensure_scan_parallelism, footer_rows, load, read_arrow,
)

# Largest token dictionary worth holding on the driver for plan-time leaf
# expansion; beyond it leaves lower to distributed filters on token_postings.
MAX_DRIVER_TOKENS = 1_000_000
TABLES = ("index_base", "mention_cells", "cell_totals")
_UNREAD = object()  # a driver-side memo before its first read


class Engine:
    """``catalog_root`` switches on the create→query split (``apps/mainc.cpp``
    → ``src/static-htm-index.cpp:202-207``): tables are written sorted and
    read back, so query leaves are pruned parquet scans.  Without it the
    same DAG caches its tables in the session (``osi-compare`` mode)."""

    # bounded driver-side result cache — the HCQRIndexWithCache analog
    # (``apps/mainq.cpp:495-497``)
    RESULT_CACHE_CAP = 64

    def __init__(self, spark: SparkSession, sf_dir: str,
                 catalog_root: str | None = None, posting_store: bool = False):
        self.spark = spark
        self.sf_dir = sf_dir
        # the reference's create-time deduplication flag (``apps/main.cpp:
        # 154``): postings stored as (refs, distinct-list dictionary)
        self.posting_store = posting_store
        if posting_store and catalog_root is None:
            raise ValueError("posting_store requires catalog_root "
                             "(it is a serialization-layer option)")
        self.catalog = None if catalog_root is None else Catalog(spark, catalog_root)
        self._build = build_cached if self.catalog is None else self.catalog.build
        self._ctx: dict[tuple[str, int], QueryContext] = {}
        self._hcqr_ctx: dict[tuple[str, int], QueryContext] = {}
        self._results: "OrderedDict[tuple, DataFrame]" = OrderedDict()
        # a single-row-group corpus file would run every narrow derivation
        # as ONE task (13-29 s per index_base vs ~1 s, r06); input_path lets
        # the guard size-estimate the splits instead of planning the scan
        self.docs = ensure_scan_parallelism(
            load(spark, sf_dir, "documents"), spark,
            input_path=f"{sf_dir}/documents.parquet")
        self.mentions = extract_mentions(spark, self.docs).cache()
        # the first stored/cached doc_index_full: later grids re-derive their
        # base from it (cell re-assignment only, no gazetteer match)
        self._full_src: DataFrame | None = None
        # corpus dictionary and build vocabulary: read once, for every grid
        self._tokens = self._vocab_pair = _UNREAD

    @cached_property
    def n_docs(self) -> int:
        """Corpus size: sizes clustered writes and the token build (no cell
        holds more docs, so a small corpus needs no token-slice salting).
        Summed from the corpus parquet footers: no Spark job."""
        files = data_files(f"{self.sf_dir}/documents.parquet")
        return footer_rows(files) if files else self.docs.count()

    def _dictionary(self, token_dict: DataFrame) -> list[str] | None:
        """Sorted distinct corpus tokens, or None when the dictionary exceeds
        MAX_DRIVER_TOKENS (leaves then take the distributed predicate).  A
        catalog's is read from its parquet files, the cap decided from
        their footers: no Spark job."""
        if self._tokens is _UNREAD:
            t = (collect_arrow(token_dict, MAX_DRIVER_TOKENS) if self.catalog is None
                 else read_arrow(self.catalog.path("token_dict"), MAX_DRIVER_TOKENS))
            self._tokens = None if t is None else t.sort_by("token").column(
                "token").to_pylist()
        return self._tokens

    def corpus_tokens(self) -> list[str] | None:
        """The corpus dictionary (see ``_dictionary``)."""
        return self._dictionary(
            self._build(self._values(), ["token_dict"])["token_dict"])

    def _vocab(self, token_dict: DataFrame) -> tuple | None:
        """(vh, coll) for token_postings_from_base: the dictionary as a local
        (token, th) relation and its collision audit, which runs no job.
        None above the driver cap (each build runs its own vocab pass)."""
        if self._vocab_pair is _UNREAD:
            toks, pair = self._dictionary(token_dict), None
            if toks is not None:
                vh = local_frame(self.spark, "token string", [toks]).selectExpr(
                    "token", "xxhash64(token) AS th")
                pair = vh, vocab_collisions(vh)
            self._vocab_pair = pair
        return self._vocab_pair

    def _adopt_full_source(self, full: DataFrame) -> None:
        """Keep the first doc_index_full as later grids' extraction source;
        ``self.mentions`` becomes a columnar read of its arrays."""
        if self._full_src is not None:
            return
        self._full_src = full
        old = self.mentions
        e = full.select("doc_id", F.explode(
            F.arrays_zip("names", "lats", "lons")).alias("e"))
        self.mentions = e.select("doc_id", F.col("e.names").alias("name"),
                                 F.col("e.lats").alias("lat"),
                                 F.col("e.lons").alias("lon")).cache()
        old.unpersist()

    def _values(self) -> list[TableSpec]:
        """Nodes every build shares; clustered writes use one task per 2,000
        docs, capped at the shuffle parallelism."""
        parts = "spark.sql.shuffle.partitions"
        return [TableSpec("n_docs", None, (), lambda d: self.n_docs),
                TableSpec(WRITE_PARTS, None, ("n_docs",), lambda d: max(1, min(
                    int(self.spark.conf.get(parts)), -(-d["n_docs"] // 2000)))),
                TableSpec("token_dict", "token_dict", (), lambda d: self.docs.selectExpr(
                    "explode(array_distinct(split(text, ' '))) AS token").distinct(),
                          inputs=(self.sf_dir,)),
                TableSpec("vocab", None, ("token_dict",),
                          lambda d: self._vocab(d["token_dict"]))]

    def _specs(self, grid: str, res: int, use_store: bool) -> list[TableSpec]:
        """The create DAG of one (grid, res).  Every table derives from the
        one-pass base (in catalog mode the STORED base: pruned reads)."""
        sfx, p = f"{grid}_{res}", {"grid": grid, "res": res}
        base, mc = f"index_base_{sfx}", f"mention_cells_{sfx}"
        tp_in = (base, f"cell_totals_{sfx}")

        def base_build(d):
            if self._full_src is not None:
                return doc_index_full_from_full(self._full_src, grid, res)
            return doc_index_full(self.docs, grid, res)

        def tp_build(d):
            # fm classification needs only per-cell doc counts: counted over
            # the base (cells are distinct per doc), so the token build does
            # not wait for the cell_totals table
            counts = (d[base].select(F.explode("cells").alias("cell_id"))
                      .groupBy("cell_id")
                      .agg(F.count("*").cast("long").alias("n_docs")))
            return token_postings_from_base(d[base], counts, grid, res,
                                            n_docs_hint=d["n_docs"],
                                            vocab=d["vocab"])

        specs = self._values() + [
            TableSpec(base, "index_base", (), base_build,
                      inputs=(self.sf_dir,), params=p),
            # clustered by cell: the base's doc-hash layout scattered cell
            # runs over every file (+60% stored bytes at sf1.0)
            TableSpec(mc, "mention_cells", (base, WRITE_PARTS),
                      lambda d: mention_cells_from_full(d[base], grid, res),
                      cluster_by="cell_id", sort_within=("cell_id",), params=p),
            TableSpec(f"cell_totals_{sfx}", "cell_totals", (base,),
                      lambda d: cell_totals_from_base(d[base], grid, res),
                      sort_within=("cell_id",), params=p),
            # the metadata energize() loads (SURVEY S7), read back at open
            TableSpec(f"cell_stats_{sfx}", "cell_stats", (mc,),
                      lambda d: stats_frame(d[mc], grid, res), params=p),
        ]
        if not use_store:
            # clustered by token (the reference's static index is
            # token-major); a leaf's pushed token filter still decodes every
            # file while each file is one row group spanning most of the
            # token range, as at the perfbench corpus size
            return specs + [TableSpec(
                f"token_postings_{sfx}", "token_postings",
                (base, "n_docs", "vocab", WRITE_PARTS), tp_build,
                cluster_by="token", sort_within=("token", "cell_id"),
                inputs=tp_in, params=p)]
        # both store tables split ONE kernel run: the value node's eager
        # checkpoint runs it once, and each write reads the checkpoint
        tp = f"tp_{sfx}"
        return specs + [
            TableSpec(tp, None, (base, "n_docs", "vocab"),
                      lambda d: tp_build(d).localCheckpoint()),
            TableSpec(f"posting_lists_{sfx}", "posting_lists", (tp,),
                      lambda d: posting_store_build(d[tp])[0],
                      sort_within=("list_id",), inputs=tp_in, params=p),
            TableSpec(f"token_postings_refs_{sfx}", "token_postings_refs",
                      (tp,), lambda d: posting_store_build(d[tp])[1],
                      sort_within=("token", "cell_id"), inputs=tp_in, params=p),
        ]

    def context(self, grid: str = "s2", res: int = 10) -> QueryContext:
        key = (grid, res)
        if key not in self._ctx:
            sfx = f"{grid}_{res}"
            # the store is a property OF THE CATALOG: an Engine opened
            # without the flag still reads a --dedup catalog through it
            use_store = self.catalog is not None and (
                self.posting_store
                or bool(self.catalog.snapshots(f"posting_lists_{sfx}")))
            tp_tables = (("posting_lists", "token_postings_refs") if use_store
                         else ("token_postings",))
            tables = [f"{t}_{sfx}" for t in TABLES + tp_tables]
            stats, targets = f"cell_stats_{sfx}", tables + ["token_dict"]
            if self.catalog is not None:
                targets.append(stats)
            vals = self._build(self._specs(grid, res, use_store), targets)
            base, mc, ct, *tp = (vals[t] for t in tables)
            self._adopt_full_source(base)
            if use_store:
                # a 64-bit content-key collision fails the create step hard
                n_bad = posting_store_collisions(tp[0])
                if n_bad:
                    raise RuntimeError(
                        f"posting store: {n_bad} list_id collisions — "
                        "rebuild with a wider content key")
                tp = [resolve_postings(tp[1], tp[0])]
            self._ctx[key] = QueryContext(
                spark=self.spark, grid=grid, res=res, mcells=mc, ctotals=ct,
                tpostings=tp[0], tokens=self._dictionary(vals["token_dict"]))
            if self.catalog is not None:
                # the reference's energize() (SURVEY S7): the stored per-cell
                # metadata loads at open with no Spark job; an in-memory
                # mcells collects its stats on first use
                load_stats(mc, grid, res, lambda cap: read_arrow(
                    self.catalog.path(stats), cap))
        return self._ctx[key]

    def hcqr_context(self, grid: str = "s2", res: int = 10) -> QueryContext:
        """context() + the per-token HCQR payload table (``osi-compare-create
        hcqr``, ``apps/mainc.cpp:152-157``)."""
        key = (grid, res)
        if key not in self._hcqr_ctx:
            ctx = self.context(grid, res)
            # outside the build: runs no action, and the base ctx keeps the
            # one cached frame both paths share
            pa = ctx.pop_anc()
            name = f"hcqr_postings_{grid}_{res}"
            spec = TableSpec(
                name, "hcqr_postings", (WRITE_PARTS,),
                lambda d: hcqr_postings_build(
                    ctx.tpostings, ctx.ctotals, grid, res, pop_anc=pa),
                cluster_by="token", sort_within=("token", "pixel_id"),
                inputs=(f"token_postings_{grid}_{res}",),
                params={"grid": grid, "res": res})
            ht = self._build(self._values() + [spec], [name])[name]
            # a SEPARATE context: planner() keeps the lift-per-query path
            self._hcqr_ctx[key] = dataclasses.replace(ctx, hcqr_tbl=ht)
        return self._hcqr_ctx[key]

    def hcqr_planner(self, grid: str = "s2", res: int = 10) -> Planner:
        return Planner(self.hcqr_context(grid, res))

    def planner(self, grid: str = "s2", res: int = 10) -> Planner:
        return Planner(self.context(grid, res))

    def query_docs(self, query: str, grid: str = "s2", res: int = 10,
                   use_cache: bool = True) -> DataFrame:
        """Op-tree query → distinct doc_id DataFrame (result-cached)."""
        return self._cached(("docs", query, grid, res),
                            lambda: self.planner(grid, res).docs(query),
                            use_cache)

    def hcqr_docs(self, query: str, grid: str = "s2", res: int = 10,
                  use_cache: bool = True) -> DataFrame:
        """HCQR-path flagship entry over the static-HCQR index."""
        return self._cached(("hcqr", query, grid, res),
                            lambda: self.hcqr_planner(grid, res).hcqr_docs(query),
                            use_cache)

    def _cached(self, key: tuple, build, use_cache: bool) -> DataFrame:
        if not use_cache:
            return build()
        if key in self._results:
            self._results.move_to_end(key)
            return self._results[key]
        df = self._results[key] = build().localCheckpoint(eager=False)
        if len(self._results) > self.RESULT_CACHE_CAP:
            # eviction only drops the reference; the JVM ContextCleaner
            # frees the checkpoint's blocks once no frame refers to them.
            # Freeing them here would fail a caller still holding the frame
            # on its next action.
            self._results.popitem(last=False)
        return df
