#!/usr/bin/env python3
"""End-to-end benchmark of the engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload optree|spatial --seed N \\
        --seconds S --trace 0|1

Run it from the repository root (it changes there itself).  It starts a
``local[nproc]`` session through ``session.get_spark``, generates the corpus
with ``sources/synth.synth_documents``, builds the catalog tables the
workload reads, opens fresh engines on them, warms up, then runs one
closed-loop client with no think time for ``S`` seconds.  Answers are
checked against the DuckDB oracles after the timed window.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``; the per-layer ones
with ``--trace 1``, which also writes the span tree to
``.perfbench_work/spans-<workload>-<seed>.json``).

Workloads (see ``streams.py`` for the inputs):
  optree   op-trees over s2-10 through the CQR path (op1) and the HCQR
           path (op2), 20% result-cache hits by construction.
  spatial  region singles on s2-10 (op1) and kNN batches of 5 on h3-6
           (op2), 3:1, every polygon distinct.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root.  A run removes its own directory there when it ends; the
generated corpus is kept for the next run (it does not depend on the seed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

MAX_TIMED_S = 100.0  # safety valve: a run must end well inside 180 s
JOIN_TIMEOUT_S = 120.0

WORKLOADS = {
    # tables: (grid, res, with HCQR) built, then read by the timed ops.
    # open: time a fresh Engine opening the stored catalog (optree only, to
    #   keep spatial's two-grid run inside the time budget; spatial times
    #   its ops on the engine that built the catalog).
    # warmup: untimed ops before the timed ones.
    # rate: timed ops per --seconds; every run of a workload times the same
    #   sequence of op shapes, which takes about --seconds on a 4-core host.
    "optree": {"ops": ("cqr", "hcqr"), "tables": (("s2", 10, True),),
               "open": True, "warmup": 2, "rate": 1.3},
    "spatial": {"ops": ("region", "knn"), "tables": (("s2", 10, False), ("h3", 6, False)),
                "open": False, "warmup": 8, "rate": 3.0},
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- process helpers -----------------------------------------------------------
def _hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process, MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _join_new_threads(before: set) -> None:
    """Join the plain threads started since ``before`` was taken: the
    engine's context-open preload thread and kNN warm pool.  py4j's own
    connection threads are Thread subclasses and are left alone."""
    deadline = time.monotonic() + JOIN_TIMEOUT_S
    for t in threading.enumerate():
        if t in before or t is threading.current_thread():
            continue
        if type(t) is threading.Thread:
            t.join(max(0.0, deadline - time.monotonic()))
            if t.is_alive():
                raise RuntimeError(f"engine thread {t.name} did not finish")


def _tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten samples
    beyond it; the median when there are fewer than 21 samples."""
    n = len(xs)
    if n < 21:
        return 0.5, statistics.median(xs)
    q = (n - 10) / n
    return q, sorted(xs)[n - 11]


# -- the run ----------------------------------------------------------------
class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spec = WORKLOADS[args.workload]
        from spans import NullTracer, Tracer

        self.tracer = Tracer() if args.trace else NullTracer()
        self.spark = None
        self.results: list[dict] = []
        self.setup: dict = {}

    # setup -------------------------------------------------------------------
    def start_session(self):
        from oscar_spatial_index_compare_spark.session import get_spark

        nproc = len(os.sched_getaffinity(0))
        with self.tracer.span("session"):
            t0 = time.perf_counter()
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}", cores=nproc,
                extra_conf={
                    # keep every scratch file inside the checkout (the JVM's
                    # perf-counter file would go to /tmp whatever tmpdir says)
                    "spark.local.dir": os.path.join(self.work, "spark"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.path.join(self.work, 'jtmp')} "
                        "-XX:-UsePerfData",
                })
            self.setup["session.start_s"] = time.perf_counter() - t0
        self.threads0 = set(threading.enumerate())
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle
                           .current().pid())

    def make_corpus(self):
        """The corpus is the same for every seed: the first run in a checkout
        writes it under .perfbench_work/ and later runs reuse it.  It is
        benchmark input, so it is not part of setup_s either way."""
        from oscar_spatial_index_compare_spark.sources.synth import synth_documents
        from streams import CORPUS_DOCS

        self.corpus = os.path.join(WORK_ROOT, f"corpus-{CORPUS_DOCS}")
        t0 = time.perf_counter()
        if not os.path.isdir(self.corpus):
            tmp = os.path.join(self.work, "corpus")
            with self.tracer.span("corpus"):
                synth_documents(self.spark, CORPUS_DOCS).write.parquet(
                    os.path.join(tmp, "documents.parquet"))
            try:
                os.rename(tmp, self.corpus)   # atomic: readers never see half
            except OSError:
                if not os.path.isdir(self.corpus):
                    raise
        self.setup["corpus_s"] = time.perf_counter() - t0

    def build(self):
        from oscar_spatial_index_compare_spark.engine import Engine
        from spans import jobs_since, jvm_counters, max_job_id
        from streams import RESULT_CACHE_CAP

        if Engine.RESULT_CACHE_CAP != RESULT_CACHE_CAP:
            raise RuntimeError("streams.RESULT_CACHE_CAP no longer mirrors "
                               "Engine.RESULT_CACHE_CAP")
        self.catalog_root = os.path.join(self.work, "catalog")
        jobs0 = max_job_id(self.spark)
        rules0 = jvm_counters(self.spark)
        t0 = time.perf_counter()
        eng = Engine(self.spark, self.corpus, catalog_root=self.catalog_root)
        for grid, res, hcqr in self.spec["tables"]:
            with self.tracer.span(f"build.{grid}"):
                t = time.perf_counter()
                eng.context(grid, res)
                self.setup[f"build.{grid}_s"] = time.perf_counter() - t
            if hcqr:
                with self.tracer.span("build.hcqr"):
                    t = time.perf_counter()
                    eng.hcqr_context(grid, res)
                    self.setup["build.hcqr_s"] = time.perf_counter() - t
        with self.tracer.span("build.background"):
            _join_new_threads(self.threads0)
        wall = time.perf_counter() - t0
        self.setup["build_s"] = wall
        self.build_catalog = eng.catalog
        self.engine = eng   # serves the ops unless a fresh open replaces it
        if self.tracer.enabled:
            self.setup["build_spark"] = {
                **jobs_since(self.spark, jobs0),
                **{k: v - rules0[k] for k, v in jvm_counters(self.spark).items()}}

    def open_engine(self):
        """A fresh Engine on the stored catalog; the open counts as done when
        the threads it started have finished."""
        from oscar_spatial_index_compare_spark.engine import Engine

        before = set(threading.enumerate())
        with self.tracer.span("open"):
            t0 = time.perf_counter()
            self.engine = Engine(self.spark, self.corpus, catalog_root=self.catalog_root)
            for grid, res, hcqr in self.spec["tables"]:
                (self.engine.hcqr_context if hcqr else self.engine.context)(grid, res)
            t1 = time.perf_counter()
            with self.tracer.span("open.background"):
                _join_new_threads(before)
            t2 = time.perf_counter()
        self.setup["open_s"] = t2 - t0
        self.setup["open.call_s"] = t1 - t0
        self.setup["open.background_s"] = t2 - t1

    # ops -----------------------------------------------------------------------
    def kind(self, op) -> str:
        from streams import KnnOp, OptreeOp

        if isinstance(op, OptreeOp):
            return op.path
        return "knn" if isinstance(op, KnnOp) else "region"

    def plan(self, op):
        """The call that returns the lazy DataFrame."""
        import numpy as np

        from oscar_spatial_index_compare_spark.operators.knn import knn_docs
        from oscar_spatial_index_compare_spark.operators.region_query import (
            region_query_docs,
        )

        kind = self.kind(op)
        eng = self.engine
        if kind == "cqr":
            return eng.query_docs(op.query, "s2", 10)
        if kind == "hcqr":
            return eng.hcqr_docs(op.query, "s2", 10)
        if kind == "region":
            return region_query_docs(self.spark, eng.context("s2", 10).mcells,
                                     np.array(op.poly, dtype=np.float64), "s2", 10)
        return knn_docs(self.spark, eng.context("h3", 6).mcells,
                        list(op.queries), "h3", 6)

    @staticmethod
    def answer(kind: str, rows) -> frozenset:
        if kind == "knn":
            return frozenset((int(r.query_id), int(r.doc_id), int(r.dist_m),
                              int(r.rank)) for r in rows)
        return frozenset(int(r.doc_id) for r in rows)

    def run_ops(self, ops, timed: bool):
        out = []
        t_start = time.perf_counter()
        for i, op in enumerate(ops):
            if time.perf_counter() - t_start >= MAX_TIMED_S:
                break
            kind = self.kind(op)
            op_id = len(self.results) + len(out) if timed else -1 - i
            if timed:
                self.tracer.begin_op(self.spark, op_id, kind)
            rec = {"op": op, "kind": kind, "id": op_id, "df": None, "err": None}
            rows = None
            with self.tracer.span("op", op_id) as sp:
                t0 = time.perf_counter()
                try:
                    with self.tracer.span("plan", op_id):
                        df = self.plan(op)
                    t1 = time.perf_counter()
                    with self.tracer.span("exec", op_id):
                        rows = df.collect()
                    rec["df"] = df
                except Exception as e:  # a raised op counts as failed
                    t1 = time.perf_counter()
                    rec["err"] = f"{type(e).__name__}: {e}"[:300]
                t2 = time.perf_counter()
            if rows is not None:
                rec["answer"] = self.answer(kind, rows)
            rec.update(ms=(t2 - t0) * 1e3, plan_ms=(t1 - t0) * 1e3,
                       exec_ms=(t2 - t1) * 1e3, span=sp)
            if timed:
                rec["spark"] = self.tracer.end_op(
                    self.spark, op_id, rec["df"], len(rec.get("answer", ())))
            out.append(rec)
        return out, time.perf_counter() - t_start

    def warmup(self):
        import streams as S

        t0 = time.perf_counter()
        with self.tracer.span("warmup"):
            if self.args.workload == "optree":
                self.warm_ops = S.optree_warmup(self.args.seed, self.spec["warmup"])
            else:
                self.warm_ops = S.spatial_warmup(self.args.seed, self.spec["warmup"])
            warm, _ = self.run_ops(self.warm_ops, timed=False)
        self.warm_results = warm
        self.setup["warmup_s"] = time.perf_counter() - t0
        bad = [r["err"] for r in warm if r["err"]]
        if bad:
            raise RuntimeError(f"warm-up op failed: {bad[0]}")

    def timed(self):
        import streams as S

        n = max(4, round(self.args.seconds * self.spec["rate"]))
        if self.args.workload == "optree":
            ops = S.optree_stream(self.args.seed, n, tuple(self.warm_ops))
        else:
            ops = S.spatial_stream(self.args.seed, n)
        self.results, self.timed_wall = self.run_ops(ops, timed=True)

    # verification ------------------------------------------------------------
    def verify(self):
        from oracle import Oracle

        with self.tracer.span("verify"):
            orc = Oracle(self.corpus)
            try:
                n_mentions = orc.n_mentions()
                self.build_ok = True
                for grid, res, _h in self.spec["tables"]:
                    snap = self.build_catalog.snapshots(f"mention_cells_{grid}_{res}")
                    if not snap or snap[-1]["n_rows"] != n_mentions:
                        self.build_ok = False
                        print(f"perfbench: mention_cells_{grid}_{res} rows "
                              f"{snap[-1]['n_rows'] if snap else None} != "
                              f"oracle {n_mentions}", file=sys.stderr)
                expect: dict = {}
                for r in self.results:
                    if r["err"]:
                        continue
                    key = _oracle_key(r)
                    if key not in expect:
                        expect[key] = _oracle_answer(orc, r)
                    if r["answer"] != expect[key]:
                        r["err"] = "wrong answer"
            finally:
                orc.close()
        # the paper's differential check: both paths on the same tree agree
        by_tree: dict = {}
        for r in self.results:
            if r["kind"] in ("cqr", "hcqr") and not r["err"]:
                by_tree.setdefault(r["op"].query, {})[r["kind"]] = r["answer"]
        self.cross_checked = sum(1 for v in by_tree.values() if len(v) == 2)
        for r in self.results:
            v = by_tree.get(getattr(r["op"], "query", None), {})
            if len(v) == 2 and v["cqr"] != v["hcqr"] and not r["err"]:
                r["err"] = "CQR and HCQR disagree"

    # metrics -----------------------------------------------------------------
    def index_bytes(self) -> dict:
        from streams import CORPUS_DOCS

        per_table: dict = {}
        for s in self.build_catalog.snapshots():
            t = per_table.setdefault(s["stage"], {"bytes": 0, "files": 0, "write_s": 0.0})
            t["bytes"] += s["bytes"]
            t["files"] += s["n_files"]
            t["write_s"] += s["wall_sec"]
        total = sum(t["bytes"] for t in per_table.values())
        return {"index_bytes_per_doc": total / CORPUS_DOCS, "tables": per_table}

    def end_to_end(self) -> dict:
        op1, op2 = self.spec["ops"]
        lat = {k: [r["ms"] for r in self.results if r["kind"] == k and not r["err"]]
               for k in (op1, op2)}
        done = sum(1 for r in self.results if not r["err"])
        m = {
            "setup_s": (self.setup_s, "s"),
            "query_qps": (done / self.timed_wall, "1/s"),
            "op1_mean_ms": (_mean(lat[op1]), "ms"),
            "op2_mean_ms": (_mean(lat[op2]), "ms"),
            "index_bytes_per_doc": (self.index_bytes()["index_bytes_per_doc"], "B/doc"),
        }
        return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}

    def per_layer(self) -> dict:
        from streams import CORPUS_DOCS

        from oscar_spatial_index_compare_spark.plans.optree import parse
        from oscar_spatial_index_compare_spark.grids.base import get_grid

        m: dict = {"session.start_s": (self.setup["session.start_s"], "s")}
        for g in ("s2", "h3", "hcqr"):
            m[f"build.{g}_s"] = (self.setup.get(f"build.{g}_s", 0.0), "s")
        ib = self.index_bytes()
        writes = sum(t["write_s"] for t in ib["tables"].values())
        m["build.overlap"] = (writes / self.setup["build_s"], "1")
        for t in CATALOG_TABLES:
            d = ib["tables"].get(t, {"bytes": 0, "files": 0, "write_s": 0.0})
            m[f"catalog.{t}.write_s"] = (d["write_s"], "s")
            m[f"catalog.{t}.bytes_per_doc"] = (d["bytes"] / CORPUS_DOCS, "B/doc")
            m[f"catalog.{t}.files"] = (d["files"], "count")
        m["open.call_s"] = (self.setup.get("open.call_s", 0.0), "s")
        m["open.background_s"] = (self.setup.get("open.background_s", 0.0), "s")

        ok = [r for r in self.results if not r["err"]]
        parse_us = []
        for r in ok:
            if r["kind"] in ("cqr", "hcqr"):
                t0 = time.perf_counter()
                parse(r["op"].query)
                parse_us.append((time.perf_counter() - t0) * 1e6)
        m["plan.parse_us"] = (_med(parse_us), "us")
        opt = [r for r in ok if r["kind"] in ("cqr", "hcqr")]
        hits = sum(1 for r in opt if r.get("cache_hit"))
        m["cache.result_hit_ratio"] = (hits / len(opt) if opt else 0.0, "1")

        rows_name = {"cqr": "cqr.postings_rows_per_doc",
                     "hcqr": "hcqr.payload_rows_per_doc",
                     "region": "region.pip_rows_per_doc",
                     "knn": "knn.candidate_rows_per_k"}
        for k in OP_KINDS:
            rs = [r for r in ok if r["kind"] == k]
            lat = [r["ms"] for r in rs]
            m[f"plan.{k}_ms"] = (_med([r["plan_ms"] for r in rs]), "ms")
            m[f"exec.{k}_ms"] = (_med([r["exec_ms"] for r in rs]), "ms")
            m[f"{k}_p50_ms"] = (_med(lat), "ms")
            m[f"{k}_mean_ms"] = (_mean(lat), "ms")
            pct, tail = _tail(lat) if lat else (0.0, 0.0)
            m[f"{k}_tail_ms"] = (tail, "ms")
            m[f"{k}_tail_pct"] = (100.0 * pct, "%")
            m[f"{k}_samples"] = (len(lat), "count")
            sp = [r["spark"] for r in rs]
            n_out = sum(s["n_out"] for s in sp)
            m[rows_name[k]] = (sum(s["input_rows"] for s in sp) / n_out if n_out else 0.0,
                               "rows")
            m[f"spark.{k}.jobs"] = (_med([s["jobs"] for s in sp]), "count")
            m[f"spark.{k}.stages"] = (_med([s["stages"] for s in sp]), "count")
            m[f"spark.{k}.tasks"] = (_med([s["tasks"] for s in sp]), "count")
            m[f"catalyst.{k}.optimize_ms"] = (_med([s["rules_ns"] / 1e6 for s in sp]), "ms")
            m[f"catalyst.{k}.planning_ms"] = (
                _med([s["analysis_ms"] + s["optimization_ms"] + s["planning_ms"]
                      for s in sp]), "ms")
            m[f"codegen.{k}.compile_ms"] = (_med([s["compile_ns"] / 1e6 for s in sp]), "ms")
            m[f"executor.{k}.run_ms"] = (_med([s["run_ms"] for s in sp]), "ms")
            m[f"executor.{k}.cpu_ms"] = (_med([s["cpu_ns"] / 1e6 for s in sp]), "ms")
            m[f"shuffle.{k}.bytes"] = (_med([s["shuffle_bytes"] for s in sp]), "B")
            m[f"python.{k}.worker_ms"] = (_med([s["python_ms"] for s in sp]), "ms")
            m[f"trace.{k}.overhead_ms"] = (
                _med([self.tracer.overhead_s[r["id"]] * 1e3 for r in rs]), "ms")
        b = self.setup["build_spark"]
        m["spark.build.jobs"] = (b["jobs"], "count")
        m["spark.build.stages"] = (b["stages"], "count")
        m["spark.build.tasks"] = (b["tasks"], "count")
        m["catalyst.build.optimize_ms"] = (b["rules_ns"] / 1e6, "ms")
        m["codegen.build.compile_ms"] = (b["compile_ns"] / 1e6, "ms")
        m["executor.build.run_ms"] = (b["run_ms"], "ms")
        m["executor.build.cpu_ms"] = (b["cpu_ns"] / 1e6, "ms")
        m["shuffle.build.bytes"] = (b["shuffle_bytes"], "B")

        cov_ms, cov_cells = [], []
        grid = get_grid("s2")
        import numpy as np

        for r in ok:
            if r["kind"] == "region":
                t0 = time.perf_counter()
                full, part = grid.covering(np.array(r["op"].poly, dtype=np.float64), 10)
                cov_ms.append((time.perf_counter() - t0) * 1e3)
                cov_cells.append(len(full) + len(part))
        m["grids.covering_ms"] = (_med(cov_ms), "ms")
        m["grids.covering_cells"] = (_med(cov_cells), "count")
        m["rss.python_mb"] = (self.rss["python"], "MiB")
        m["rss.jvm_mb"] = (self.rss["jvm"], "MiB")
        cover = [self.tracer.children_cover(r["span"]) for r in self.results]
        m["trace.span_coverage"] = (min(cover) if cover else 0.0, "1")
        return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}

    # the run -----------------------------------------------------------------
    def run(self) -> dict:
        with self.tracer.span("setup"):
            self.start_session()
            self.make_corpus()      # benchmark input, not engine set-up
            t0 = time.perf_counter()
            self.build()
            if self.spec["open"]:
                self.open_engine()
            self.warmup()
            self.setup_s = self.setup["session.start_s"] + time.perf_counter() - t0
        self.timed()
        prev: dict = {}
        for r in self.warm_results + self.results:
            # a hit hands back the cached frame itself
            if r["kind"] in ("cqr", "hcqr") and r["df"] is not None:
                key = (r["kind"], r["op"].query)
                r["cache_hit"] = prev.get(key) is r["df"]
                prev[key] = r["df"]
        self.verify()
        self.rss = {"python": _hwm_mb("self"), "jvm": _hwm_mb(self.jvm_pid)}
        failed = sum(1 for r in self.results if r["err"])
        for r in self.results:
            if r["err"]:
                print(f"perfbench: {r['kind']} op {r['id']} failed: {r['err']}",
                      file=sys.stderr)
        metrics = self.per_layer() if self.tracer.enabled else self.end_to_end()
        if self.tracer.enabled:
            self.tracer.write(os.path.join(
                WORK_ROOT, f"spans-{self.args.workload}-{self.args.seed}.json"))
        self._summary()
        return {"correct": failed == 0 and self.build_ok,
                "attempted": len(self.results), "failed": failed,
                "metrics": metrics}

    def _summary(self):
        op1, op2 = self.spec["ops"]
        st = self.setup
        parts = [f"setup {self.setup_s:.1f}s (session {st['session.start_s']:.1f}s, "
                 f"corpus {st['corpus_s']:.1f}s, build {st['build_s']:.1f}s, "
                 f"open {st.get('open_s', 0.0):.2f}s, warm-up {st['warmup_s']:.1f}s)"]
        for k in (op1, op2):
            lat = [r["ms"] for r in self.results if r["kind"] == k and not r["err"]]
            if lat:
                pct, tail = _tail(lat)
                parts.append(f"{k}: n={len(lat)} mean={statistics.fmean(lat):.0f}ms "
                             f"p50={statistics.median(lat):.0f}ms "
                             f"p{100 * pct:.0f}={tail:.0f}ms")
        parts.append(f"timed {self.timed_wall:.1f}s")
        for r in self.results:
            op = r["op"]
            label = getattr(op, "query", None) or getattr(op, "name", None) or \
                ",".join(str(q[3]) for q in op.queries)
            print(f"perfbench:   {r['kind']:6s} {r['ms']:8.1f} ms "
                  f"(plan {r['plan_ms']:7.1f}) {label}", file=sys.stderr)
        if self.args.workload == "optree":
            parts.append(f"cross-checked trees {self.cross_checked}")
        print("perfbench: " + "; ".join(parts), file=sys.stderr)

    def close(self):
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            _join_new_threads(self.threads0)
        finally:
            self.spark.stop()
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()      # the JVM exits when its stdin closes
                except OSError:
                    pass
                try:
                    proc.wait(60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


CATALOG_TABLES = ("index_base", "mention_cells", "cell_totals", "token_postings",
                  "hcqr_postings")
OP_KINDS = ("cqr", "hcqr", "region", "knn")


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def _oracle_key(r) -> tuple:
    op = r["op"]
    if r["kind"] in ("cqr", "hcqr"):
        return ("optree", op.query)
    return (r["kind"], op.poly if r["kind"] == "region" else op.queries)


def _oracle_answer(orc, r) -> frozenset:
    op = r["op"]
    if r["kind"] in ("cqr", "hcqr"):
        return frozenset(orc.optree_docs(op.query))
    if r["kind"] == "region":
        return frozenset(orc.region_docs(op.poly))
    return frozenset(orc.knn_rows(op.queries))


def main(argv=None) -> int:
    args = _parse(argv)
    os.chdir(ROOT)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    try:
        import oscar_spatial_index_compare_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not here ({e})", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # pyspark's gateway hand-off file goes through tempfile
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
