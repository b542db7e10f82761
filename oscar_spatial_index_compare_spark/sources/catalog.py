"""Table catalog with snapshot lineage + resumable checkpoints (SURVEY S3,
M8; north_rule: "resumable from checkpoint with per-partition lineage +
metrics logged per snapshot"), and the one scheduler that builds it.

Reference analog: ``osi-compare-create`` serializes the index to
``outdir/index`` + ``outdir/search`` and re-opens them read-only
(``apps/mainc.cpp:84-125``, ``src/static-htm-index.cpp:202-207``).  Here a
"serialized index" is a parquet table directory plus a JSON snapshot log:

  snapshots.json: [{snapshot_id, table, stage, fingerprint, inputs
                    (lineage), params, n_rows, n_files, bytes,
                    start, end (epoch s), wall_sec (= end - start)}]

A build is a list of ``TableSpec`` nodes run by ``Catalog.build``.  Resume
semantics: a table whose (stage, lineage, params) fingerprint already has
a snapshot is read back and its ``build`` is never called, so a pipeline
re-run after a crash skips every completed table (checkpoint gating) and a
query-side open constructs no build plan at all.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
from collections import Counter
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.token_index import sorted_list_agg
from .tables import data_files, footer_rows, read_parquet

# value node a ``cluster_by`` spec must list among its deps: the partition
# count of its clustered write
WRITE_PARTS = "write_parts"


@dataclass(frozen=True)
class TableSpec:
    """One node of a build DAG.  ``build`` gets ``{dep: value}`` for its
    ``deps`` and returns the frame to store.  ``stage=None`` marks a value
    node (a count, a vocabulary): computed only when a spec that needs it
    is built, never stored.  ``inputs`` is the fingerprint lineage
    (default: the table deps); ``cluster_by`` hash-clusters the write on one
    column into ``WRITE_PARTS`` partitions, ``sort_within`` sorts each."""

    name: str
    stage: str | None
    deps: tuple[str, ...]
    build: Callable[[dict], Any]
    cluster_by: str | None = None
    sort_within: tuple[str, ...] = ()
    inputs: tuple[str, ...] | None = None
    params: dict | None = None


def _plan(specs: list[TableSpec], targets: list[str],
          stored: Callable[[TableSpec], bool]) -> tuple[dict, list[str]]:
    """→ (specs to build in dependency order, stored tables to read back).
    Only what a target needs is visited; a stored table's deps are not."""
    by = {s.name: s for s in specs}
    order: dict[str, TableSpec] = {}
    reads: list[str] = []

    def visit(name: str) -> None:
        if name in order or name in reads:
            return
        s = by[name]
        if s.stage is not None and stored(s):
            reads.append(name)
            return
        for d in s.deps:
            visit(d)
        order[name] = s

    for t in targets:
        visit(t)
    return order, reads


def build_cached(specs: list[TableSpec], targets: list[str]) -> dict:
    """The in-memory walk of a spec list: dependency order on the calling
    thread, every table ``.cache()``d instead of written."""
    order, _ = _plan(specs, targets, lambda s: False)
    vals: dict = {}
    for s in order.values():
        out = s.build({d: vals[d] for d in s.deps})
        vals[s.name] = out if s.stage is None else out.cache()
    return {t: vals[t] for t in targets}


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.log_path = os.path.join(root, "snapshots.json")
        # build() writes tables from its pool threads; the log append is
        # read-modify-write
        self._log_lock = threading.Lock()

    # -- snapshot log --------------------------------------------------------
    def _log(self) -> list[dict]:
        if os.path.exists(self.log_path):
            with open(self.log_path) as f:
                return json.load(f)
        return []

    def _append(self, entry: dict) -> None:
        with self._log_lock:
            log = self._log()
            log.append(entry)
            tmp = self.log_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(log, f, indent=1)
            os.replace(tmp, self.log_path)

    def snapshots(self, table: str | None = None) -> list[dict]:
        return [s for s in self._log() if table is None or s["table"] == table]

    @staticmethod
    def fingerprint(stage: str, inputs: list[str], params: dict | None = None) -> str:
        payload = json.dumps({"stage": stage, "inputs": sorted(inputs),
                              "params": params or {}}, sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def has(self, table: str, fp: str) -> bool:
        return any(s["table"] == table and s["fingerprint"] == fp for s in self._log())

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def read(self, table: str) -> DataFrame:
        return read_parquet(self.spark, self.path(table))

    # -- build (checkpoint-gated DAG) ----------------------------------------
    def _lineage(self, s: TableSpec, by: dict) -> tuple[list[str], str]:
        inputs = list(s.inputs if s.inputs is not None else
                      [d for d in s.deps if by[d].stage is not None])
        return inputs, self.fingerprint(s.stage, inputs, s.params)

    def build(self, specs: list[TableSpec], targets: list[str]) -> dict:
        """Return ``{target: stored frame}``, building on demand whatever a
        target lacks.  Every spec whose deps are ready runs at once on one
        pool as wide as the widest layer of the DAG, under one
        ``sorted_list_agg`` scope; on any failure pending specs are
        cancelled, running ones finish, and the error re-raises."""
        by = {s.name: s for s in specs}
        order, reads = _plan(specs, targets,
                             lambda s: self.has(s.name, self._lineage(s, by)[1]))
        vals: dict = {t: self.read(t) for t in reads}
        if order:
            depth: dict[str, int] = {}
            for s in order.values():
                depth[s.name] = 1 + max(
                    (depth[d] for d in s.deps if d in depth), default=-1)
            pool = ThreadPoolExecutor(max(Counter(depth.values()).values()))
            running: dict = {}
            with sorted_list_agg(self.spark):
                try:
                    while order or running:
                        for s in [s for s in order.values()
                                  if all(d in vals for d in s.deps)]:
                            del order[s.name]
                            deps = {d: vals[d] for d in s.deps}
                            running[pool.submit(self._run, s, deps, by)] = s.name
                        done, _ = wait(running, return_when=FIRST_COMPLETED)
                        for f in done:
                            vals[running.pop(f)] = f.result()
                finally:
                    pool.shutdown(cancel_futures=True)
        return {t: vals[t] for t in targets}

    def _run(self, s: TableSpec, deps: dict, by: dict):
        if s.stage is None:
            return s.build(deps)
        inputs, fp = self._lineage(s, by)
        start = time.time()
        out = s.build(deps)
        if s.cluster_by:
            out = out.repartition(deps[WRITE_PARTS], s.cluster_by)
        if s.sort_within:
            out = out.sortWithinPartitions(*s.sort_within)
        out.write.mode("overwrite").parquet(self.path(s.name))
        end = time.time()
        files = data_files(self.path(s.name))  # row counts from the footers
        self._append({
            "snapshot_id": f"{s.name}-{len(self.snapshots(s.name))}-{fp}",
            "table": s.name,
            "stage": s.stage,
            "fingerprint": fp,
            "inputs": inputs,
            "params": s.params or {},
            "n_rows": footer_rows(files),
            "n_files": len(files),
            "bytes": sum(map(os.path.getsize, files)),
            "start": round(start, 3),
            "end": round(end, 3),
            "wall_sec": round(end - start, 3),
        })
        return self.read(s.name)
