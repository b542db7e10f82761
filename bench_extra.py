#!/usr/bin/env python
"""r06 isolation probes (guide §1.4: noop-sink timing so the computation is
measured, not the sink; §1.5: labelled jobs).  NOT part of the frozen
driver contract — ``bench.py`` is the measured surface; this file exists so
the numbers quoted in OPTIMIZATION_r06.md are reproducible.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0),
     SPARK_GRAFT_CPUS (default 32).

Probes:
  1. mention extraction per-task cost: the gram-intersect kernel, arrays
     only (no explode).
  2. exploded mentions end-to-end — the InferFiltersFromGenerate evidence
     (re-run with SPARK_GRAFT_KEEP_INFER_RULE=1 to reproduce the r05
     double-evaluation plan: the scan's DataFilters then contain the whole
     extraction expression).
  3. kNN first-touch decomposition: fused metadata action vs the main plan.
  4. single-token postings leaf scan on the token-clustered layout.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    os.makedirs("/dev/shm/sparktmp", exist_ok=True)
    from pyspark.sql import functions as F

    from oscar_spatial_index_compare_spark.session import get_spark

    extra = {"spark.local.dir": "/dev/shm/sparktmp"}
    if os.environ.get("SPARK_GRAFT_KEEP_INFER_RULE"):
        extra["spark.sql.optimizer.excludedRules"] = ""
    spark = get_spark(app_name="osi-bench-extra", cores=CPUS,
                      shuffle_partitions=CPUS, extra_conf=extra)
    out: dict[str, float] = {}

    def t(name, fn, n=2):
        best = float("inf")
        for _ in range(n):
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    from oscar_spatial_index_compare_spark.operators.mentions import (
        doc_mentions_df, extract_mentions,
    )
    from oscar_spatial_index_compare_spark.sources.tables import (
        ensure_scan_parallelism, load,
    )

    docs = ensure_scan_parallelism(load(spark, SF_DIR, "documents"), spark)
    docs.count()  # session warm-up outside the probes

    t("extract_arrays_gram", lambda: noop(
        doc_mentions_df(docs).select("doc_id", "ments")))
    t("extract_exploded", lambda: noop(extract_mentions(spark, docs)))

    # kNN decomposition over a fresh materialized h3 context
    import tempfile

    from oscar_spatial_index_compare_spark.engine import Engine
    from oscar_spatial_index_compare_spark.operators import knn as K
    from oscar_spatial_index_compare_spark.operators.cell_stats import cell_stats

    cat = tempfile.mkdtemp(prefix="bench_extra_cat_", dir="/dev/shm/sparktmp")
    eng = Engine(spark, SF_DIR, catalog_root=cat)
    t0 = time.perf_counter()
    hctx = eng.context("h3", 6)
    out["index_build_h3_cold_session"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    cell_stats(hctx.mcells, "h3", 6)
    out["knn_metadata_action"] = round(time.perf_counter() - t0, 3)
    queries = [(1, 48.86, 2.36, 5), (2, -33.0, 151.0, 10), (3, 89.0, 10.0, 3),
               (4, 0.0, 0.0, 7), (5, 13.37, 179.0, 5)]
    t("knn_batch5_first_plan",
      lambda: K.knn_docs(spark, hctx.mcells, queries, "h3", 6).count(), n=1)
    t("knn_batch5_warm",
      lambda: K.knn_docs(spark, hctx.mcells, queries, "h3", 6).count())

    # token-clustered postings: single-token leaf scan
    ctx = eng.context("s2", 10)
    t("tp_leaf_scan_join",
      lambda: ctx.tpostings.where(F.col("token") == "join").count())

    print(json.dumps({"metric": "bench_extra", "sf": SF_DIR, "cpus": CPUS,
                      "probes": out}))
    spark.stop()


if __name__ == "__main__":
    main()
