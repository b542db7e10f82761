"""The file-size split estimate equals the partition count Spark plans.

``ensure_scan_parallelism`` decides from file sizes alone whether a scan
needs a repartition; an estimate that over-counts partitions (many small
files, each padded by ``openCostInBytes`` and bin-packed) silently skips it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from oscar_spatial_index_compare_spark.sources.tables import (
    estimated_scan_partitions,
)


def _write(dirpath, n_files: int, rows: int) -> None:
    rng = np.random.default_rng(7)
    for i in range(n_files):
        pq.write_table(pa.table({"x": rng.random(rows)}),
                       dirpath / f"part-{i:05d}.parquet", compression="none")
    (dirpath / "_SUCCESS").write_bytes(b"")


@pytest.mark.parametrize("n_files, rows, conf", [
    (20, 1, {}),                       # many tiny files: open cost dominates
    (60, 1, {}),
    (3, 65_536, {"spark.sql.files.maxPartitionBytes": "128k",
                 "spark.sql.files.openCostInBytes": "4k"}),  # split + pack
], ids=["tiny20", "tiny60", "large3"])
def test_estimate_equals_planned_partitions(spark, tmp_path, n_files, rows, conf):
    _write(tmp_path, n_files, rows)
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        planned = spark.read.parquet(str(tmp_path)).rdd.getNumPartitions()
        assert estimated_scan_partitions(spark, str(tmp_path)) == planned
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_estimate_none_without_data_files(spark, tmp_path):
    assert estimated_scan_partitions(spark, str(tmp_path / "missing")) is None
    (tmp_path / "_SUCCESS").write_bytes(b"")
    assert estimated_scan_partitions(spark, str(tmp_path)) is None
