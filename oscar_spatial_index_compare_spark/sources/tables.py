"""Table loading + the Common-Crawl-shape adapter (SURVEY S1/S2).

Reference analog: ``OsmCompleter::setAllFilesFromPrefix`` + ``energize()``
(``apps/main.cpp:111-121``) — open the store and expose typed views.  Here a
"store" is a directory of parquet tables; the schema-on-read adapter below
lifts the driver's ``documents`` table into the exact input_hint shape
``(url, warc_ts, html, text, lang)`` with *pure, deterministic,
SQL-expressible* column derivations so the DuckDB oracle can reproduce
every byte.

Per-row invariant (north_rule): ``text`` is carried through untouched, so
sha256(text) per url is trivially byte-identical across runs and parallelism
levels; tests/test_infra.py::test_extraction_determinism_across_parallelism
asserts it.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

# footer key-value entry holding the Spark schema of a Spark-written file
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def data_files(path: str) -> list[str]:
    """The files a parquet read of ``path`` scans: Spark's file index skips
    names starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc`` checksums),
    in directories too."""
    if os.path.isfile(path):
        return [path]
    out = []
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out += [os.path.join(dirpath, f) for f in sorted(files)
                if not f.startswith(("_", "."))]
    return out


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from the first
    data file's footer on the driver, so the read runs no inference job.
    A Spark-written footer carries the Spark schema itself; any other is
    converted from its Arrow schema (a zone-less timestamp is
    TIMESTAMP_NTZ, as Spark infers it)."""
    files = data_files(path)
    if not files:  # not a local path: Spark lists and infers it
        return spark.read.parquet(path)
    footer = pq.read_schema(files[0])
    meta = (footer.metadata or {}).get(_SPARK_SCHEMA_KEY)
    schema = (StructType.fromJson(json.loads(meta)) if meta is not None
              else from_arrow_schema(footer, prefer_timestamp_ntz=True))
    return spark.read.schema(schema).parquet(path)


def footer_rows(files: list[str]) -> int:
    """Σ ``num_rows`` over parquet footers: a row count without reading
    data."""
    return sum(pq.read_metadata(f).num_rows for f in files)


def read_arrow(path: str, cap: int) -> pa.Table | None:
    """The parquet table at ``path`` on the driver, or None when its
    footers count more than ``cap`` rows (then no data is read)."""
    files = data_files(path)
    if footer_rows(files) > cap:
        return None
    return pa.concat_tables(pq.read_table(f) for f in files)


def estimated_scan_partitions(spark: SparkSession, path: str) -> int | None:
    """The partition count Spark's file scan of ``path`` will plan, from
    file sizes alone — Spark's own ``FilePartition`` arithmetic, no job:

      * bytesPerCore = (Σ sizes + nFiles·openCost) / minPartitionNum;
      * maxSplitBytes = min(maxPartitionBytes, max(openCost, bytesPerCore));
      * each file splits at maxSplitBytes; splits sort by size, descending;
      * next-fit packing into bins of maxSplitBytes, each split padded by
        openCost.

    None when ``path`` holds no data file (e.g. a non-filesystem source)."""
    sizes = [sz for sz in map(os.path.getsize, data_files(path)) if sz > 0]
    if not sizes:
        return None
    conf = spark._jsparkSession.sessionState().conf()  # Spark's byte parsing
    max_bytes, open_cost = conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes()
    min_parts = int(
        spark.conf.get("spark.sql.files.minPartitionNum", None)
        or spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism)
    per_core = (sum(sizes) + len(sizes) * open_cost) // min_parts
    split = min(max_bytes, max(open_cost, per_core))
    splits = sorted((min(split, sz - off) for sz in sizes
                     for off in range(0, sz, split)), reverse=True)
    bins, fill = 0, None
    for sp in splits:
        if fill is None or fill + sp > split:
            bins, fill = bins + 1, 0
        fill += sp + open_cost
    return bins


def ensure_scan_parallelism(df: DataFrame, spark: SparkSession,
                            key: str = "doc_id",
                            input_path: str | None = None) -> DataFrame:
    """Guard against unsplittable narrow inputs: if the scan plans FEWER
    partitions than the cluster has cores (e.g. one single-row-group
    parquet file), insert a hash repartition on ``key`` (deterministic
    under task retry, SPARK-38388) so the downstream pipeline
    parallelizes; a no-op whenever the scan has enough splits.

    ``input_path``: the file(s) behind ``df``, whose sizes give the split
    count (estimated_scan_partitions) without planning the scan, which
    ``df.rdd.getNumPartitions()`` does (~0.5-1 s of driver time on a cold
    session)."""
    n = spark.sparkContext.defaultParallelism
    est = (estimated_scan_partitions(spark, input_path)
           if input_path is not None else None)
    if est is None:
        est = df.rdd.getNumPartitions()
    if est >= n:
        return df
    return df.repartition(n, F.col(key))


def documents_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's documents table lifted to the input_hint shape.

    Columns (input_hint): url:string, warc_ts:timestamp, html:binary,
    text:string, lang:string — plus doc_id kept as the join key.  All derived
    columns are deterministic functions of (doc_id, source, text) only.
    """
    d = load(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, doc_id * 17)"
        ).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


DOCUMENTS_CC_ORACLE = """
SELECT doc_id,
       'https://' || source || '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,
       TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id * 17) AS warc_ts,
       encode('<html><body>' || text || '</body></html>') AS html,
       text,
       lang
FROM documents
"""
