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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _size_bytes(conf_val: str, default: int) -> int:
    """Parse a Spark byte-size conf string — Spark accepts both one- and
    two-letter suffixes ('134217728b', '128m', '256mb', '1g', '1gb')."""
    s = str(conf_val).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("tb", 1 << 40), ("k", 1 << 10), ("m", 1 << 20),
                   ("g", 1 << 30), ("t", 1 << 40), ("b", 1)):
        if s.endswith(suf):
            s = s[: -len(suf)]
            mult = m
            break
    try:
        return int(float(s)) * mult
    except ValueError:
        return default


def _data_file_sizes(path: str) -> list[int]:
    """Byte sizes of the files a parquet read of ``path`` scans: Spark's
    file index skips names starting with ``_`` or ``.`` (``_SUCCESS``,
    ``.crc`` checksums), in directories too."""
    import os

    if os.path.isfile(path):
        return [os.path.getsize(path)]
    sizes = []
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        sizes += [os.path.getsize(os.path.join(dirpath, f))
                  for f in files if not f.startswith(("_", "."))]
    return sizes


def estimated_scan_partitions(spark: SparkSession, path: str) -> int | None:
    """The partition count Spark's file scan of ``path`` will plan, from
    file sizes alone — Spark's own ``FilePartition`` arithmetic, no job:

      * bytesPerCore = (Σ sizes + nFiles·openCost) / minPartitionNum;
      * maxSplitBytes = min(maxPartitionBytes, max(openCost, bytesPerCore));
      * each file splits at maxSplitBytes; splits sort by size, descending;
      * next-fit packing into bins of maxSplitBytes, each split padded by
        openCost.

    None when ``path`` holds no data file (e.g. a non-filesystem source)."""
    sizes = [sz for sz in _data_file_sizes(path) if sz > 0]
    if not sizes:
        return None
    conf = spark.conf
    max_bytes = _size_bytes(
        conf.get("spark.sql.files.maxPartitionBytes", "134217728b"), 128 << 20)
    open_cost = _size_bytes(
        conf.get("spark.sql.files.openCostInBytes", "4194304b"), 4 << 20)
    min_parts = int(
        conf.get("spark.sql.files.minPartitionNum", None)
        or conf.get("spark.sql.leafNodeDefaultParallelism", None)
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
    partitions than the cluster has cores (e.g. one parquet file with one
    row group — every derived narrow stage would run single-task), insert a
    deterministic hash repartition on ``key`` so the whole downstream
    pipeline parallelizes.  No-op whenever the scan already has enough
    splits (any real at-scale input), so the extra exchange only ever buys
    parallelism that the input could not provide.  Hash-on-key is
    deterministic under task retry (never round-robin on rand —
    SPARK-38388).

    ``input_path``: when the caller knows the file(s) behind ``df``, the
    split count is computed from file sizes (estimated_scan_partitions)
    instead of planning the scan — ``df.rdd.getNumPartitions()`` forces a
    full physical plan + RDD conversion, measured ~0.5-1 s of serial driver
    time on a cold session (r06 third pass).  Without a path the exact
    planned count is used."""
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
