"""Structured-Streaming ingest: incremental spatial-index maintenance.

The reference is batch-only (SURVEY §2.7) — this is part of the engine's
Spark-native surface: a continuously-crawled Common-Crawl-style corpus lands
as files; the stream extracts mentions, assigns cells and upserts postings.

Plan shape:
    readStream (parquet dir, schema-locked)
      → same extract_mentions / cell_col transformations (stateless)
      → foreachBatch: merge per-batch postings deltas into the catalog
        (idempotent by batch_id — exactly-once on top of checkpointed
        offsets), OR a windowed/watermarked per-cell count aggregation for
        live tiles.

Everything stateless reuses the exact batch operators, so streaming and
batch can never diverge (single-code-path invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.index_build import mention_cells
from ..operators.mentions import extract_mentions


def stream_documents(spark: SparkSession, src_dir: str, schema) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


def stream_mention_cells(spark: SparkSession, docs_stream: DataFrame,
                         grid: str, res: int) -> DataFrame:
    m = extract_mentions(spark, docs_stream)
    return mention_cells(m, grid, res)


def run_incremental_index(
    spark: SparkSession,
    src_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    grid: str = "s2",
    res: int = 10,
) -> "StreamingQuery":
    """Continuous postings maintenance: per micro-batch, aggregate the batch
    delta and append it (idempotent via batch_id column); readers compact
    deltas with a groupBy — the classic streaming-upsert-on-files pattern."""
    mc = stream_mention_cells(spark, stream_documents(spark, src_dir, schema), grid, res)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df.select("grid", "res", "doc_id", "cell_id")
            .dropDuplicates(["grid", "res", "doc_id", "cell_id"])
            .groupBy("grid", "res", "cell_id")
            .agg(
                F.array_sort(F.collect_set("doc_id")).alias("doc_ids"),
                F.count("*").cast("long").alias("n_docs"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        delta.write.mode("append").parquet(out_dir)

    return (
        mc.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_postings(spark: SparkSession, out_dir: str) -> DataFrame:
    """Reader-side compaction of streamed deltas → current cell_totals."""
    d = spark.read.parquet(out_dir)
    return (
        d.select("grid", "res", "cell_id", F.explode("doc_ids").alias("doc_id"))
        .dropDuplicates(["grid", "res", "cell_id", "doc_id"])
        .groupBy("grid", "res", "cell_id")
        .agg(
            F.array_sort(F.collect_set("doc_id")).alias("doc_ids"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )
