"""SparkSession factory for the engine.

Reference analog: the CLI bootstrap in ``apps/main.cpp:111-121`` /
``apps/mainq.cpp:601-611`` (open mmap'd stores, pick thread counts).  In Spark
all of that collapses into session configuration: AQE replaces the hand-rolled
work-stealing thread pool (``src/OscarSgIndex.cpp:81-95``), Arrow replaces the
row-at-a-time marshalling, and shuffle-partition sizing replaces the explicit
``-t`` thread flags.

Design-for-scale notes (100 TB / 1000 executors):
  * AQE on: runtime coalescing of the shuffle that builds cell postings, and
    skew-join splitting for hot cells (major cities) — the reference handles
    the same hot-cell skew with an atomic work counter; we let AQE split
    oversized partitions, and the token build salts hot cells by token
    slice (see operators/token_index.py).
  * ``spark.sql.shuffle.partitions`` defaults to the local core count here;
    on a real cluster set it ≈ 2-3x total cores via spark-submit --conf.
  * Arrow execution is mandatory (north_rule: vectorized Arrow UDFs, never
    per-row Python).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "osi-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores=None`` → ``local[*]`` locally; on a cluster the master comes from
    spark-submit and this factory only contributes conf.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        # InferFiltersFromGenerate copies the generator's INPUT expression
        # into a `size(x) > 0` filter that predicate pushdown then drives
        # below every project/exchange down to the file scan — for our
        # computed-array explodes (mention extraction) the whole gazetteer
        # match was evaluated TWICE, the pushed copy at raw-scan
        # parallelism (measured: exploded mentions 6.4s → 1.1s at sf1.0
        # once excluded; the duplicated work scales with corpus size, so
        # this is a 100 TB fix, not a local tweak).  Guide §4.4 describes
        # the same optimizer-duplication trap for filters over computed
        # columns.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # COUNT(*)/MIN/MAX over parquet answer from row-group metadata
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    b = b.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, ddl: str, columns) -> DataFrame:
    """Driver-side columns → a DataFrame with exactly the ``ddl`` types,
    planned as an Arrow-built ``LocalRelation``.

    ``columns`` align with the DDL fields: numpy arrays, pandas Series or
    Python sequences (``None`` is NULL, e.g. a NULL ``array<long>``).  The
    Arrow table is the one driver-side frame that runs no job: a list of
    row tuples is a pickled Python RDD whose first use starts Python
    workers, and an empty pandas frame takes the same path."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    table = pa.table([pa.array(c) for c in columns], names=schema.names)
    return spark.createDataFrame(table, schema)


def collect_arrow(df: DataFrame, cap: int):
    """``df`` on the driver as a pyarrow table, or None when it holds more
    than ``cap`` rows (at most ``cap + 1`` rows are collected)."""
    t = df.limit(cap + 1).toArrow()
    return None if t.num_rows > cap else t
