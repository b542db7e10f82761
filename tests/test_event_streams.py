"""Event analytics (streaming/events.py): session-window boundary
semantics and event coverage.  The DuckDB oracles for both operators run
in the test_correctness mirror (extra_queries)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from oscar_spatial_index_compare_spark.streaming.events import event_sessions


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def test_session_gap_boundary(spark):
    """Spark merges OVERLAPPING-OR-TOUCHING session windows: an event
    exactly gap after the previous one still extends the session; one
    second past the gap starts a new one.  The DuckDB oracle mirrors this
    with new-session iff delta > gap — this test pins the boundary both
    implementations must share."""
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:30:00"),  # exactly gap later → SAME session
        (1, "2024-01-01 01:00:01"),  # 30:01 after #2 → NEW session
        (2, "2024-01-01 00:00:00"),
    ]
    ev = spark.createDataFrame(
        [(i, u, t, "x", 1.0) for i, (u, t) in enumerate(rows)],
        "event_id long, user_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = sorted(
        (r.user_id, str(r.s_start), r.n_events)
        for r in event_sessions(ev, "30 minutes").collect()
    )
    assert got == [
        (1, "2024-01-01 00:00:00", 2),
        (1, "2024-01-01 01:00:01", 1),
        (2, "2024-01-01 00:00:00", 1),
    ]


def test_sessions_cover_all_events(events):
    s = event_sessions(events)
    agg = s.agg(F.sum("n_events").alias("n"), F.sum("sum_cents").alias("c")).first()
    base = events.agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"),
    ).first()
    assert (agg.n, agg.c) == (base.n, base.c)
