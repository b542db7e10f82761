"""Event analytics over the ``events`` table (event_id, ts, user_id,
event_type, value, props): tumbling-window and session-window stats, each
with its DuckDB twin.

The reference is batch-only (SURVEY §2.7), and so is this module.
Monetary sums are exact integer cents so the oracle hash cannot drift on
floating-point accumulation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _cents():
    # exact integer cents: round() of value*100 is tie-free for 2-decimal
    # inputs (value*100 lands within double eps of an integer, never near
    # .5).  A function, not a module constant — Column construction needs
    # an active SparkContext.
    return F.round(F.col("value") * 100).cast("long")


def event_window_stats(events: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Tumbling-window per-type stats → (w_start, w_end, event_type,
    n_events, sum_cents, max_cents)."""
    w = F.window(F.col("ts"), window)
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(_cents()).cast("long").alias("sum_cents"),
            F.max(_cents()).cast("long").alias("max_cents"),
        )
        .select(
            F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"),
            "event_type", "n_events", "sum_cents", "max_cents",
        )
    )


def event_window_stats_oracle(window_sec: int = 600) -> str:
    """DuckDB twin of event_window_stats (epoch-floor tumbling windows —
    Spark's window() origin is the 1970 epoch, so the bucketing is
    identical arithmetic)."""
    return f"""
SELECT CAST(to_timestamp(FLOOR(epoch(ts) / {window_sec}) * {window_sec}) AS TIMESTAMP) AS w_start,
       CAST(to_timestamp(FLOOR(epoch(ts) / {window_sec}) * {window_sec} + {window_sec}) AS TIMESTAMP) AS w_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
FROM events
GROUP BY 1, 2, 3
"""


def event_sessions(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-based) → (user_id, s_start, s_end,
    n_events, sum_cents).  Spark semantics: an event extends the session
    iff it starts AT OR before previous_ts + gap (touching windows merge
    — pytest-pinned boundary); s_end is last_ts + gap."""
    sw = F.session_window(F.col("ts"), gap)
    return (
        events.groupBy(sw.alias("s"), "user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(_cents()).cast("long").alias("sum_cents"),
        )
        .select(
            "user_id", F.col("s.start").alias("s_start"),
            F.col("s.end").alias("s_end"), "n_events", "sum_cents",
        )
    )


def event_sessions_oracle(gap_sec: int = 1800) -> str:
    """DuckDB twin: classic gaps-and-islands — a new session starts when
    the gap to the previous event EXCEEDS gap (Spark merges
    overlapping-or-touching windows — see test_session_gap_boundary),
    session end = last event + gap."""
    return f"""
WITH marked AS (
  SELECT user_id, ts,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   <= INTERVAL {gap_sec} SECOND
              THEN 0 ELSE 1 END AS new_s
  FROM events
), sids AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       MIN(ts) AS s_start,
       MAX(ts) + INTERVAL {gap_sec} SECOND AS s_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM sids
GROUP BY user_id, sid
"""
