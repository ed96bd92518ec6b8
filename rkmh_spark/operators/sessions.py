"""Sessionization — gap-based event sessions (training-pipeline operator).

Not in the reference (rkmh has no event-time concept); part of the
large-scale-pipeline surface the task brief asks for alongside dedup.
Standard two-window spelling, all JVM expressions:

  1. lag(ts) per user → break flag when the gap exceeds the threshold
     (or first event);
  2. running sum of break flags → session index;
  3. groupBy (user, session) → span + event stats.

Scale notes: both windows partition by user_id — ONE shuffle on the user
key serves lag, the running sum, and (via partial agg) the final groupBy.
Skewed power-users are bounded by their own event counts (windows are
per-user sequential by nature); a pathological single-user firehose would
be sessionized by a range-repartition + per-chunk merge, not needed here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sessionize(
    events: DataFrame,
    gap_seconds: int = 43_200,
) -> DataFrame:
    """→ events + (session_idx) — session index per ``user_id``, 1-based,
    in (``ts``, ``event_id``) order."""
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev = F.lag("ts").over(w)
    brk = F.when(
        prev.isNull()
        | (
            F.unix_timestamp(F.col("ts")) - F.unix_timestamp(prev)
            > gap_seconds
        ),
        1,
    ).otherwise(0)
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    return events.withColumn("__brk", brk).withColumn(
        "session_idx", F.sum("__brk").over(running)
    ).drop("__brk")


def session_stats(
    events: DataFrame, gap_seconds: int = 43_200
) -> DataFrame:
    """→ (user_id, session_idx, n_events, session_start, session_end,
    duration_s) — one row per session."""
    s = sessionize(events, gap_seconds)
    # spans as truncated unix seconds: timestamp→string formatting differs
    # across engines on fractional seconds; integer epochs hash stably
    return s.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_timestamp("ts")).alias("session_start_s"),
        F.max(F.unix_timestamp("ts")).alias("session_end_s"),
        (
            F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts"))
        ).alias("duration_s"),
    )
