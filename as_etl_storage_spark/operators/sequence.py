"""Event-sequence analysis: per-key ordered computations.

Transition counting IS window-expressible (lag), so the implementation
stays JVM-side inside whole-stage codegen — one shuffle on user_id for the
window sort, then a partial-aggregated groupBy.

Scale notes: the window partitions by user_id — power-law hot users bound a
single task's sort buffer; the groupBy after it re-shuffles only the
(user, from, to) triples, which partial aggregation shrinks first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def event_transitions(events: DataFrame) -> DataFrame:
    """Per-user counts of consecutive event-type transitions, ordered by
    (ts, event_id) — the tie-break makes results deterministic and lets the
    SQL oracle (lag window) reproduce them exactly. All-JVM plan: window
    lag then partial-aggregated groupBy."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("from_type", F.lag("event_type").over(w))
        .where(F.col("from_type").isNotNull())
        .groupBy(
            "user_id", "from_type", F.col("event_type").alias("to_type")
        )
        .agg(F.count("*").alias("n"))
    )

