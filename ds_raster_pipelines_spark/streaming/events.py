"""Event-time windows over the events table (SURVEY §2.9).

The reference is batch with incremental run modes, and so is this engine
(checkpointed incremental batch, ``streaming/incremental.py``, not
Structured Streaming state): the tumbling-window aggregate below is a
batch plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_agg_batch(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window event aggregate (batch form; exact cents)."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_cents"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            "sum_cents",
        )
    )
