"""Windowed degree counts over the events stream — the streaming analog
of the degree operator. Aggregations use watermarks so state is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_degrees(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window activity degree of each user in the events stream —
    the streaming analog of the degree operator. Watermark bounds state;
    late events beyond it are dropped (documented late-data semantics)."""
    # watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "deg",
        )
    )
