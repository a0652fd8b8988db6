"""Trending top-k: rank per-window event counts into a leaderboard.

Ranking is not a streaming-native operator (no windowed row_number in
update mode), so this is a batch step over already-aggregated
``(window_start, event_type, n)`` counts, such as those
``windowed_event_counts`` produces."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def trending_topk(counts: DataFrame, k: int) -> DataFrame:
    """Rank (window_start, event_type, n) counts into a per-window
    top-k leaderboard (ties broken by event_type)."""
    w = W.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "window_start", F.col("rank").cast("int").alias("rank"),
            "event_type", "n",
        )
    )
