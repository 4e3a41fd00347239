"""Streaming Window Join (Flink's WINDOW JOIN over two window TVFs).

``Engine.sql_stream`` has no lowering for a statement joining two window
TVFs, so this module composes the continuous form directly: two
windowed aggregates over one stream, joined on identical event-time
window structs, append mode on window close. Window Top-N and Window
Deduplication statements stream through ``Engine.sql_stream``
(``Engine._rank_stream``, one rank aggregate for every ROW_NUMBER
filter statement).

100 TB design: each side's aggregate is its only data-sized shuffle
(map-side partial aggregation applies); the join moves one scalar row
per (window, side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def window_join_stream(
    sdf: DataFrame,
    ts_col: str = "ts",
    size: str = "1 hour",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Continuous Window Join (Flink's WINDOW JOIN TVF): two windowed
    aggregates over the same stream joined on IDENTICAL window
    boundaries — hourly click counts x hourly purchase counts/value,
    matching the batch ``window_join`` registry query. Spark 3.4+'s
    multiple-stateful-operator support lets the stream-stream join key
    on the event-time window structs directly, so both aggregates AND
    the join close on the same watermark, append mode. 100 TB: each
    side's aggregate is its only data-sized shuffle; the join moves one
    scalar row per (window, side)."""
    wm = sdf.withWatermark(ts_col, watermark_delay)
    clicks = (
        wm.filter(F.col("event_type") == "click")
        .groupBy(F.window(ts_col, size).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = (
        wm.filter(F.col("event_type") == "purchase")
        .groupBy(F.window(ts_col, size).alias("w2"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("value").alias("purchase_value"),
        )
    )
    return clicks.join(purchases, clicks["w"] == purchases["w2"], "inner").select(
        F.col("w.start").cast("long").alias("window_start"),
        "n_clicks",
        "n_purchases",
        "purchase_value",
    )
