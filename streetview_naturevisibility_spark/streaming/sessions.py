"""Session windows over the events table.

``sessionize_batch``: gaps-and-islands in pure Spark SQL — per-user
sessions split where the inter-event gap exceeds ``gap`` (lag +
conditional cumsum + groupBy). Exact, one shuffle, SQL-expressible
(the DuckDB oracle in __spark_entry__ mirrors it token for token).

Timestamps are compared in integer MICROSECONDS (unix_micros) so the
engine and the oracle can never disagree on sub-second gaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize_batch(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Per-user session windows, batch form: a session breaks where the
    gap to the previous event exceeds ``gap_seconds`` (strictly >)."""
    from pyspark.sql import Window

    gap_us = int(gap_seconds) * 1_000_000
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    # parquet timestamps are NTZ; session tz is pinned UTC so the cast
    # (required by unix_micros) is deterministic
    ts = F.col("ts").cast("timestamp")
    e = events.select(
        "user_id", "event_id", "value", ts.alias("ts"), F.unix_micros(ts).alias("us")
    )
    is_new = (
        F.when(
            F.col("us") - F.lag("us").over(w) > F.lit(gap_us), F.lit(1)
        )
        .otherwise(F.lit(0))
    )
    sess = (
        e.withColumn("new_sess", is_new)
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return sess.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    ).drop("sess_id")
