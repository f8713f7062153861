"""Sketch aggregates for web-scale rollups.

At 10^12 rows, exact distinct counts hold per-group state
proportional to cardinality; the sketch form holds constant state:

- ``distinct_rollup``: per-window distinct users — exact
  (count_distinct: shuffles the (window, user) pairs) alongside the
  HLL++ sketch (``approx_count_distinct``: constant ~kilobytes of
  state per group, one pass, mergeable map-side). The exact column is
  the oracle-checked contract surface; the sketch column's relative
  error is pytest-bounded against it.

Scale note: prefer the sketch columns for dashboards/monitoring at
full scale and the exact forms for bounded post-aggregation data; the
engine exposes both from one groupBy so the plan shares the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distinct_rollup(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "1 hour",
    rsd: float = 0.02,
) -> DataFrame:
    """(window_start, n_events, n_users_exact, n_users_approx)."""
    w = F.window(F.col(ts_col).cast("timestamp"), window)
    return (
        events.groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col(key_col)).alias("n_users_exact"),
            F.approx_count_distinct(key_col, rsd).alias("n_users_approx"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events",
                "n_users_exact", "n_users_approx")
    )

