"""Time-window operators: bounds discovery, window enumeration,
ingest-time enrichment.

Reference lineage:
- S2 bounds discovery: two probe API calls with ``limit=1 sort=k
  ASC/DESC`` (fetch_data_energinet.py:104-135) -> one ``agg(min,max)``.
- S3 day-chunked incremental loop (:139-186) -> declarative window
  enumeration with ``sequence() + explode``; the driver-side for-loop
  becomes rows, so planning 40 years of daily windows is instant and
  distributable.
- T8 processed-date checkpoint (:149-154) -> a high-watermark filter
  pushed into the scan: ``catalog.load_table(..., ts_after=...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def discover_bounds(df: DataFrame, ts_col: str) -> DataFrame:
    """S2: (min_ts, max_ts, n) of the event-time column in one pass.
    The inverted-range guard (reference :128-133) surfaces as
    ``valid_range``."""
    return df.agg(
        F.min(ts_col).alias("min_ts"),
        F.max(ts_col).alias("max_ts"),
        F.count(F.lit(1)).alias("n"),
        (F.min(ts_col) <= F.max(ts_col)).alias("valid_range"),
    )


def enumerate_windows(df: DataFrame, ts_col: str, step: str = "1 day") -> DataFrame:
    """S3: one row per fetch window covering [min, max] of ``ts_col``.

    Output: (window_idx, window_start, window_end). Pure expression —
    no driver loop, no collect; downstream per-window work joins on
    window_idx and parallelizes across executors.
    """
    # truncate at the STEP's granularity: day-truncating the upper
    # bound under a sub-day step would leave the tail of the last day
    # uncovered by any window
    unit = step.split()[-1].rstrip("s")
    bounds = df.agg(
        F.date_trunc(unit, F.min(ts_col)).alias("lo"),
        F.date_trunc(unit, F.max(ts_col)).alias("hi"),
    )
    return bounds.select(
        F.posexplode(
            F.sequence("lo", "hi", F.expr(f"interval {step}"))
        ).alias("window_idx", "window_start")
    ).withColumn("window_end", F.col("window_start") + F.expr(f"interval {step}"))


def ingested_at(df: DataFrame, col: str = "ingested_at") -> DataFrame:
    """T9: ingest-time enrichment (reference stamps utcnow() on every
    state record, fetch_data_energinet.py:42-47)."""
    return df.withColumn(col, F.current_timestamp())
