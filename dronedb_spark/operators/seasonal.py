"""Seasonal profile — moving-average decomposition over the gap-free
hourly grid as EXACT INTEGERS (beyond the reference; the STL-lite
seasonality readout next to ``operators/autocorr.py``'s correlation
probe: autocorr says "there IS a daily rhythm", the profile says WHAT
it looks like, hour by hour).

Classical decomposition scaled to stay integral: with a centered
25-hour window, ``detrend_s = 25·cₜ − Σ window counts`` is 25× the
residual around the local trend — an exact BIGINT — and the per
hour-of-day seasonal component is the SUM of those residuals (exact)
with its observation count, leaving the division to the reader (the
``tfidf`` integer-quotient discipline).  Edge hours without a full
window drop (COUNT over the same frame = 25 gates them).

Scale shape: the grid is TIME-sized (hours × event types, never
event-sized); the window partitions by event_type over the grid, the
profile is one further map-side-combinable aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.operators.autocorr import BUCKET_S, hourly_series
from dronedb_spark.suite import check
from dronedb_spark.tables import load

HALF_WIN = 12  # centered 25-hour trend window


def seasonal_profile(events: DataFrame) -> DataFrame:
    """(event_type, hod, n_hours, seas_sum): the hour-of-day seasonal
    residual profile — seas_sum is Σ(25·cnt − trend window sum) over
    every full-window grid hour with that hour-of-day."""
    series = hourly_series(events)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-HALF_WIN, HALF_WIN)
    )
    full = 2 * HALF_WIN + 1
    detr = series.select(
        "event_type",
        "bucket",
        "cnt",
        F.sum("cnt").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wcnt"),
    ).filter(F.col("wcnt") == full)
    prof = detr.select(
        "event_type",
        F.expr(f"(bucket DIV {BUCKET_S}) % 24").alias("hod"),
        (F.lit(full) * F.col("cnt") - F.col("wsum")).alias("d"),
    )
    return prof.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("d").cast("bigint").alias("seas_sum"),
    )


@check(
    "seasonal_hod_profile",
    small=True,
    oracle=f"""
        WITH b AS (
            SELECT event_type,
                   (epoch_us(ts) // {BUCKET_S * 1_000_000}) * {BUCKET_S}
                       AS bucket
            FROM events),
        counts AS (
            SELECT event_type, bucket, COUNT(1) AS cnt
            FROM b GROUP BY 1, 2),
        span AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM b),
        grid AS (
            SELECT event_type, g.bucket
            FROM (SELECT DISTINCT event_type FROM b), span,
                 LATERAL (SELECT unnest(range(lo, hi + 1, {BUCKET_S}))
                          AS bucket) g),
        series AS (
            SELECT g.event_type, g.bucket, COALESCE(c.cnt, 0) AS cnt
            FROM grid g LEFT JOIN counts c
              ON c.event_type = g.event_type AND c.bucket = g.bucket),
        detr AS (
            SELECT event_type, bucket, cnt,
                   SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN {HALF_WIN} PRECEDING
                                AND {HALF_WIN} FOLLOWING) AS wsum,
                   COUNT(1) OVER (PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN {HALF_WIN} PRECEDING
                                AND {HALF_WIN} FOLLOWING) AS wcnt
            FROM series)
        SELECT event_type,
               CAST((bucket // {BUCKET_S}) % 24 AS BIGINT) AS hod,
               CAST(COUNT(1) AS BIGINT) AS n_hours,
               CAST(SUM({2 * HALF_WIN + 1} * cnt - wsum) AS BIGINT)
                   AS seas_sum
        FROM detr WHERE wcnt = {2 * HALF_WIN + 1}
        GROUP BY 1, 2 ORDER BY 1, 2""",
)
def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, hour-of-day): the exact integer seasonal
    residual mass around the centered 25-hour trend — every window
    sum, edge drop, and residual re-derived by the oracle."""
    return seasonal_profile(load(spark, sf_dir, "events")).orderBy(
        "event_type", "hod"
    )
