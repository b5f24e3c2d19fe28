"""Exponentially-weighted moving average of event rates — the smoothed
baseline every alerting/forecast rule compares against (the classic
EWMA control chart, Roberts 1959; the third member of the telemetry
trio with CUSUM level shifts and autocorrelation rhythm).  Beyond the
reference (no event analytics).

Exactness discipline: EWMA is a sequential recurrence — float
accumulation would make the result depend on evaluation order, so the
fold is INTEGER end to end: with α = 1/8,

    s₀ = c₀ · 10⁶
    sₜ = (cₜ · 10⁶ + 7 · sₜ₋₁) DIV 8

— every step exact BIGINT arithmetic over the gap-free hourly grid
(``operators/autocorr.py:hourly_series`` — quiet hours decay the
average, which is the point), so both engines produce the identical
micro-integer at every step.  The oracle replays the recurrence as a
DuckDB recursive CTE.

Scale shape: the only data-sized job is the map-side-combined hourly
count; the fold itself runs per SERIES over TIME-sized rows — one
``applyInPandas`` over a handful of groups (series count, not corpus
size; a deployment with millions of series gets one task per series,
each a linear scan of its own grid).  This is the canonical
"per-key ordered fold Spark SQL cannot express as a window" — the
same shape the streaming runtimes state-fold continuously.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.operators.autocorr import BUCKET_S, hourly_series
from dronedb_spark.suite import check
from dronedb_spark.tables import load

ALPHA_P = 1  # alpha = P/Q = 1/8
ALPHA_Q = 8
SCALE = 1_000_000


def ewma_series(
    events: DataFrame,
    p: int = ALPHA_P,
    q: int = ALPHA_Q,
    bucket_s: int = BUCKET_S,
) -> DataFrame:
    """(event_type, bucket, cnt, ewma_micro): the integer EWMA fold over
    the gap-free hourly grid."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket").reset_index(drop=True)
        s = None
        out = []
        for c in pdf["cnt"]:
            c = int(c)
            s = c * SCALE if s is None else (p * c * SCALE + (q - p) * s) // q
            out.append(s)
        pdf["ewma_micro"] = pd.Series(out, dtype="int64")
        return pdf

    return hourly_series(events, bucket_s).groupBy("event_type").applyInPandas(
        fold,
        schema="event_type string, bucket bigint, cnt bigint, ewma_micro bigint",
    )


def ewma_daily_close(events: DataFrame) -> DataFrame:
    """The day-boundary readout: the EWMA state at the last hour of
    each UTC day — what a dashboard stores per day without keeping the
    hourly grid."""
    hourly = ewma_series(events)
    return hourly.filter(
        F.expr(f"(bucket DIV {BUCKET_S}) % 24 = 23")
    )


@check(
    "ewma_daily_close",
    small=True,
    oracle=f"""
        WITH RECURSIVE b AS (
            SELECT event_type,
                   (epoch_us(ts) // {BUCKET_S * 1_000_000}) * {BUCKET_S}
                       AS bucket
            FROM events),
        counts AS (
            SELECT event_type, bucket, COUNT(1) AS cnt
            FROM b GROUP BY 1, 2),
        span AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM b),
        grid AS (
            SELECT event_type, g.bucket,
                   CAST((g.bucket - s.lo) // {BUCKET_S} AS BIGINT) AS idx
            FROM (SELECT DISTINCT event_type FROM b), span s,
                 LATERAL (SELECT unnest(range(lo, hi + 1, {BUCKET_S}))
                          AS bucket) g),
        series AS (
            SELECT g.event_type, g.bucket, g.idx,
                   CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
            FROM grid g LEFT JOIN counts c
              ON c.event_type = g.event_type AND c.bucket = g.bucket),
        rec AS (
            SELECT event_type, bucket, idx, cnt,
                   CAST(cnt * {SCALE} AS BIGINT) AS s
            FROM series WHERE idx = 0
            UNION ALL
            SELECT n.event_type, n.bucket, n.idx, n.cnt,
                   CAST(({ALPHA_P} * n.cnt * {SCALE}
                         + {ALPHA_Q - ALPHA_P} * r.s) // {ALPHA_Q}
                        AS BIGINT)
            FROM rec r JOIN series n
              ON n.event_type = r.event_type AND n.idx = r.idx + 1)
        SELECT event_type, bucket, cnt, s AS ewma_micro
        FROM rec
        WHERE (bucket // {BUCKET_S}) % 24 = 23
        ORDER BY event_type, bucket""",
)
def q_ewma_daily_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, the α=1/8 hourly EWMA state at each UTC day
    close — 150 integer-exact rows re-derived by the oracle's recursive
    replay of the same fold."""
    return ewma_daily_close(load(spark, sf_dir, "events")).orderBy(
        "event_type", "bucket"
    )
