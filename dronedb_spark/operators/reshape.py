"""Relational reshape surface — PIVOT, UNPIVOT, and CUBE grouping
sets, the report-building operators every analytics engine exposes
(§2.6-adjacent; the reference's info/summary JSON outputs are
hand-rolled pivots of exactly this shape).

Scale notes:

* PIVOT with an EXPLICIT value list compiles to one aggregate with k
  conditional columns — one shuffle, no second pass (Spark's
  ``pivot(col)`` without values would first scan for distincts);
  pinned here by always passing the value list.
* UNPIVOT (``stack``) is a zero-shuffle projection (rows explode
  in-task).
* CUBE is ONE shuffle producing every grouping set with
  ``grouping_id`` disambiguating levels — the rollup a dashboard
  reads without issuing 2^k queries.  NULL group labels are
  sentinel'd ('*' / −1) because a cube's NULL means "all", and the
  driver comparator needs typed non-null keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_counts(
    events: DataFrame, row_key, values=EVENT_TYPES
) -> DataFrame:
    """(row_key, n_<type>...): event counts pivoted to one column per
    type — the explicit value list keeps it a single one-shuffle
    aggregate."""
    return (
        events.groupBy(row_key)
        .pivot("event_type", list(values))
        .count()
        .select(
            row_key,
            *[
                F.coalesce(F.col(v), F.lit(0)).cast("bigint").alias(f"n_{v}")
                for v in values
            ],
        )
    )


def unpivot_counts(pivoted: DataFrame, row_key: str, values=EVENT_TYPES) -> DataFrame:
    """The inverse projection: (row_key, event_type, n) rows via
    ``stack`` — zero shuffle."""
    pairs = ", ".join(f"'{v}', n_{v}" for v in values)
    return pivoted.select(
        row_key,
        F.expr(f"stack({len(values)}, {pairs}) AS (event_type, n)"),
    ).select(row_key, "event_type", F.col("n").cast("bigint").alias("n"))


def cube_counts(events: DataFrame) -> DataFrame:
    """(event_type, week, n, gid): every grouping set of
    (type, week) in one shuffle; '*' / −1 sentinel the rolled-up
    levels, gid is the grouping_id."""
    base = events.select(
        "event_type",
        F.expr("unix_micros(ts) DIV 604800000000").alias("week"),
    )
    return (
        base.cube("event_type", "week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
        .select(
            F.coalesce("event_type", F.lit("*")).alias("event_type"),
            F.coalesce("week", F.lit(-1)).cast("bigint").alias("week"),
            "n",
            "gid",
        )
    )


@check(
    "events_pivot_daily",
    oracle="""
        WITH base AS (
            SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
                   event_type
            FROM events)
        SELECT day,
               CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                    AS BIGINT) AS n_click,
               CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END)
                    AS BIGINT) AS n_error,
               CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                    AS BIGINT) AS n_purchase,
               CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END)
                    AS BIGINT) AS n_signup,
               CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                    AS BIGINT) AS n_view
        FROM base GROUP BY day ORDER BY day""",
)
def q_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts pivoted to one column per type — the
    explicit value list keeps it a single one-shuffle aggregate (the
    unpivot identity law is pytest-pinned)."""
    ev = load(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) DIV 86400000000").alias("day"), "event_type"
    )
    return pivot_counts(ev, "day").orderBy("day")


@check(
    "events_cube_counts",
    oracle="""
        WITH base AS (
            SELECT event_type,
                   CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week
            FROM events)
        SELECT COALESCE(event_type, '*') AS event_type,
               CAST(COALESCE(week, -1) AS BIGINT) AS week,
               CAST(COUNT(1) AS BIGINT) AS n,
               CAST(GROUPING(event_type) * 2 + GROUPING(week) AS BIGINT)
                   AS gid
        FROM base GROUP BY CUBE(event_type, week)
        ORDER BY 4, 1, 2""",
)
def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four grouping sets of (event_type, week) from one cube
    shuffle — per-cell, per-type, per-week, and grand total, gid
    disambiguating (a real NULL key could not)."""
    return cube_counts(load(spark, sf_dir, "events")).orderBy(
        "gid", "event_type", "week"
    )


def rollup_counts(events: DataFrame) -> DataFrame:
    """(event_type, week, n, gid): the HIERARCHICAL grouping sets of
    (type, week) — cell, per-type subtotal, grand total — in one
    shuffle; the drill-down twin of ``cube_counts`` (a rollup emits the
    prefix sets only, half the cube's output for k=2)."""
    base = events.select(
        "event_type",
        F.expr("unix_micros(ts) DIV 604800000000").alias("week"),
    )
    return (
        base.rollup("event_type", "week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
        .select(
            F.coalesce("event_type", F.lit("*")).alias("event_type"),
            F.coalesce("week", F.lit(-1)).cast("bigint").alias("week"),
            "n",
            "gid",
        )
    )


@check(
    "events_rollup_counts",
    small=True,
    oracle="""
        WITH base AS (
            SELECT event_type,
                   CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week
            FROM events)
        SELECT COALESCE(event_type, '*') AS event_type,
               CAST(COALESCE(week, -1) AS BIGINT) AS week,
               CAST(COUNT(1) AS BIGINT) AS n,
               CAST(GROUPING(event_type) * 2 + GROUPING(week) AS BIGINT)
                   AS gid
        FROM base GROUP BY ROLLUP(event_type, week)
        ORDER BY 4, 1, 2""",
)
def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hierarchy's three grouping sets — (type, week) cells,
    per-type subtotals, grand total — from one rollup shuffle, gid
    disambiguating the levels."""
    return rollup_counts(load(spark, sf_dir, "events")).orderBy(
        "gid", "event_type", "week"
    )
