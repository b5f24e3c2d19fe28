"""Mergeable moment statistics — the parallel mean/variance merge law
(beyond the reference; Chan et al.'s pairwise-update algorithm reduced
to its MERGEABLE SUFFICIENT-STATISTIC form): per shard keep
(n, Σv, Σv²) as exact integers, merge by element-wise addition, and
every moment derives from the merged triple — the discipline that lets
a 100 TB stats profile aggregate map-side and roll up daily without
ever re-reading history (the ``hll_merge_daily`` law for moments).

The fixture value is the integer micro-of-second of each event's
timestamp (deterministic, exact on both engines — never a float sum,
whose result is addend-order-dependent).  ``var_num = n·Σv² − (Σv)²``
is the exact integer variance numerator (denominator n²); at sf0.1 it
fits BIGINT with ~10³ headroom — a 100 TB deployment lifts the triple
to DECIMAL(38,0), same law.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

_DAY_US = 86_400_000_000


def daily_moment_stats(events: DataFrame) -> DataFrame:
    """(day, n, s1, s2, var_num) per day over the integer micro-of-
    second value — the shard-level sufficient statistics."""
    ev = events.select(
        F.expr(f"unix_micros(ts) DIV {_DAY_US}").alias("day"),
        F.expr("unix_micros(ts) % 1000").alias("v"),
    )
    per = ev.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s1"),
        F.sum(F.expr("v * v")).cast("bigint").alias("s2"),
    )
    return per.select(
        "day", "n", "s1", "s2",
        F.expr("n * s2 - s1 * s1").cast("bigint").alias("var_num"),
    )


def moments_merge_daily(events: DataFrame) -> DataFrame:
    """The daily triples PLUS the merged row (day = -1), whose
    ``equals_full`` flag pins the merge law: summed daily sufficient
    statistics must reproduce the whole-corpus moments exactly."""
    daily = daily_moment_stats(events)
    merged = daily.agg(
        F.lit(-1).cast("bigint").alias("day"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s1").cast("bigint").alias("s1"),
        F.sum("s2").cast("bigint").alias("s2"),
    ).select(
        "day", "n", "s1", "s2",
        F.expr("n * s2 - s1 * s1").cast("bigint").alias("var_num"),
    )
    ev = events.select(F.expr("unix_micros(ts) % 1000").alias("v"))
    full = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("fn"),
        F.sum("v").cast("bigint").alias("fs1"),
        F.sum(F.expr("v * v")).cast("bigint").alias("fs2"),
    )
    flagged = merged.join(F.broadcast(full)).select(
        "day", "n", "s1", "s2", "var_num",
        F.when(
            (F.col("n") == F.col("fn"))
            & (F.col("s1") == F.col("fs1"))
            & (F.col("s2") == F.col("fs2")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("equals_full"),
    )
    return daily.withColumn("equals_full", F.lit(1).cast("bigint")).unionByName(
        flagged
    )


@check(
    "moments_merge_daily",
    small=True,
    oracle=f"""
        WITH ev AS (
            SELECT CAST(epoch_us(ts) // {_DAY_US} AS BIGINT) AS day,
                   CAST(epoch_us(ts) % 1000 AS BIGINT) AS v
            FROM events),
        daily AS (
            SELECT day,
                   CAST(COUNT(1) AS BIGINT) AS n,
                   CAST(SUM(v) AS BIGINT) AS s1,
                   CAST(SUM(v * v) AS BIGINT) AS s2
            FROM ev GROUP BY day),
        merged AS (
            SELECT CAST(-1 AS BIGINT) AS day,
                   CAST(SUM(n) AS BIGINT) AS n,
                   CAST(SUM(s1) AS BIGINT) AS s1,
                   CAST(SUM(s2) AS BIGINT) AS s2
            FROM daily),
        full_stats AS (
            SELECT CAST(COUNT(1) AS BIGINT) AS fn,
                   CAST(SUM(v) AS BIGINT) AS fs1,
                   CAST(SUM(v * v) AS BIGINT) AS fs2
            FROM ev)
        SELECT day, n, s1, s2,
               CAST(n * s2 - s1 * s1 AS BIGINT) AS var_num,
               CAST(1 AS BIGINT) AS equals_full
        FROM daily
        UNION ALL
        SELECT m.day, m.n, m.s1, m.s2,
               CAST(m.n * m.s2 - m.s1 * m.s1 AS BIGINT) AS var_num,
               CAST(CASE WHEN m.n = f.fn AND m.s1 = f.fs1 AND m.s2 = f.fs2
                         THEN 1 ELSE 0 END AS BIGINT) AS equals_full
        FROM merged m CROSS JOIN full_stats f
        ORDER BY day""",
)
def q_moments_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily (n, Σv, Σv²) triples over the integer micro-of-second
    value, plus their merge (day −1) proven equal to the whole-corpus
    statistics — the mergeable-moments law a distributed stats profile
    relies on."""
    return moments_merge_daily(load(spark, sf_dir, "events")).orderBy("day")
