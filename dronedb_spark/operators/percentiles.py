"""Exact latency-style percentiles — per-series P50/P95/P99 of the
event value as TYPE-1 order statistics (the SLO readout every
telemetry dashboard shows; the events-table sibling of
``text/lengths.py``'s document-length quantiles).

Exactness discipline: values micro-discretize with an explicit
``floor(v·10⁶ + 0.5)`` (written identically in both engines — never a
bare ROUND on a double), the rank is the exact integer
``⌈p·n/100⌉ = (p·n + 99) DIV 100``, and the selected value is an
ORDER STATISTIC (ties by event_id) — no interpolation, so every
reported number is a value that actually occurred.

Scale shape: ONE hash exchange on the series feeds the count and rank
windows (shared sort); the percentile spine is a broadcast constant,
so k percentiles cost k filters over the same ranked pass, not k
scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

PCTS = (50, 95, 99)


def value_percentiles(events: DataFrame, pcts=PCTS) -> DataFrame:
    """(event_type, pct, n, value_micro): the exact type-1 percentile
    of the micro-discretized value per series."""
    v = events.select(
        "event_type",
        F.expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").alias("vm"),
        "event_id",
    )
    w = Window.partitionBy("event_type")
    ranked = v.select(
        "event_type",
        "vm",
        F.row_number().over(w.orderBy("vm", "event_id")).alias("rk"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    spine = F.broadcast(
        v.sparkSession.createDataFrame([(int(p),) for p in pcts], "pct int")
    )
    return (
        ranked.join(spine)
        .filter(F.col("rk") == F.expr("(pct * n + 99) DIV 100"))
        .select(
            "event_type",
            F.col("pct").cast("bigint").alias("pct"),
            F.col("n").cast("bigint").alias("n"),
            F.col("vm").alias("value_micro"),
        )
    )


@check(
    "value_percentiles",
    small=True,
    oracle=f"""
        WITH v AS (
            SELECT event_type,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm,
                   event_id
            FROM events),
        ranked AS (
            SELECT event_type, vm,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY vm, event_id) AS rk,
                   COUNT(1) OVER (PARTITION BY event_type) AS n
            FROM v),
        spine(pct) AS (VALUES {", ".join(f"({p})" for p in PCTS)})
        SELECT r.event_type,
               CAST(s.pct AS BIGINT) AS pct,
               CAST(r.n AS BIGINT) AS n,
               r.vm AS value_micro
        FROM ranked r CROSS JOIN spine s
        WHERE r.rk = CAST((s.pct * r.n + 99) // 100 AS BIGINT)
        ORDER BY r.event_type, s.pct""",
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P50/P95/P99 of the event value per type — exact order statistics
    over the shared ranked pass, 15 rows all value-checked."""
    return value_percentiles(load(spark, sf_dir, "events")).orderBy(
        "event_type", "pct"
    )
