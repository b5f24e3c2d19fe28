"""Kaplan-Meier survival estimation — user-lifetime retention, the
product-limit estimator every retention dashboard reports (Kaplan &
Meier 1958).  Beyond the reference (no analytics surface).

Subject = user; duration = whole days between the user's first and
last event; right-censoring = the user was still active in the final
``CENSOR_DAYS`` of the observation window (their true lifetime extends
past the data).  At each distinct event time t_i with d_i deaths
(uncensored lifetimes ending at t_i) and n_i at-risk subjects
(duration ≥ t_i):

    S(t_k) = Π_{i ≤ k} (1 − d_i / n_i)

Numeric discipline: d_i and n_i are exact integers (one aggregate +
one suffix-cumulative window over the DURATION-GRAIN table); the
product evaluates as exp(Σ ln((n_i−d_i)/n_i)) with the log terms
accumulated as DECIMAL(38,15) in a cumulative window — the same
ln/decimal contract as the LM family — and rounds at 6 dp.

Scale shape: one shuffle to user grain, one aggregate to duration
grain (≤ observation-window days rows — bounded by TIME, not corpus
mass), then duration-grain windows.  The global censoring horizon is a
1-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

CENSOR_DAYS = 7


def user_lifetimes(events: DataFrame) -> DataFrame:
    """(user_id, dur_days, censored): whole-day activity span per user,
    censored when the last event falls within CENSOR_DAYS of the global
    observation end."""
    spans = events.groupBy("user_id").agg(
        F.min(F.expr("unix_micros(ts)")).alias("first_us"),
        F.max(F.expr("unix_micros(ts)")).alias("last_us"),
    )
    horizon = spans.agg(F.max("last_us").alias("end_us"))
    day_us = 86400 * 1_000_000
    return spans.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.expr(f"CAST((last_us - first_us) DIV {day_us} AS BIGINT)").alias(
            "dur_days"
        ),
        (F.col("last_us") > F.col("end_us") - CENSOR_DAYS * day_us)
        .cast("int")
        .alias("censored"),
    )


def km_curve(events: DataFrame) -> DataFrame:
    """(t_day, n_risk, n_events, n_censored, survival): the product-
    limit curve at every duration day that appears in the data."""
    lt = user_lifetimes(events)
    grain = lt.groupBy("dur_days").agg(
        F.sum(F.expr("1 - censored")).cast("bigint").alias("d"),
        F.sum("censored").cast("bigint").alias("c"),
    )
    # at-risk = subjects with duration >= t: suffix cumulative sum
    w_desc = Window.orderBy(F.desc("dur_days")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = grain.withColumn(
        "n_risk", F.sum(F.col("d") + F.col("c")).over(w_desc).cast("bigint")
    )
    # survival: cumulative sum of ln((n-d)/n) over ascending t, decimal;
    # a step where every at-risk subject dies (n == d) drives S to
    # EXACTLY 0 — ln(0) is -inf and breaks the decimal cast, so that
    # step's term is NULLed and a cumulative flag zeroes the tail
    w_asc = Window.orderBy("dur_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    step = F.when(
        F.col("n_risk") > F.col("d"),
        F.log(
            (F.col("n_risk") - F.col("d")).cast("double")
            / F.col("n_risk").cast("double")
        ).cast("decimal(38,15)"),
    )
    dead = F.max(
        F.when(F.col("n_risk") == F.col("d"), 1).otherwise(0)
    ).over(w_asc)
    out = at_risk.withColumn(
        "survival",
        F.when(dead == 1, F.lit(0.0)).otherwise(
            F.exp(F.sum(step).over(w_asc).cast("double"))
        ),
    )
    return out.select(
        F.col("dur_days").alias("t_day"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.round("survival", 6).alias("survival"),
    )


_KM_ORACLE = f"""
    WITH spans AS (
        SELECT user_id,
               epoch_us(MIN(ts)) AS first_us,
               epoch_us(MAX(ts)) AS last_us
        FROM events GROUP BY user_id),
    horizon AS (SELECT MAX(last_us) AS end_us FROM spans),
    lt AS (
        SELECT user_id,
               CAST((last_us - first_us) // 86400000000 AS BIGINT) AS dur_days,
               CASE WHEN last_us > (SELECT end_us FROM horizon)
                                    - {CENSOR_DAYS} * 86400000000
                    THEN 1 ELSE 0 END AS censored
        FROM spans),
    grain AS (
        SELECT dur_days,
               CAST(SUM(1 - censored) AS BIGINT) AS d,
               CAST(SUM(censored) AS BIGINT) AS c
        FROM lt GROUP BY dur_days),
    at_risk AS (
        SELECT *,
               CAST(SUM(d + c) OVER (ORDER BY dur_days DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS n_risk
        FROM grain)
    SELECT dur_days AS t_day, n_risk, d AS n_events, c AS n_censored,
           CASE WHEN MAX(CASE WHEN n_risk = d THEN 1 ELSE 0 END)
                     OVER (ORDER BY dur_days
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) = 1
                THEN 0.0
                ELSE ROUND(exp(CAST(SUM(CASE WHEN n_risk > d THEN
                                   CAST(ln(CAST(n_risk - d AS DOUBLE)
                                           / CAST(n_risk AS DOUBLE))
                                        AS DECIMAL(38,15)) END)
                          OVER (ORDER BY dur_days
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS DOUBLE)), 6)
           END AS survival
    FROM at_risk ORDER BY t_day"""


@check("km_user_survival", small=True, oracle=_KM_ORACLE)
def q_km_user_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kaplan-Meier user-lifetime curve with 7-day right-censoring:
    at-risk counts, events, censored counts, and the product-limit
    survival at every observed duration day."""
    return km_curve(load(spark, sf_dir, "events")).orderBy("t_day")
