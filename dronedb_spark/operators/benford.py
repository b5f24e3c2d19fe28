"""Benford first-digit audit — the classic fabricated-data screen
(Benford 1938; Nigrini's forensic-accounting usage): across naturally
occurring multi-scale amounts the leading significant digit d appears
with probability log10(1 + 1/d), and a synthetic or truncated feed
shows up as a digit histogram that departs from that curve.  As a
pipeline-health operator it flags a broken upstream generator (constant
prices, re-scaled currencies, clipped sensors) from ONE cheap pass.

Digit extraction is exact on both engines: ``floor(value)`` of a
positive double is exact, casting the integral double to BIGINT is
exact, and the leading character of its decimal string is the first
significant digit — no float multiply whose rounding could differ
between engines.  Shares are exact micros (n·1e6 DIV total); only the
reference Benford expectation is a double (log10), absorbed by the
round-9 comparator.

Scale shape: one map-side-combined 9-group aggregate over the scan —
the cheapest possible full-table audit; at 100 TB it rides along any
other pass over the fact table.  Beyond the reference (no data-quality
audit surface there); siblings: ``table_stats_profile``,
``mad_outlier_rollup``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load


def benford_digit_audit(df: DataFrame, amount_col: str) -> DataFrame:
    """(digit, n_obs, share_micro, benford_micro): observed leading-digit
    counts and exact-micro shares vs the Benford expectation.

    Dirty-feed guard (the module's stated purpose): only FINITE values
    participate — in Spark ``NaN >= 1`` is true and ``CAST(NaN AS
    BIGINT)`` is 0 (an out-of-range digit-0 row), and Infinity maps to
    digit 9; DuckDB errors or differs on the same rows.  Both dialects
    filter NaN/Inf up front so the audit is identical on both engines
    no matter how broken the upstream generator is."""
    v = F.col(amount_col).cast("double")
    digits = df.filter(
        (v >= 1) & ~F.isnan(v) & (v != F.lit(float("inf")))
    ).select(
        F.substring(F.floor(v).cast("bigint").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    return counts.select(
        "digit",
        "n_obs",
        F.expr(
            "n_obs * 1000000 DIV sum(n_obs) OVER ()"
        ).cast("bigint").alias("share_micro"),
        (F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")) * 1e6)
        .alias("benford_micro"),
    )


@check(
    "benford_price_audit",
    small=True,
    oracle="""
        WITH digits AS (
            SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
            FROM orders
            WHERE o_totalprice >= 1
              AND isfinite(CAST(o_totalprice AS DOUBLE))),
        counts AS (
            SELECT digit, COUNT(*) AS n_obs FROM digits GROUP BY digit)
        SELECT digit, n_obs,
               CAST(n_obs * 1000000 // SUM(n_obs) OVER () AS BIGINT) AS share_micro,
               LOG10(1.0 + 1.0 / digit) * 1e6 AS benford_micro
        FROM counts ORDER BY digit""",
)
def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit histogram of order totals vs the Benford curve —
    the one-pass synthetic-feed screen."""
    return benford_digit_audit(
        load(spark, sf_dir, "orders"), "o_totalprice"
    ).orderBy("digit")
