"""Streaming HLL registers — the distinct-count sketch
(``text/sketch.py``) as a CONTINUOUS operator: per trigger the register
table max-merges with the incoming rows' (bucket, rho) pairs, so the
query state is bounded by 2^p register rows REGARDLESS of stream
length — the canonical bounded-state streaming distinct estimator.

Entirely BUILT-IN streaming aggregation (``groupBy(bucket).max(rho)``,
update/complete output): no Python state fold, map-side partial max,
and the merge law is exactly the ``hll_merge_daily`` oracle-proven
register max.  Pytest pins stream (availableNow microbatches) == batch
registers on the full corpus.

The driver-checked batch twin (``stream_hll_registers_twin``) is the
per-trigger TRAJECTORY an update-mode sink would show on daily
triggers: for each day, the exact-integer sketch state (s_inv, n_zero)
of the cumulative register table through that day — re-derived by the
DuckDB oracle from scratch per day prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.sketch import M

_DAY_US = 86_400_000_000

# the (bucket, rho) derivation of text/sketch.py's hll_user_registers —
# first byte of md5 addresses the register, leading-zero run of the
# next 60 bits is rho (61 when the slice is all zeros)
_BUCKET = "CAST(conv(substr(md5(k), 1, 2), 16, 10) AS BIGINT)"
_RHO = (
    "CASE WHEN CAST(conv(substr(md5(k), 3, 15), 16, 10) AS BIGINT) = 0"
    " THEN 61 ELSE 61 - length(bin(CAST(conv(substr(md5(k), 3, 15), 16, 10)"
    " AS BIGINT))) END"
)


def stream_hll_registers(events_stream: DataFrame) -> DataFrame:
    """(bucket, max_rho) register state as a streaming aggregation —
    update/complete output shows the merged sketch after every trigger.
    Pure JVM: the per-trigger work is a map-side partial max into ≤ 2^p
    state rows."""
    ev = events_stream.select(F.col("user_id").cast("string").alias("k"))
    return (
        ev.select(F.expr(_BUCKET).alias("bucket"), F.expr(_RHO).alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_register_trajectory(events: DataFrame) -> DataFrame:
    """(day, n_seen, s_inv, n_zero): the exact-integer sketch state of
    the CUMULATIVE register table after each day — the batch twin of
    the streaming registers on daily triggers.  One aggregate to the
    (day, bucket) grain, then a prefix max-merge over the (≤ days×2^p)-
    row register history — never a second pass over the events."""
    ev = events.select(
        F.col("user_id").cast("string").alias("k"),
        F.expr(f"unix_micros(ts) DIV {_DAY_US}").alias("day"),
    )
    regs_day = (
        ev.select("day", F.expr(_BUCKET).alias("bucket"), F.expr(_RHO).alias("rho"))
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )
    days = regs_day.select(F.col("day").alias("d")).distinct()
    prefix = (
        regs_day.join(F.broadcast(days), F.col("day") <= F.col("d"))
        .groupBy(F.col("d").alias("day_out"), F.col("bucket"))
        .agg(F.max("max_rho").alias("max_rho"))
    )
    agg = prefix.groupBy("day_out").agg(
        F.sum(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 61 - max_rho) AS DECIMAL(38,0))")
        ).alias("s_obs"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    return agg.select(
        F.col("day_out").cast("bigint").alias("day"),
        F.col("n_obs").cast("bigint").alias("n_seen"),
        F.expr(
            f"CAST(COALESCE(s_obs, CAST(0 AS DECIMAL(38,0)))"
            f" + CAST({M} - n_obs AS DECIMAL(38,0))"
            " * CAST(2305843009213693952 AS DECIMAL(38,0)) AS DOUBLE)"
        ).alias("s_inv"),
        (F.lit(M) - F.col("n_obs")).cast("bigint").alias("n_zero"),
    )


@check(
    "stream_hll_registers_twin",
    small=True,
    oracle=f"""
        WITH ev AS (
            SELECT CAST(user_id AS VARCHAR) AS k,
                   CAST(epoch_us(ts) // {_DAY_US} AS BIGINT) AS day
            FROM events),
        regs_day AS (
            SELECT day,
                   CAST('0x' || substr(md5(k), 1, 2) AS BIGINT) AS bucket,
                   MAX(CASE WHEN CAST('0x' || substr(md5(k), 3, 15) AS BIGINT) = 0
                            THEN 61
                            ELSE 61 - length(bin(CAST('0x' || substr(md5(k), 3, 15)
                                                     AS BIGINT))) END) AS max_rho
            FROM ev GROUP BY 1, 2),
        days AS (SELECT DISTINCT day AS d FROM regs_day),
        prefix AS (
            SELECT dd.d AS day, r.bucket, MAX(r.max_rho) AS max_rho
            FROM regs_day r JOIN days dd ON r.day <= dd.d
            GROUP BY 1, 2)
        SELECT day,
               CAST(COUNT(1) AS BIGINT) AS n_seen,
               CAST(COALESCE(SUM(CAST(1 AS BIGINT) << (61 - max_rho)), 0)
                    + ({M} - COUNT(1)) * CAST(2305843009213693952 AS HUGEINT)
                    AS DOUBLE) AS s_inv,
               CAST({M} - COUNT(1) AS BIGINT) AS n_zero
        FROM prefix GROUP BY day ORDER BY day""",
)
def q_stream_hll_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-trigger register trajectory over the events stream's
    user ids: per day, the cumulative sketch's exact-integer state —
    what an update-mode streaming sink shows after each day's trigger,
    re-derived per day prefix by the oracle."""
    return hll_register_trajectory(load(spark, sf_dir, "events")).orderBy("day")
