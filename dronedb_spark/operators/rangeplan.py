"""Range-partition layout planning — balanced range boundaries from
EXACT rank arithmetic (beyond the reference; the physical-layout
planning step behind ``repartitionByRange``/sort-based writes at
100 TB, made deterministic: Spark's own range partitioner SAMPLES, so
its boundaries wobble run-to-run — a layout you persist should not).

Given a fact key, a key-atomic range partitioning into P parts assigns
every key wholly to one part; the balanced plan puts key k in part
``(rows_before_k · P) DIV total_rows``.  The output is the achieved
layout — per part: key range, row count, key count — which is exactly
the skew diagnosis: a hot key's part overflows ``total/P`` and the
planner can see precisely by how much before committing the shuffle
(the complement of ``operators/skewprof.py``'s per-key profile and
``operators/salting.py``'s remedy).

Scale shape: one aggregate to the key histogram, then the distributed
two-phase prefix sum (``text/packing.py:running_offsets``) over the
key-cardinality-sized histogram — no single-partition window, no
sampling; the total is a 1-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.packing import running_offsets

N_PARTS = 8


def range_partition_plan(
    fact: DataFrame, key: str, n_parts: int = N_PARTS
) -> DataFrame:
    """(part_no, lo_key, hi_key, n_keys, n_rows): the balanced
    key-atomic range layout for ``fact[key]`` — exact ranks, no
    sampling.  A skewed key shows up as an overflowing part."""
    hist = fact.groupBy(F.col(key).alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    offs = running_offsets(hist, "k", "cnt", "before")
    total = hist.agg(F.sum("cnt").cast("bigint").alias("_total"))
    parts = offs.join(F.broadcast(total)).select(
        "k",
        "cnt",
        F.expr(f"CAST(before * {n_parts} DIV _total AS INT)").alias("part_no"),
    )
    return parts.groupBy("part_no").agg(
        F.min("k").cast("bigint").alias("lo_key"),
        F.max("k").cast("bigint").alias("hi_key"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
    )


@check(
    "range_partition_plan",
    small=True,
    oracle=f"""
        WITH fact AS (
            SELECT CASE WHEN user_id % 10 < 7 THEN 0
                        ELSE user_id % 50 END AS k
            FROM events),
        hist AS (
            SELECT k, CAST(COUNT(1) AS BIGINT) AS cnt
            FROM fact GROUP BY k),
        offs AS (
            SELECT k, cnt,
                   CAST(COALESCE(SUM(cnt) OVER (
                       ORDER BY k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS before,
                   CAST(SUM(cnt) OVER () AS BIGINT) AS total
            FROM hist),
        parts AS (
            SELECT k, cnt,
                   CAST(CAST(before * {N_PARTS} AS BIGINT) // total AS INT)
                       AS part_no
            FROM offs)
        SELECT part_no,
               CAST(MIN(k) AS BIGINT) AS lo_key,
               CAST(MAX(k) AS BIGINT) AS hi_key,
               CAST(COUNT(1) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS n_rows
        FROM parts GROUP BY part_no ORDER BY part_no""",
)
def q_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced 8-way range layout of the 70%-hot-key fixture: the hot
    key's part must absorb its overflow visibly (n_rows ≫ total/8) while
    the tail parts balance — every boundary and count re-derived by the
    oracle's window form."""
    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 10 < 7, F.lit(0))
        .otherwise(F.col("user_id") % 50)
        .cast("bigint")
        .alias("hot_key")
    )
    return range_partition_plan(ev, "hot_key").orderBy("part_no")
