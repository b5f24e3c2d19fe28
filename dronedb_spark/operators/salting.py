"""Skew-salted equi-join — the classic remedy when one join key holds
most of the rows (the complement of the DIAGNOSTIC in
``operators/skewprof.py``: that profile's ``salt_factor`` is exactly
this operator's ``n_salt``): the fact side gets a deterministic salt in
[0, n_salt), the dimension side replicates n_salt× (a generated
explode, dim-sized), and the join key becomes (key, salt) — the hot
key's rows spread over n_salt reducers instead of one straggler task.

Correctness is an identity: salting changes the PARTITIONING, never the
result — pytest pins salted == plain join row-for-row, and the driver
check's oracle is the UNSALTED SQL join.  The salt is md5-derived from
the fact row id (no RNG — reproducible retries, the consistent-hash
discipline).

At 100 TB: AQE's skew-join split handles MEASURED skew at runtime; the
explicit salt is for the cases AQE can't fix — a skewed AGGREGATE
feeding the join, disabled AQE, or a skew so extreme one split still
stragglers — and because the salt is part of the key, bucketing the
fact table by (key, salt) keeps the layout co-partitioned."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

N_SALT = 8


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    row_id: str,
    n_salt: int = N_SALT,
    how: str = "inner",
) -> DataFrame:
    """fact ⋈ dim on ``key`` with an ``n_salt``-way salt: identical
    rows to the plain join, hot keys spread across ``n_salt`` tasks.

    ``how`` is restricted to the fact-preserving join types.  The dim
    side is replicated ``n_salt``×, so a dim row with NO fact match
    would surface ``n_salt`` duplicate rows under right/full outer —
    violating the identity this operator promises.  Fact-side outer
    types are safe: an unmatched fact row carries exactly one salt.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports fact-preserving joins only {sorted(allowed)}; "
            f"got {how!r} — right/full outer would emit n_salt duplicates of "
            "unmatched dim rows (the dim side is replicated per salt)"
        )
    salted_fact = fact.withColumn(
        "_salt",
        (
            F.conv(
                F.substring(F.md5(F.col(row_id).cast("string")), 1, 6), 16, 10
            ).cast("bigint")
            % n_salt
        ).cast("int"),
    )
    replicated_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return salted_fact.join(
        replicated_dim.hint("shuffle_hash"), [key, "_salt"], how
    ).drop("_salt")


@check(
    "salted_join_rollup",
    small=True,
    oracle="""
        WITH dim AS (
            SELECT DISTINCT user_id % 50 AS hot_key,
                   CASE WHEN user_id % 50 < 10 THEN 'gold'
                        ELSE 'standard' END AS segment
            FROM events),
        fact AS (
            SELECT event_id, event_type,
                   CASE WHEN user_id % 10 < 7 THEN 0
                        ELSE user_id % 50 END AS hot_key
            FROM events)
        SELECT d.segment, f.event_type,
               CAST(COUNT(1) AS BIGINT) AS n,
               CAST(SUM(f.event_id) AS BIGINT) AS event_id_sum
        FROM fact f JOIN dim d ON d.hot_key = f.hot_key
        GROUP BY 1, 2 ORDER BY 1, 2""",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 70%-hot-key fact joined to its dimension through the 8-way
    salt, rolled up per (segment, event_type) — the oracle joins
    UNSALTED, so any row lost or duplicated by the salting mismatches.
    event_id_sum pins exact membership."""
    ev = load(spark, sf_dir, "events")
    dim = ev.select((F.col("user_id") % 50).alias("hot_key")).distinct().select(
        "hot_key",
        F.when(F.col("hot_key") < 10, F.lit("gold"))
        .otherwise(F.lit("standard"))
        .alias("segment"),
    )
    fact = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("user_id") % 10 < 7, F.lit(0))
        .otherwise(F.col("user_id") % 50)
        .cast("bigint")
        .alias("hot_key"),
    )
    joined = salted_join(fact, dim, "hot_key", "event_id")
    return (
        joined.groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("event_id").cast("bigint").alias("event_id_sum"),
        )
        .orderBy("segment", "event_type")
    )
