"""Weighted sampling without replacement — priority sampling (Duffield,
Lund & Thorup, JACM 2007): each item draws priority q = u / w from a
uniform u and its weight w, and the k SMALLEST priorities form a sample
whose inclusion probability is proportional to weight (the classic
weighted-reservoir answer to "audit 100 documents, long docs
proportionally more often").

Made ENGINE-REPRODUCIBLE the ``text/reservoir.py`` way, with the float
ratio replaced by an exact integer: u is the first 15 md5 hex digits of
the seeded key (a 60-bit uniform integer) and the priority is
``u DIV w`` — integer division both engines compute identically, so the
same (seed, k) names the same documents on Spark, DuckDB, or any other
engine, under any partitioning.  Ties (same quotient) break by doc_id.

Scale shape: ORDER BY (priority, doc_id) LIMIT k plans as
TakeOrderedAndProject — per-partition k-row heaps, one k-row merge; no
global sort, no shuffle of the corpus (plan-pinned in
tests/test_plans_r11b.py).  The weight column is any positive integer
(here n_chars — character mass, the train-token proxy).

Beyond the reference (no sampling surface there); the unweighted
sibling is ``reservoir_sample`` (text/reservoir.py:28).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

SAMPLE_K = 100
SEED = "wsample-v1"


def weighted_priority_sample(
    docs: DataFrame,
    weight_col: str = "n_chars",
    k: int = SAMPLE_K,
    seed: str = SEED,
) -> DataFrame:
    """(rank, doc_id, source, weight, priority): the k smallest-priority
    documents under priority = u60 DIV weight — inclusion odds scale
    with weight, selection is deterministic in (seed, k)."""
    pri = docs.select(
        "doc_id",
        "source",
        F.col(weight_col).cast("bigint").alias("weight"),
        F.expr(
            f"CAST(conv(substr(md5('{seed}:' || CAST(doc_id AS STRING)), 1, 15),"
            f" 16, 10) AS BIGINT) DIV {weight_col}"
        ).alias("priority"),
    ).filter(F.col("weight") > 0)
    top = pri.orderBy("priority", "doc_id").limit(k)
    return top.select(
        F.expr(
            "CAST(row_number() OVER (ORDER BY priority, doc_id) AS BIGINT)"
        ).alias("rank"),
        "doc_id",
        "source",
        "weight",
        "priority",
    )


@check(
    "weighted_priority_sample",
    small=True,
    oracle=f"""
        WITH pri AS (
            SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
                   CAST('0x' || substr(md5('{SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) // n_chars AS priority
            FROM documents WHERE n_chars > 0),
        top AS (
            SELECT * FROM pri ORDER BY priority, doc_id LIMIT {SAMPLE_K})
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS BIGINT) AS rank,
               doc_id, source, weight, priority
        FROM top ORDER BY rank""",
)
def q_weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-document weight-proportional audit sample: same (seed, k)
    → the same rows and the same order on both engines, exact-integer
    priorities end to end."""
    return weighted_priority_sample(load(spark, sf_dir, "documents")).orderBy(
        "rank"
    )
