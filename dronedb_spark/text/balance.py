"""Corpus balance audit — the Gini coefficient of per-source character
mass, the one-number answer to "how skewed is my training mixture?"
that mixture planners (``text/mixture.py``) and dedup reports read
before re-weighting.  Gini 0 = every source contributes equally;
towards 1 = one source dominates the token budget.

EXACT-INTEGER: with sources sorted by mass ascending, the standard
rank formula G = (2·Σ i·x_i − (n+1)·Σ x) / (n·Σ x) is two integer
sums — the result ships as the rational (gini_num, gini_den), never a
float, so the engines agree bit-for-bit and downstream thresholds
("rebalance when G > 0.4" ⇔ 10·num > 4·den) stay exact.  Ties in mass
break by source name, making the rank assignment deterministic.

Scale shape: one map-side-combined aggregate collapses 100 TB of
documents to the source grain (dozens of rows); the rank window runs
over that collapsed table only — the WindowExec single-partition
warning is bounded by the source domain, not the corpus (same
discipline as ``stratified_length_sample``'s length histogram).

Beyond the reference (no corpus-curation surface there); siblings:
``top_domains_other`` (text/domains.py), ``mixture_quota_sample``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load


def source_mass(docs: DataFrame) -> DataFrame:
    """(source, mass, n_docs): character mass per source — the
    corpus-to-domain collapse every balance statistic starts from."""
    return docs.groupBy("source").agg(
        F.sum("n_chars").alias("mass"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def gini_source_balance(docs: DataFrame) -> DataFrame:
    """One row (n_sources, total_mass, gini_num, gini_den,
    max_share_micro): the exact-rational Gini of source mass plus the
    dominant source's exact-micro share."""
    mass = source_mass(docs)
    w = Window.orderBy("mass", "source")
    ranked = mass.select(
        F.col("mass").cast("bigint").alias("mass"),
        F.row_number().over(w).cast("bigint").alias("i"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("mass").alias("total_mass"),
        (
            F.lit(2) * F.sum(F.col("i") * F.col("mass"))
            - (F.count(F.lit(1)) + F.lit(1)) * F.sum("mass")
        ).cast("bigint").alias("gini_num"),
        (F.count(F.lit(1)) * F.sum("mass")).cast("bigint").alias("gini_den"),
        F.expr("max(mass) * 1000000 DIV sum(mass)")
        .cast("bigint")
        .alias("max_share_micro"),
    )


@check(
    "gini_source_balance",
    small=True,
    oracle="""
        WITH mass AS (
            SELECT source, CAST(SUM(n_chars) AS BIGINT) AS mass
            FROM documents GROUP BY source),
        ranked AS (
            SELECT mass,
                   CAST(ROW_NUMBER() OVER (ORDER BY mass, source) AS BIGINT) AS i
            FROM mass)
        SELECT COUNT(*) AS n_sources,
               CAST(SUM(mass) AS BIGINT) AS total_mass,
               CAST(2 * SUM(i * mass) - (COUNT(*) + 1) * SUM(mass) AS BIGINT) AS gini_num,
               CAST(COUNT(*) * SUM(mass) AS BIGINT) AS gini_den,
               CAST(MAX(mass) * 1000000 // SUM(mass) AS BIGINT) AS max_share_micro
        FROM ranked""",
)
def q_gini_source_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-mixture skew readout: exact-rational Gini over source
    character mass plus the dominant source's share."""
    return gini_source_balance(load(spark, sf_dir, "documents"))
