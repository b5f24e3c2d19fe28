"""k-anonymity audit — quasi-identifier group-size risk (beyond the
reference; the privacy gate a training-data release runs next to PII
redaction: a record whose quasi-identifier combination is shared by
fewer than k records is re-identifiable even with direct identifiers
stripped — Sweeney's k-anonymity, measured, not enforced).

Quasi-identifiers here are the release-visible document attributes
(source, lang, character-length bucket); the audit reports, per
source, how many of its QI equivalence classes are smaller than k and
how many documents sit in them — the rows a release would have to
generalize (coarsen the length bucket) or suppress.

Scale shape: one aggregate to the QI-class grain, one to the source
rollup — both map-side combinable; no joins, no windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

K_ANON = 5
LEN_BUCKET = 100


def kanonymity_audit(
    docs: DataFrame, k: int = K_ANON, len_bucket: int = LEN_BUCKET
) -> DataFrame:
    """(source, n_docs, n_classes, n_risky_classes, n_risky_docs,
    min_class_size): the per-source k-anonymity readout over the
    (source, lang, length-bucket) quasi-identifier."""
    classes = docs.select(
        "source",
        "lang",
        F.expr(f"n_chars DIV {len_bucket}").alias("lb"),
    ).groupBy("source", "lang", "lb").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return classes.groupBy("source").agg(
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum(F.when(F.col("sz") < k, 1).otherwise(0))
        .cast("bigint")
        .alias("n_risky_classes"),
        F.sum(F.when(F.col("sz") < k, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("n_risky_docs"),
        F.min("sz").cast("bigint").alias("min_class_size"),
    )


@check(
    "kanonymity_audit",
    small=True,
    oracle=f"""
        WITH classes AS (
            SELECT source, lang,
                   CAST(n_chars // {LEN_BUCKET} AS BIGINT) AS lb,
                   CAST(COUNT(1) AS BIGINT) AS sz
            FROM documents GROUP BY 1, 2, 3)
        SELECT source,
               CAST(SUM(sz) AS BIGINT) AS n_docs,
               CAST(COUNT(1) AS BIGINT) AS n_classes,
               CAST(SUM(CASE WHEN sz < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_risky_classes,
               CAST(SUM(CASE WHEN sz < {K_ANON} THEN sz ELSE 0 END) AS BIGINT)
                   AS n_risky_docs,
               CAST(MIN(sz) AS BIGINT) AS min_class_size
        FROM classes GROUP BY source ORDER BY source""",
)
def q_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source k=5 anonymity audit over the (source, lang,
    100-char-bucket) quasi-identifier — risky class and document counts
    re-derived by the oracle."""
    return kanonymity_audit(load(spark, sf_dir, "documents")).orderBy("source")


# ---------------------------------------------------------- l-diversity --

L_DIVERSE = 2


def ldiversity_audit(
    docs: DataFrame, l_min: int = L_DIVERSE, len_bucket: int = LEN_BUCKET
) -> DataFrame:
    """(source, n_classes, n_undiverse_classes, n_undiverse_docs,
    min_diversity): the l-diversity companion to the k-anonymity audit
    (Machanavajjhala et al. 2007) — a QI class where every record shares
    ONE sensitive value leaks that value even when the class is k-large.
    QI here is (source, length-bucket); the sensitive attribute is the
    language.  Same shape as k-anonymity: two map-side-combinable
    aggregates, no joins."""
    classes = (
        docs.select(
            "source",
            F.expr(f"n_chars DIV {len_bucket}").alias("lb"),
            "lang",
        )
        .groupBy("source", "lb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("sz"),
            F.count_distinct("lang").cast("bigint").alias("ndiv"),
        )
    )
    return classes.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum(F.when(F.col("ndiv") < l_min, 1).otherwise(0))
        .cast("bigint")
        .alias("n_undiverse_classes"),
        F.sum(F.when(F.col("ndiv") < l_min, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("n_undiverse_docs"),
        F.min("ndiv").cast("bigint").alias("min_diversity"),
    )


@check(
    "ldiversity_audit",
    small=True,
    oracle=f"""
        WITH classes AS (
            SELECT source,
                   CAST(n_chars // {LEN_BUCKET} AS BIGINT) AS lb,
                   CAST(COUNT(1) AS BIGINT) AS sz,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS ndiv
            FROM documents GROUP BY 1, 2)
        SELECT source,
               CAST(COUNT(1) AS BIGINT) AS n_classes,
               CAST(SUM(CASE WHEN ndiv < {L_DIVERSE} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_undiverse_classes,
               CAST(SUM(CASE WHEN ndiv < {L_DIVERSE} THEN sz ELSE 0 END) AS BIGINT)
                   AS n_undiverse_docs,
               CAST(MIN(ndiv) AS BIGINT) AS min_diversity
        FROM classes GROUP BY source ORDER BY source""",
)
def q_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source l=2 diversity audit: QI classes whose records all
    share one language (the sensitive attribute) and the documents
    exposed in them."""
    return ldiversity_audit(load(spark, sf_dir, "documents")).orderBy("source")
