"""Retrieval MRR — mean reciprocal rank as an EXACT INTEGER (beyond
the reference; the eval readout of the retrieval family next to
``vectors/recalleval.py``'s recall curve: recall says the relevant doc
is SOMEWHERE in the top-k, MRR says how high).

Reciprocal rank is rational with denominator ≤ k, so scaling by
lcm(1..10) = 2520 makes every per-query contribution an exact BIGINT
(``rr_scaled = 2520 DIV rank``) — zero float ranking, summable
map-side (the ``tfidf`` integer-quotient discipline).  Ranking is
exact cosine over the whole corpus with the deterministic
(micro-distance, vec_id) packed order the IVF family shares; relevance
is label match.

Scale shape: the query sample is ENFORCED in-operator (ORDER BY vec_id
LIMIT n — the quadratic side cannot see the full corpus, the
``recalleval`` discipline) and broadcasts; one data-sized score pass,
one rank window partitioned by query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.vectors.knn import _dot, _norm

N_QUERIES = 20
TOP_K = 10
_LCM = 2520  # lcm(1..10)


def retrieval_mrr(embeddings: DataFrame, n_queries: int = N_QUERIES,
                  k: int = TOP_K) -> DataFrame:
    """(q_id, first_rel_rank, rr_scaled): per query, the rank of the
    first same-label neighbor within the exact cosine top-k (−1 / 0
    when none lands in the top-k) — MRR·|Q|·2520 = Σ rr_scaled."""
    qs = (
        embeddings.orderBy("vec_id")
        .limit(n_queries)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("q_emb"),
        )
    )
    scored = embeddings.join(F.broadcast(qs)).filter(
        F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        "q_label",
        "vec_id",
        "label",
        F.concat(
            F.lpad(
                F.round(
                    (F.lit(1.0) - _dot("embedding", "q_emb")
                     / (_norm("embedding") * _norm("q_emb")))
                    * F.lit(1000000.0)
                )
                .cast("bigint")
                .cast("string"),
                9,
                "0",
            ),
            F.lpad(F.col("vec_id").cast("string"), 12, "0"),
        ).alias("pk"),
    )
    w = Window.partitionBy("q_id").orderBy("pk")
    ranked = scored.select(
        "q_id", "q_label", "label", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= k)
    hits = ranked.filter(F.col("label") == F.col("q_label")).groupBy(
        "q_id"
    ).agg(F.min("rnk").cast("bigint").alias("first_rel_rank"))
    # hits is query-grain (≤ n_queries rows) but sits behind the window
    # pipeline, so the planner can't estimate it small — broadcast it
    # explicitly (SortMergeJoin → BroadcastHashJoin, −2 Exchanges)
    return qs.select("q_id").join(F.broadcast(hits), "q_id", "left").select(
        "q_id",
        F.coalesce("first_rel_rank", F.lit(-1)).cast("bigint").alias(
            "first_rel_rank"
        ),
        F.when(
            F.col("first_rel_rank").isNotNull(),
            F.expr(f"CAST({_LCM} DIV first_rel_rank AS BIGINT)"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("rr_scaled"),
    )


@check(
    "retrieval_mrr",
    small=True,
    oracle=f"""
        WITH qs AS (
            SELECT vec_id AS q_id, label AS q_label,
                   CAST(embedding AS DOUBLE[]) AS q_emb
            FROM embeddings ORDER BY vec_id LIMIT {N_QUERIES}),
        scored AS (
            SELECT q.q_id, q.q_label, e.vec_id, e.label,
                   lpad(CAST(CAST(ROUND((1.0
                       - list_dot_product(CAST(e.embedding AS DOUBLE[]), q.q_emb)
                         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                  CAST(e.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(q.q_emb, q.q_emb))))
                       * 1000000.0) AS BIGINT) AS VARCHAR), 9, '0')
                   || lpad(CAST(e.vec_id AS VARCHAR), 12, '0') AS pk
            FROM embeddings e CROSS JOIN qs q
            WHERE e.vec_id <> q.q_id),
        ranked AS (
            SELECT q_id, q_label, label,
                   row_number() OVER (PARTITION BY q_id ORDER BY pk) AS rnk
            FROM scored),
        hits AS (
            SELECT q_id, CAST(MIN(rnk) AS BIGINT) AS first_rel_rank
            FROM ranked WHERE rnk <= {TOP_K} AND label = q_label
            GROUP BY q_id)
        SELECT q.q_id,
               CAST(COALESCE(h.first_rel_rank, -1) AS BIGINT)
                   AS first_rel_rank,
               CAST(CASE WHEN h.first_rel_rank IS NULL THEN 0
                         ELSE {_LCM} // h.first_rel_rank END AS BIGINT)
                   AS rr_scaled
        FROM qs q LEFT JOIN hits h ON h.q_id = q.q_id
        ORDER BY q.q_id""",
)
def q_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer MRR@10 over the 20-query enforced sample with
    label relevance — packed deterministic ranking, first-hit rank and
    the 2520-scaled reciprocal re-derived by the oracle."""
    return retrieval_mrr(load(spark, sf_dir, "embeddings")).orderBy("q_id")
