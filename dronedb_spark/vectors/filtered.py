"""Filtered vector search — top-k cosine UNDER a metadata predicate
(the "filtered ANN" serving shape every vector store exposes: "nearest
neighbors WHERE label = X").  The naive pre-filter breaks IVF: the
NPROBE nearest cells may hold fewer than k matching vectors, silently
truncating the result.  The fix here is DETERMINISTIC PROBE WIDENING:

1. per-(cell, label) counts — index metadata, centroids × labels rows,
   maintained with the store;
2. cells rank by query-to-centroid distance (the packed argmin idiom of
   ``vectors/ivf.py``), and the probe set is the shortest prefix whose
   CUMULATIVE matching-label count reaches k (one running-sum window
   over a centroids-sized table — no trial-and-error re-probing);
3. exact cosine scoring runs only on matching-label vectors inside the
   probe set.

At 100 TB the widening decision costs a metadata read (the per-cell
label histogram), the candidate scan is partition-pruned to the probe
cells AND label-filtered at the scan, and recall-vs-filter-selectivity
is explicit: rarer labels simply probe more cells, down to brute force
when only one cell holds any match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.vectors.ivf import _D_ASSIGN, _centroids, _d_packed, _packed, ivf_assign
from dronedb_spark.vectors.knn import _dot, _norm

K = 10
QUERY_ID = 0
FILTER_LABEL = 3


def filtered_ivf_search(
    embeddings: DataFrame,
    query_vec_id: int = QUERY_ID,
    label: int = FILTER_LABEL,
    k: int = K,
) -> DataFrame:
    """(vec_id, cos_sim): exact top-k among ``label`` vectors inside the
    widened probe set."""
    assigned = ivf_assign(embeddings)
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    # (cell, n_match): the per-cell histogram of the filter label
    hist = (
        assigned.filter(F.col("label") == label)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_match"))
    )
    # cells in query-distance order, with the cumulative match count of
    # all PRECEDING cells — a cell probes iff the preceding cells alone
    # cannot fill k
    ranked = (
        _centroids(embeddings)
        .join(F.broadcast(q))
        .select(
            "cid",
            _packed(
                _dot("c_emb", "q_emb") / (_norm("c_emb") * _norm("q_emb")),
                F.col("cid"),
            ).alias("packed"),
        )
        .join(  # cell-grain (≤ N_CENTROIDS rows): broadcast, not SMJ
            F.broadcast(hist.withColumnRenamed("cell", "cid")), "cid", "left"
        )
        .select(
            "cid", "packed", F.coalesce("n_match", F.lit(0)).alias("n_match")
        )
    )
    w = Window.orderBy("packed").rowsBetween(Window.unboundedPreceding, -1)
    probe = (
        ranked.withColumn(
            "before", F.coalesce(F.sum("n_match").over(w), F.lit(0))
        )
        .filter(F.col("before") < k)
        .select(F.col("cid").alias("cell"))
    )
    cand = (
        assigned.filter(F.col("label") == label)
        .join(F.broadcast(probe), "cell", "left_semi")
        .filter(F.col("vec_id") != query_vec_id)
        .join(embeddings.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(q))
    )
    return (
        cand.select(
            "vec_id",
            F.round(
                _dot("embedding", "q_emb") / (_norm("embedding") * _norm("q_emb")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(k)
    )


@check(
    "filtered_ivf_top10",
    small=True,
    oracle=f"""
        WITH {_D_ASSIGN},
        q AS (SELECT embedding AS q_emb FROM embeddings
              WHERE vec_id = {QUERY_ID}),
        hist AS (
            SELECT cell, COUNT(1) AS n_match FROM assign
            WHERE label = {FILTER_LABEL} GROUP BY cell),
        ranked AS (
            SELECT c.cid,
                   {_d_packed(
                       "list_dot_product(CAST(c.c_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[]))"
                       " / (sqrt(list_dot_product(CAST(c.c_emb AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[])))"
                       " * sqrt(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[]))))",
                       "c.cid")} AS packed,
                   COALESCE(h.n_match, 0) AS n_match
            FROM c CROSS JOIN q LEFT JOIN hist h ON h.cell = c.cid),
        probe AS (
            SELECT cid AS cell FROM (
                SELECT cid,
                       COALESCE(SUM(n_match) OVER (ORDER BY packed
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS before
                FROM ranked) t
            WHERE before < {K})
        SELECT e.vec_id,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.q_emb AS DOUBLE[]))
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(q.q_emb AS DOUBLE[]),
                                                CAST(q.q_emb AS DOUBLE[])))),
                     6) AS cos_sim
        FROM embeddings e
        JOIN assign a ON a.vec_id = e.vec_id
        CROSS JOIN q
        WHERE a.label = {FILTER_LABEL}
          AND a.cell IN (SELECT cell FROM probe)
          AND e.vec_id <> {QUERY_ID}
        ORDER BY cos_sim DESC, e.vec_id LIMIT {K}""",
)
def q_filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 label-3 neighbors of vec 0 through the widened probe set —
    the probe prefix, candidate set, and exact scores all re-derived by
    the oracle."""
    return filtered_ivf_search(load(spark, sf_dir, "embeddings"))
