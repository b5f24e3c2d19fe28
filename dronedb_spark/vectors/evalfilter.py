"""Embedding-space decontamination — remove training vectors too
similar to an EVALUATION set (beyond the reference; the embedding
complement of `text/decontam.py`'s n-gram overlap: paraphrased or
re-encoded eval leakage that shares no 13-gram still lands next to the
eval point in embedding space — the gap SemDeDup/eval-decontam
pipelines close with a cosine filter).

Scale shape: eval sets are SMALL by construction (thousands of rows
against a 100 TB corpus), so the eval side BROADCASTS and the filter
is one map-side join + per-corpus-row max — no shuffle of the corpus
beyond the final aggregate, and the corpus scan prunes to (vec_id,
embedding)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

TAU_MICRO = 990000  # cos >= 0.99 ⇒ contaminated


def eval_contaminated(corpus: DataFrame, eval_set: DataFrame,
                      tau_micro: int = TAU_MICRO) -> DataFrame:
    """(vec_id, max_cos_micro): corpus vectors whose max cosine against
    ANY eval vector reaches ``tau_micro`` (micro units — the integer
    compare keeps the threshold engine-exact).

    The eval matrix rides in the kernel CLOSURE (eval sets are small by
    construction — the PQ-codebook model-state budget); the corpus
    streams through ONE Arrow pass computing per-row max micro-cos with
    DIMENSION-SEQUENTIAL accumulation (exact fold association per
    element — the ``vectors/negatives.py`` discipline; the broadcast
    join + HOF fold form was measured 4.5s at sf0.1 vs ~0.3s here).
    Per-pair rounding happens BEFORE the max, matching the oracle."""
    import pandas as pd

    ev_rows = eval_set.select("embedding").collect()
    import numpy as np

    ev = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in ev_rows])
    ss_e = ev[:, 0] * ev[:, 0]
    for i in range(1, ev.shape[1]):
        ss_e = ss_e + ev[:, i] * ev[:, i]
    e_norm = np.sqrt(ss_e)

    def kernel(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            cv = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            dot = cv[:, 0][:, None] * ev[:, 0][None, :]
            ss_c = cv[:, 0] * cv[:, 0]
            for i in range(1, cv.shape[1]):
                dot = dot + cv[:, i][:, None] * ev[:, i][None, :]
                ss_c = ss_c + cv[:, i] * cv[:, i]
            cos = dot / (np.sqrt(ss_c)[:, None] * e_norm[None, :])
            micro = np.floor(cos * 1000000.0 + 0.5).astype(np.int64)
            out = pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "max_cos_micro": micro.max(axis=1)}
            )
            yield out[out["max_cos_micro"] >= tau_micro]

    return corpus.select("vec_id", "embedding").mapInPandas(
        kernel, schema="vec_id bigint, max_cos_micro bigint"
    )


@check(
    "embedding_eval_decontam",
    small=True,
    oracle=f"""
        WITH ev AS (
            SELECT embedding AS e_emb FROM embeddings WHERE vec_id % 17 = 0),
        scored AS (
            SELECT c.vec_id,
                   MAX(CAST(ROUND(
                       list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                        CAST(ev.e_emb AS DOUBLE[]))
                       / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                                CAST(c.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(CAST(ev.e_emb AS DOUBLE[]),
                                                  CAST(ev.e_emb AS DOUBLE[]))))
                       * 1000000.0) AS BIGINT)) AS max_cos_micro
            FROM embeddings c CROSS JOIN ev
            GROUP BY c.vec_id)
        SELECT vec_id, max_cos_micro
        FROM scored WHERE max_cos_micro >= {TAU_MICRO}
        ORDER BY vec_id""",
)
def q_embedding_eval_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 17th vector doubles as the eval set; the corpus rows that
    ARE eval members must flag at cos 1.0 and nothing else reaches the
    0.99 threshold on this corpus — the oracle verifies the exact
    micro-cos of every flagged row."""
    emb = load(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 17 == 0)
    return eval_contaminated(emb, ev).orderBy("vec_id")
