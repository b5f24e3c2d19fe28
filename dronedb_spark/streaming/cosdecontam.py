"""Streaming cosine-decontamination probe — the continuous runtime of
the ``text/decontamreport.py`` EMBEDDING channel, completing the
family: the n-gram channel streams via ``streaming/decontam.py`` and
the containment channel via ``streaming/containment.py``; this module
gives the third detector the same arrival-time shape.

Arriving vectors pass through ONE Arrow ``mapInPandas`` kernel whose
closure carries the per-eval-set embedding matrices (model-state-sized
— eval sets are tiny and static, the ``vectors/evalfilter.py``
discipline): per arriving item and eval set the kernel emits a
(item_id, set_id, n_members, max_micro) row when any member of the set
sits within cos ≥ τ.  The kernel is strictly per-item — ZERO streaming
state, no stream-static join at all (the "static side" rides in the
closure), so ANY microbatch split of the arrivals yields exactly the
same rows; tests/test_stream_cosdecontam.py pins stream == batch
across splits, and the ``stream_cosine_decontam_twin`` check gates the
batch twin against the pair-level DuckDB oracle.

Per-pair micro-cosine rounds BEFORE the threshold compare
(floor(cos·10⁶ + 0.5), dimension-sequential accumulation) — exactly
the ``decontamreport.cosine_flags`` arithmetic, so the streaming
channel and the batch report can never disagree on a hit.

Scale shape (100 TB): per-trigger work is one Arrow pass over the
arrivals; the eval matrices broadcast once per executor via the
closure; downstream attribution (distinct-item rollups) is set-grain
batch arithmetic exactly where ``decontam_report`` computes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.decontamreport import (
    EVAL_EVERY,
    EVAL_OFFSET,
    N_SETS,
    TAU_MICRO,
    _set_col,
)


def stream_cosine_probe(
    vec_stream: DataFrame, eval_vecs: DataFrame, tau_micro: int = TAU_MICRO
) -> DataFrame:
    """(item_id, set_id, n_members, max_micro): per arriving vector and
    eval set, how many of the set's members sit within cos ≥ τ and the
    tightest micro-cosine — one Arrow pass, eval matrices in the kernel
    closure, mode-agnostic (works identically on a streaming or batch
    DataFrame)."""
    import numpy as np
    import pandas as pd

    rows = eval_vecs.select("set_id", "embedding").collect()
    sets = sorted({r["set_id"] for r in rows})
    mats: dict[int, np.ndarray] = {}
    norms: dict[int, np.ndarray] = {}
    for s in sets:
        ev = np.stack(
            [
                np.asarray(r["embedding"], dtype=np.float64)
                for r in rows
                if r["set_id"] == s
            ]
        )
        ss = ev[:, 0] * ev[:, 0]
        for i in range(1, ev.shape[1]):
            ss = ss + ev[:, i] * ev[:, i]
        mats[s] = ev
        norms[s] = np.sqrt(ss)

    def kernel(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            cv = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            ss_c = cv[:, 0] * cv[:, 0]
            for i in range(1, cv.shape[1]):
                ss_c = ss_c + cv[:, i] * cv[:, i]
            c_norm = np.sqrt(ss_c)
            ids = pdf["vec_id"].values
            out = {"item_id": [], "set_id": [], "n_members": [], "max_micro": []}
            for s in sets:
                ev, e_norm = mats[s], norms[s]
                dot = cv[:, 0][:, None] * ev[:, 0][None, :]
                for i in range(1, cv.shape[1]):
                    dot = dot + cv[:, i][:, None] * ev[:, i][None, :]
                cos = dot / (c_norm[:, None] * e_norm[None, :])
                micro = np.floor(cos * 1000000.0 + 0.5).astype(np.int64)
                hit = micro >= tau_micro
                nm = hit.sum(axis=1)
                sel = nm > 0
                out["item_id"].extend(ids[sel])
                out["set_id"].extend([s] * int(sel.sum()))
                out["n_members"].extend(nm[sel])
                out["max_micro"].extend(
                    np.where(hit[sel], micro[sel], np.int64(-(10**9))).max(axis=1)
                )
            yield pd.DataFrame(
                {
                    "item_id": pd.Series(out["item_id"], dtype="int64"),
                    "set_id": pd.Series(out["set_id"], dtype="int32"),
                    "n_members": pd.Series(out["n_members"], dtype="int64"),
                    "max_micro": pd.Series(out["max_micro"], dtype="int64"),
                }
            )

    return vec_stream.select("vec_id", "embedding").mapInPandas(
        kernel, schema="item_id bigint, set_id int, n_members bigint, max_micro bigint"
    )


@check(
    "stream_cosine_decontam_twin",
    small=True,
    oracle=f"""
        WITH ev AS (
            SELECT CAST((vec_id // {EVAL_EVERY}) % {N_SETS} AS INT) AS set_id,
                   embedding AS e_emb
            FROM embeddings WHERE vec_id % {EVAL_EVERY} = {EVAL_OFFSET}),
        pairs AS (
            SELECT c.vec_id AS item_id, ev.set_id,
                   CAST(ROUND(
                       list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                        CAST(ev.e_emb AS DOUBLE[]))
                       / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                                CAST(c.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(CAST(ev.e_emb AS DOUBLE[]),
                                                  CAST(ev.e_emb AS DOUBLE[]))))
                       * 1000000.0) AS BIGINT) AS micro
            FROM embeddings c CROSS JOIN ev),
        hits AS (SELECT * FROM pairs WHERE micro >= {TAU_MICRO})
        SELECT set_id,
               CAST(COUNT(DISTINCT item_id) AS BIGINT) AS n_items,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(MAX(micro) AS BIGINT) AS max_micro
        FROM hits GROUP BY set_id ORDER BY set_id""",
)
def q_stream_cosine_decontam_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probe's batch twin (identical Arrow kernel — the probe is
    mode-agnostic): per eval set, the distinct arriving items within
    cos ≥ τ of a member, the (item, member) hit-pair count, and the
    tightest micro-cosine observed."""
    vecs = load(spark, sf_dir, "embeddings")
    ev = vecs.filter(
        F.col("vec_id") % EVAL_EVERY == EVAL_OFFSET
    ).select(_set_col("vec_id").alias("set_id"), "embedding")
    hits = stream_cosine_probe(vecs, ev)
    return (
        hits.groupBy("set_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("n_members").cast("bigint").alias("n_pairs"),
            F.max("max_micro").cast("bigint").alias("max_micro"),
        )
        .orderBy("set_id")
    )
