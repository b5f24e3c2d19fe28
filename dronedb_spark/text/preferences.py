"""Preference-pair construction — build (chosen, rejected) training
pairs from a scored corpus, the DPO/RLHF-reward data-prep shape: within
a comparable group (same source/prompt), pair high-scoring documents
with low-scoring ones, enforce a minimum score margin, and emit the
pair with its margin for downstream loss weighting.  Beyond the
reference (no learned-training surface); public method: preference
datasets as used by InstructGPT/DPO (Rafailov et al. 2023).

Pairing rule (deterministic, rank-symmetric): within each group, rank
by (score, doc_id); the rank-i document from the TOP pairs with the
rank-i document from the BOTTOM (i = 1..⌊n/2⌋; the middle element of
an odd group sits out), then pairs below the margin threshold drop.
Both rankings come from ONE window ordering (bottom rank =
n − top_rank + 1 — no second sort), scores are integer micro units, so
margins are exact.

Scale shape: one hash exchange on the group key + one per-group sort
serves both ranks; groups are source-sized (bounded), the pairing is a
self-join on (group, i) between two rank filters of the SAME sorted
table — Catalyst reuses the exchange on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

MIN_MARGIN_MICRO = 100_000  # require a 0.1 score gap


def preference_pairs(
    scored: DataFrame,
    group: str,
    score_micro: Column,
    min_margin_micro: int = MIN_MARGIN_MICRO,
) -> DataFrame:
    """(group, pair_rank, chosen_id, rejected_id, chosen_score_micro,
    rejected_score_micro, margin_micro): top-vs-bottom pairs per group
    with the margin floor applied."""
    w = Window.partitionBy("g").orderBy(F.desc("s"), "doc_id")
    base = scored.select(
        F.col(group).alias("g"),
        F.col("doc_id"),
        score_micro.alias("s"),
    )
    ranked = base.select(
        "g",
        "doc_id",
        "s",
        F.row_number().over(w).alias("top_rank"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
    )
    top = ranked.filter(F.col("top_rank") * 2 <= F.col("n")).select(
        "g",
        F.col("top_rank").alias("i"),
        F.col("doc_id").alias("chosen_id"),
        F.col("s").alias("chosen_score_micro"),
    )
    bottom = ranked.filter(
        (F.col("n") - F.col("top_rank") + 1) * 2 <= F.col("n")
    ).select(
        "g",
        (F.col("n") - F.col("top_rank") + 1).alias("i"),
        F.col("doc_id").alias("rejected_id"),
        F.col("s").alias("rejected_score_micro"),
    )
    return (
        top.join(bottom, ["g", "i"])
        .select(
            F.col("g").alias(group),
            F.col("i").cast("bigint").alias("pair_rank"),
            F.col("chosen_id").cast("bigint"),
            F.col("rejected_id").cast("bigint"),
            F.col("chosen_score_micro").cast("bigint"),
            F.col("rejected_score_micro").cast("bigint"),
            (F.col("chosen_score_micro") - F.col("rejected_score_micro"))
            .cast("bigint")
            .alias("margin_micro"),
        )
        .filter(F.col("margin_micro") >= min_margin_micro)
    )


_SCORE_SQL = (
    "CAST(FLOOR(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)"
    " / CAST(len(string_split(text, ' ')) AS DOUBLE) * 1000000.0) AS BIGINT)"
)


@check(
    "preference_pair_build",
    oracle=f"""
        WITH base AS (
            SELECT source AS g, doc_id, {_SCORE_SQL} AS s
            FROM documents),
        ranked AS (
            SELECT g, doc_id, s,
                   ROW_NUMBER() OVER (PARTITION BY g
                       ORDER BY s DESC, doc_id) AS top_rank,
                   COUNT(1) OVER (PARTITION BY g) AS n
            FROM base),
        top AS (
            SELECT g, top_rank AS i, doc_id AS chosen_id,
                   s AS chosen_score_micro
            FROM ranked WHERE top_rank * 2 <= n),
        bottom AS (
            SELECT g, n - top_rank + 1 AS i, doc_id AS rejected_id,
                   s AS rejected_score_micro
            FROM ranked WHERE (n - top_rank + 1) * 2 <= n)
        SELECT t.g AS source, CAST(t.i AS BIGINT) AS pair_rank,
               CAST(t.chosen_id AS BIGINT) AS chosen_id,
               CAST(b.rejected_id AS BIGINT) AS rejected_id,
               CAST(t.chosen_score_micro AS BIGINT) AS chosen_score_micro,
               CAST(b.rejected_score_micro AS BIGINT) AS rejected_score_micro,
               CAST(t.chosen_score_micro - b.rejected_score_micro AS BIGINT)
                   AS margin_micro
        FROM top t JOIN bottom b ON b.g = t.g AND b.i = t.i
        WHERE t.chosen_score_micro - b.rejected_score_micro
              >= {MIN_MARGIN_MICRO}
        ORDER BY 1, 2""",
)
def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-vs-bottom preference pairs per source by the micro quality
    score (distinct-token ratio), margin ≥ 0.1 enforced — the DPO data
    prep over the corpus the quality family already scores."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens("text")
    score = F.floor(
        F.size(F.array_distinct(toks)).cast("double")
        / F.size(toks).cast("double")
        * 1000000.0
    ).cast("bigint")
    return preference_pairs(docs, "source", score).orderBy(
        "source", "pair_rank"
    )
