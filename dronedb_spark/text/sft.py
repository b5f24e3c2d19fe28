"""SFT / chat-data preparation — the turn-structured operators every
instruction-tuning pipeline runs between curation and packing: parse
documents into role-alternating TURNS, mask the loss to
assistant-authored tokens only (user turns condition, never train),
and truncate long conversations to their last K turns (the
context-window discipline that keeps the newest exchange).

Fixture note: the corpus has no real chat markup, so a turn here is a
fixed window of ``WORDS_PER_TURN`` whitespace tokens with alternating
user/assistant roles — the derivation is synthetic, the operator
plumbing (turn explode, role assignment, role-masked token accounting,
suffix truncation) is the real shape and every number is
oracle-checked.  A production deployment swaps ``to_turns`` for its
template parser; everything downstream is unchanged.

Scale shape: ``to_turns`` is one explode (corpus-sized, the packing
stage needs the rows anyway); the mask/truncation accounting
aggregates back to doc-sized with map-side combine; no window over
token rows (turn indices derive arithmetically from positions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

WORDS_PER_TURN = 8
LAST_K_TURNS = 4


def to_turns(docs: DataFrame, words_per_turn: int = WORDS_PER_TURN) -> DataFrame:
    """(doc_id, turn_no, role, n_tokens): the conversation rows — token
    position DIV words_per_turn is the turn, even turns are 'user',
    odd are 'assistant' (conversations open with the user)."""
    toks = docs.select(
        "doc_id",
        F.posexplode(tokens("text")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    turned = toks.select(
        "doc_id", F.expr(f"pos DIV {words_per_turn}").alias("turn_no")
    )
    return turned.groupBy("doc_id", "turn_no").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    ).select(
        "doc_id",
        "turn_no",
        F.when(F.col("turn_no") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        "n_tokens",
    )


def sft_mask_rollup(
    docs: DataFrame,
    words_per_turn: int = WORDS_PER_TURN,
    last_k: int = LAST_K_TURNS,
) -> DataFrame:
    """(doc_id, n_turns, trained_tokens, masked_tokens, last_k_tokens):
    the loss-masking + truncation accounting per conversation —
    trained = assistant-turn tokens, masked = user-turn tokens,
    last_k_tokens = what survives truncating to the newest ``last_k``
    turns."""
    turns = to_turns(docs, words_per_turn)
    per_doc = turns.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
        F.sum(
            F.when(F.col("role") == "assistant", F.col("n_tokens")).otherwise(0)
        )
        .cast("bigint")
        .alias("trained_tokens"),
        F.sum(
            F.when(F.col("role") == "user", F.col("n_tokens")).otherwise(0)
        )
        .cast("bigint")
        .alias("masked_tokens"),
        F.max("turn_no").alias("_max_turn"),
    )
    kept = (
        turns.join(
            per_doc.select("doc_id", "_max_turn"), "doc_id"
        )
        .filter(F.col("turn_no") > F.col("_max_turn") - last_k)
        .groupBy("doc_id")
        .agg(F.sum("n_tokens").cast("bigint").alias("last_k_tokens"))
    )
    return per_doc.drop("_max_turn").join(kept, "doc_id")


@check(
    "sft_mask_rollup",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, w[i] AS tok,
                   CAST((i - 1) // {WORDS_PER_TURN} AS BIGINT) AS turn_no
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents),
                 UNNEST(range(1, len(w) + 1)) AS r(i)
            WHERE w[i] <> ''),
        turns AS (
            SELECT doc_id, turn_no,
                   CASE WHEN turn_no % 2 = 0 THEN 'user'
                        ELSE 'assistant' END AS role,
                   CAST(COUNT(1) AS BIGINT) AS n_tokens
            FROM toks GROUP BY doc_id, turn_no),
        per_doc AS (
            SELECT doc_id,
                   CAST(COUNT(1) AS BIGINT) AS n_turns,
                   CAST(SUM(CASE WHEN role = 'assistant' THEN n_tokens
                                 ELSE 0 END) AS BIGINT) AS trained_tokens,
                   CAST(SUM(CASE WHEN role = 'user' THEN n_tokens
                                 ELSE 0 END) AS BIGINT) AS masked_tokens,
                   MAX(turn_no) AS max_turn
            FROM turns GROUP BY doc_id),
        kept AS (
            SELECT t.doc_id,
                   CAST(SUM(t.n_tokens) AS BIGINT) AS last_k_tokens
            FROM turns t JOIN per_doc p ON p.doc_id = t.doc_id
            WHERE t.turn_no > p.max_turn - {LAST_K_TURNS}
            GROUP BY t.doc_id)
        SELECT p.doc_id, p.n_turns, p.trained_tokens, p.masked_tokens,
               k.last_k_tokens
        FROM per_doc p JOIN kept k ON k.doc_id = p.doc_id
        ORDER BY p.doc_id""",
)
def q_sft_mask_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loss-mask + last-4-turn truncation accounting for every
    conversation in the corpus — turn counts, trained vs masked token
    mass, and the truncated suffix size all re-derived by the
    oracle."""
    return sft_mask_rollup(load(spark, sf_dir, "documents")).orderBy("doc_id")


# ------------------------------------------------------- batch packing --
# Greedy token-budget packing of WHOLE conversations into training
# batches — the SFT counterpart of ``text/packing.py``'s chunk packing
# (there a document may split across sequences; an SFT conversation
# must stay intact, so a batch is a roster of whole conversations).
# The batch id is the ``catalog/compact.py`` window discipline: in
# doc_id order, a conversation starts a new batch when the token mass
# BEFORE it already fills the budget — deterministic, one distributed
# prefix sum (``running_offsets``), no driver-side greedy loop.

PACK_BUDGET = 512  # tokens per packed batch (post-truncation)


def sft_kept_turns(
    docs: DataFrame,
    words_per_turn: int = WORDS_PER_TURN,
    last_k: int = LAST_K_TURNS,
) -> DataFrame:
    """(doc_id, kept_tokens, trained_tokens, masked_tokens): the
    per-conversation token accounting AFTER truncating to the newest
    ``last_k`` turns — the mass the packer actually schedules."""
    turns = to_turns(docs, words_per_turn)
    maxt = turns.groupBy("doc_id").agg(F.max("turn_no").alias("_max_turn"))
    return (
        turns.join(maxt, "doc_id")
        .filter(F.col("turn_no") > F.col("_max_turn") - last_k)
        .groupBy("doc_id")
        .agg(
            F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
            F.sum(
                F.when(F.col("role") == "assistant", F.col("n_tokens"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("trained_tokens"),
            F.sum(
                F.when(F.col("role") == "user", F.col("n_tokens")).otherwise(0)
            )
            .cast("bigint")
            .alias("masked_tokens"),
        )
    )


def sft_pack_batches(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    words_per_turn: int = WORDS_PER_TURN,
    last_k: int = LAST_K_TURNS,
) -> DataFrame:
    """(batch_no, n_convs, kept_tokens, trained_tokens, masked_tokens,
    doc_id_sum): the packed-batch roster accounting.  doc_id_sum pins
    WHICH conversations each batch holds, trained/masked carry the
    loss-mask split into the batch so the trainer needs no second
    pass."""
    from dronedb_spark.text.packing import running_offsets

    kept = sft_kept_turns(docs, words_per_turn, last_k)
    offs = running_offsets(kept, "doc_id", "kept_tokens", "start")
    batched = offs.withColumn(
        "batch_no", F.expr(f"CAST(start DIV {budget} AS BIGINT)")
    )
    return batched.groupBy("batch_no").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_convs"),
        F.sum("kept_tokens").cast("bigint").alias("kept_tokens"),
        F.sum("trained_tokens").cast("bigint").alias("trained_tokens"),
        F.sum("masked_tokens").cast("bigint").alias("masked_tokens"),
        F.sum("doc_id").cast("bigint").alias("doc_id_sum"),
    )


@check(
    "sft_pack_batches",
    small=True,
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST((i - 1) // {WORDS_PER_TURN} AS BIGINT) AS turn_no
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents),
                 UNNEST(range(1, len(w) + 1)) AS r(i)
            WHERE w[i] <> ''),
        turns AS (
            SELECT doc_id, turn_no,
                   CASE WHEN turn_no % 2 = 0 THEN 'user'
                        ELSE 'assistant' END AS role,
                   CAST(COUNT(1) AS BIGINT) AS n_tokens
            FROM toks GROUP BY doc_id, turn_no),
        maxt AS (
            SELECT doc_id, MAX(turn_no) AS max_turn
            FROM turns GROUP BY doc_id),
        kept AS (
            SELECT t.doc_id,
                   CAST(SUM(t.n_tokens) AS BIGINT) AS kept_tokens,
                   CAST(SUM(CASE WHEN t.role = 'assistant' THEN t.n_tokens
                                 ELSE 0 END) AS BIGINT) AS trained_tokens,
                   CAST(SUM(CASE WHEN t.role = 'user' THEN t.n_tokens
                                 ELSE 0 END) AS BIGINT) AS masked_tokens
            FROM turns t JOIN maxt m ON m.doc_id = t.doc_id
            WHERE t.turn_no > m.max_turn - {LAST_K_TURNS}
            GROUP BY t.doc_id),
        packed AS (
            SELECT doc_id, kept_tokens, trained_tokens, masked_tokens,
                   CAST(CAST(COALESCE(SUM(kept_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) // {PACK_BUDGET} AS BIGINT) AS batch_no
            FROM kept)
        SELECT batch_no,
               CAST(COUNT(1) AS BIGINT) AS n_convs,
               CAST(SUM(kept_tokens) AS BIGINT) AS kept_tokens,
               CAST(SUM(trained_tokens) AS BIGINT) AS trained_tokens,
               CAST(SUM(masked_tokens) AS BIGINT) AS masked_tokens,
               CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
        FROM packed GROUP BY batch_no ORDER BY batch_no""",
)
def q_sft_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-conversation token-budget packing with the loss-mask split
    carried into each batch — the oracle re-derives truncation, the
    prefix-sum batch assignment, and every batch's roster sum."""
    return sft_pack_batches(load(spark, sf_dir, "documents")).orderBy(
        "batch_no"
    )
