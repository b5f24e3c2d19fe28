"""Temperature-based mixture budgeting — the multilingual/multi-source
rebalancing step (beyond the reference; the mT5/XLM-R "temperature
sampling" recipe, Conneau et al. 2019): low-resource sources are
upsampled by flattening the source distribution, budget_i ∝ c_i^(1/T).

Exactness discipline: weights are INTEGERIZED before any division —
w_i = floor(sqrt(c_i · 10^6)) for T = 2 (IEEE sqrt is correctly
rounded, so both engines floor the same double), and the allocation is
the largest-remainder method in pure integer arithmetic:
base_i = N·w_i // W, then the R = N − Σbase leftover seats go to the R
largest remainders N·w_i mod W (ties by source name).  No float ever
crosses an ordering boundary, so the oracle matches seat for seat.

Scale shape: per-source counts are one partial-aggregated pass; the
allocation itself runs on the SOURCE table (a handful of rows) via a
window rank — model-state-sized, like the BPE merge scalars."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import words

TOTAL_BUDGET = 10000


def temperature_budgets(docs: DataFrame, total: int = TOTAL_BUDGET) -> DataFrame:
    """(source, n_docs, weight, budget): per-source sample budgets under
    T=2 temperature flattening, exact largest-remainder allocation."""
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = F.floor(F.sqrt(F.col("n_docs") * F.lit(1000000.0))).cast("bigint")
    weighted = counts.select("source", "n_docs", w.alias("weight"))
    tot_w = weighted.agg(F.sum("weight").alias("w_sum"))
    j = weighted.join(F.broadcast(tot_w))
    # integer DIV, not `/`: the double quotient's truncation can
    # disagree with the oracle's exact `//` once total·weight nears 2^53
    base = F.expr(f"CAST({total} AS BIGINT) * weight DIV w_sum")
    rem = (F.lit(total) * F.col("weight")) % F.col("w_sum")
    staged = j.select(
        "source", "n_docs", "weight",
        base.alias("base"), rem.alias("rem"),
        (F.lit(total) - F.sum(base).over(Window.partitionBy())).alias("leftover"),
    )
    rank = F.row_number().over(Window.partitionBy().orderBy(F.desc("rem"), "source"))
    return staged.select(
        "source", "n_docs", "weight",
        (F.col("base") + F.when(rank <= F.col("leftover"), 1).otherwise(0))
        .cast("bigint")
        .alias("budget"),
    )


@check(
    "temperature_mixture_budgets",
    small=True,
    oracle=f"""
        WITH counts AS (
            SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        weighted AS (
            SELECT source, n_docs,
                   CAST(FLOOR(SQRT(n_docs * 1000000.0)) AS BIGINT) AS weight
            FROM counts),
        tot AS (SELECT SUM(weight) AS w_sum FROM weighted),
        staged AS (
            SELECT source, n_docs, weight,
                   CAST(({TOTAL_BUDGET}::BIGINT * weight) // w_sum AS BIGINT) AS base,
                   ({TOTAL_BUDGET}::BIGINT * weight) % w_sum AS rem
            FROM weighted CROSS JOIN tot),
        lo AS (SELECT {TOTAL_BUDGET} - SUM(base) AS leftover FROM staged)
        SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs, s.weight,
               CAST(s.base + CASE WHEN ROW_NUMBER() OVER
                        (ORDER BY s.rem DESC, s.source) <= lo.leftover
                    THEN 1 ELSE 0 END AS BIGINT) AS budget
        FROM staged s CROSS JOIN lo
        ORDER BY s.source""",
)
def q_temperature_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source budgets at T=2 over the corpus — weights, bases, and
    every leftover seat value-checked (budgets must sum to the total —
    pytest pins the conservation law)."""
    docs = load(spark, sf_dir, "documents").select("source")
    return temperature_budgets(docs).orderBy("source")


# ------------------------------------------- epoch materialization ----

EPOCH_TOTAL = 3333  # forces fractional epochs on the uniform fixture


def epoch_copies(docs: DataFrame, budgets: DataFrame) -> DataFrame:
    """(doc_id, source, n_copies): turn per-source BUDGETS (possibly
    above the source's size — multi-epoch upsampling, the
    temperature-mixture consequence) into an exact physical repeat plan
    (the "repeat factor" every training-data loader ultimately needs):

      * every doc gets ``budget DIV n_docs`` full-epoch copies;
      * the remaining ``budget % n_docs`` seats go to the docs with the
        smallest ``md5(doc_id)`` — the deterministic hash IS the
        shuffle, so the fractional epoch is an unbiased, reproducible
        subset, not "whatever rows came first".

    Conservation law (pytest-pinned): sum(n_copies) per source ==
    budget, exactly.  Scale: one broadcast join (budgets are
    #sources rows) + the per-source hash-rank window; for extreme
    per-source volume the rank admits the same two-phase cutoff-hash
    refinement as ``mixture_quota_twophase`` (SCALE.md) — semantics
    identical, selection map-only after a sampled cutoff."""
    j = docs.join(F.broadcast(budgets.select("source", "n_docs", "budget")), "source")
    full = F.expr("budget DIV n_docs")
    frac = F.col("budget") % F.col("n_docs")
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    return j.select(
        "doc_id",
        "source",
        (full + (rk <= frac).cast("bigint")).cast("bigint").alias("n_copies"),
    )


def materialize_epochs(copies: DataFrame) -> DataFrame:
    """Explode the repeat plan into physical (doc_id, source, copy_no)
    rows — the list a packing/sharding stage consumes.  Zero-copy docs
    (downsampled sources) drop out here."""
    return copies.filter(F.col("n_copies") > 0).select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), F.col("n_copies").cast("int"))).alias(
            "copy_no"
        ),
    )


@check(
    "epoch_materialize",
    oracle=f"""
        WITH counts AS (
            SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        weighted AS (
            SELECT source, n_docs,
                   CAST(FLOOR(SQRT(n_docs * 1000000.0)) AS BIGINT) AS weight
            FROM counts),
        tot AS (SELECT SUM(weight) AS w_sum FROM weighted),
        staged AS (
            SELECT source, n_docs, weight,
                   CAST(({EPOCH_TOTAL}::BIGINT * weight) // w_sum AS BIGINT) AS base,
                   ({EPOCH_TOTAL}::BIGINT * weight) % w_sum AS rem
            FROM weighted CROSS JOIN tot),
        lo AS (SELECT {EPOCH_TOTAL} - SUM(base) AS leftover FROM staged),
        budgets AS (
            SELECT s.source, s.n_docs,
                   s.base + CASE WHEN ROW_NUMBER() OVER
                            (ORDER BY s.rem DESC, s.source) <= lo.leftover
                        THEN 1 ELSE 0 END AS budget
            FROM staged s CROSS JOIN lo),
        ranked AS (
            SELECT d.doc_id, d.source, b.n_docs, b.budget,
                   ROW_NUMBER() OVER (PARTITION BY d.source
                       ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
            FROM documents d JOIN budgets b USING (source))
        SELECT doc_id, source,
               CAST(budget // n_docs
                    + CASE WHEN rk <= budget % n_docs THEN 1 ELSE 0 END
                    AS BIGINT) AS n_copies
        FROM ranked ORDER BY doc_id""",
)
def q_epoch_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature budgets -> exact per-doc repeat plan: every doc's copy
    count under the T=2 mixture at a total of {EPOCH_TOTAL} samples."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    budgets = temperature_budgets(docs, EPOCH_TOTAL)
    return epoch_copies(docs, budgets).orderBy("doc_id")


# ------------------------- sqrt-temperature DOCUMENT-BUDGET plan (r10) --
# The rollup above allocates INTEGER SEATS by largest remainder for a
# fixed total; the plan below is the companion TOKEN-weighted form
# (weight = floor(sqrt(n_tokens)*1e6), share/budget/rate by pure DIV).

BUDGET_DOCS = 100_000


def mixture_plan(docs: DataFrame, budget_docs: int = BUDGET_DOCS) -> DataFrame:
    """(source, n_docs, n_tokens, weight_micro, share_ppm, docs_budget,
    rate_ppm): the per-source sampling plan under a √tokens temperature
    weighting."""
    toks = docs.select(
        "source",
        F.size(words("text")).alias("nt"),
    )
    per_src = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
    )
    weighted = per_src.withColumn(
        "weight_micro",
        F.expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)"),
    )
    total = weighted.agg(
        F.sum("weight_micro").cast("bigint").alias("w_total")
    )
    return (
        weighted.join(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "weight_micro",
            F.expr("weight_micro * 1000000 DIV w_total").alias("share_ppm"),
            F.expr(f"{budget_docs} * weight_micro DIV w_total").alias(
                "docs_budget"
            ),
            F.expr(
                f"({budget_docs} * weight_micro DIV w_total) * 1000000"
                " DIV n_docs"
            ).alias("rate_ppm"),
        )
    )


@check(
    "mixture_temperature_plan",
    small=True,
    oracle=f"""
        WITH per_src AS (
            SELECT source,
                   CAST(COUNT(1) AS BIGINT) AS n_docs,
                   CAST(SUM(len(list_filter(string_split(text, ' '),
                                            x -> x <> ''))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY source),
        weighted AS (
            SELECT *,
                   CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0)
                        AS BIGINT) AS weight_micro
            FROM per_src),
        tot AS (SELECT CAST(SUM(weight_micro) AS BIGINT) AS w_total
                FROM weighted)
        SELECT source, n_docs, n_tokens, weight_micro,
               CAST(weight_micro * 1000000 // w_total AS BIGINT) AS share_ppm,
               CAST({BUDGET_DOCS} * weight_micro // w_total AS BIGINT)
                   AS docs_budget,
               CAST(CAST({BUDGET_DOCS} * weight_micro // w_total AS BIGINT)
                    * 1000000 // n_docs AS BIGINT) AS rate_ppm
        FROM weighted, tot ORDER BY source""",
)
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The √tokens-temperature sampling plan for a 100k-document epoch
    over the 20 corpus sources — weights, shares, per-source budgets
    and rates all integer-exact."""
    return mixture_plan(load(spark, sf_dir, "documents")).orderBy("source")
