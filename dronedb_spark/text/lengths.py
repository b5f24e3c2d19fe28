"""Exact corpus length quantiles — the sequence-length distribution a
training pipeline budgets packing, batching, and context-window
truncation with.  ``approxQuantile`` (Greenwald-Khanna) gives an
ε-approximate answer; for a LENGTH column the exact answer is cheap at
any corpus size, because the value domain is bounded: token counts are
small integers, so the full distribution fits in a histogram of at
most ~max_len rows no matter how many documents exist.

Shape: one map-side-combined ``groupBy(n_tokens)`` (the only
data-sized shuffle) collapses 100 TB of documents to ≤ max_len
histogram rows; the cumulative rank and the per-quantile pick are
window + aggregate work over THAT histogram — driver-safe, exact, and
deterministic.  Quantile definition: type-1 (inverse empirical CDF),
``Q(q) = min { v : #(x ≤ v) ≥ ceil(q·N) }`` — integer rank
arithmetic, no interpolation, so engines cannot drift.

Composes with ``text/packing.py`` (pick the packing sequence length
from P99) and ``text/gopher.py`` (length-rule thresholds from the
observed distribution).  No reference counterpart; the bounded-domain
histogram trick is the standard exact-quantile recipe for integer
columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

QUANTILES = (25, 50, 75, 90, 99)  # percent points, integers for exactness


def token_length_histogram(docs: DataFrame) -> DataFrame:
    """(n_tokens, n_docs): the full exact length distribution — the
    one data-sized shuffle of this module."""
    return (
        docs.select(F.size(tokens("text")).cast("bigint").alias("n_tokens"))
        .groupBy("n_tokens")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def exact_length_quantiles(
    docs: DataFrame, quantiles=QUANTILES
) -> DataFrame:
    """(pct, rank, value): for each percent point, the type-1 quantile
    of the token-length distribution — ``rank = ceil(pct·N/100)`` and
    ``value`` the smallest length whose cumulative count reaches it.
    All arithmetic on BIGINTs over the collapsed histogram."""
    hist = token_length_histogram(docs)
    w = Window.orderBy("n_tokens").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # histogram-sized: both windows sort ≤ max_len rows in ONE pass —
    # taking N as a full-frame window (not a separate agg) keeps the
    # corpus scan single
    cum = hist.select(
        "n_tokens",
        F.sum("n_docs").over(w).alias("cum"),
        F.sum("n_docs").over(wall).alias("n"),
    )
    spine = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(int(p),) for p in quantiles], "pct int"
        )
    )
    ranked = cum.crossJoin(spine).select(
        "pct",
        "n_tokens",
        "cum",
        # ceil(pct*N/100) in exact integer arithmetic
        F.expr("CAST((pct * n + 99) DIV 100 AS BIGINT)").alias("rank"),
    )
    return (
        ranked.filter(F.col("cum") >= F.col("rank"))
        .groupBy("pct", "rank")
        .agg(F.min("n_tokens").cast("bigint").alias("value"))
    )


# -------------------------------------------------------------- checks --


@check(
    "length_quantiles_exact",
    small=True,
    oracle="""
        WITH hist AS (
            SELECT len(string_split(text, ' ')) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1),
        cum AS (
            SELECT n_tokens,
                   SUM(n_docs) OVER (ORDER BY n_tokens
                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM hist),
        total AS (SELECT MAX(cum) AS n FROM cum),
        spine AS (SELECT unnest([25, 50, 75, 90, 99]) AS pct)
        SELECT pct,
               CAST((pct * (SELECT n FROM total) + 99) // 100 AS BIGINT) AS rank,
               CAST(MIN(n_tokens) AS BIGINT) AS value
        FROM cum, spine
        WHERE cum >= (pct * (SELECT n FROM total) + 99) // 100
        GROUP BY pct ORDER BY pct""",
)
def q_length_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact P25/P50/P75/P90/P99 of the token-length distribution —
    rank and value integer-exact against the inverse-CDF oracle."""
    docs = load(spark, sf_dir, "documents")
    return exact_length_quantiles(docs).orderBy("pct")
