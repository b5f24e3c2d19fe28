"""Population Stability Index — the industry-standard scalar drift
screen between two score distributions (credit-scoring practice;
discussed alongside KS in the model-monitoring literature), sitting
next to the exact KS flags and the embedding drift deciles:

    PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)

Here the two populations are the first and second half of the source
mixture (src0-9 vs src10-19) and the score is the document length,
binned at a FIXED integer width with an overflow bin — fixed edges
keep the bins deterministic and mergeable (a quantile-based binning
would need a global sort; fixed edges are what a monitoring job ships
because yesterday's edges must still apply today).

Determinism: bin counts are exact integers; Laplace +1 smoothing
(both engines, stated in the formula) removes empty-bin infinities
without an epsilon constant; per-bin contributions are IEEE combines
of exact integer ratios, accumulated nowhere (the bin grain IS the
output) and rounded at 9 dp.

Scale shape: one map-side-combinable aggregate to the bin grain
(≤ N_BINS+1 rows), a broadcast of the two population totals — no
sort, no join on data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

BIN_W = 100
N_BINS = 12  # bins 0..11, lengths >= 1200 chars collapse into bin 11


def psi_bins(docs: DataFrame, bin_w: int = BIN_W, n_bins: int = N_BINS) -> DataFrame:
    """(bin, n_a, n_b, psi_contrib): per-bin counts of the two source
    halves and the smoothed PSI contribution."""
    half_b = F.col("source").isin(*[f"src{i}" for i in range(10, 20)])
    binned = docs.select(
        F.least(
            F.expr(f"n_chars DIV {bin_w}"), F.lit(n_bins - 1)
        ).cast("bigint").alias("bin"),
        F.when(half_b, 1).otherwise(0).alias("is_b"),
    )
    grain = binned.groupBy("bin").agg(
        F.sum(F.expr("1 - is_b")).cast("bigint").alias("n_a"),
        F.sum("is_b").cast("bigint").alias("n_b"),
    )
    tot = grain.agg(
        F.sum("n_a").alias("t_a"),
        F.sum("n_b").alias("t_b"),
        F.count(F.lit(1)).alias("b_ct"),
    )
    p = (F.col("n_a") + 1).cast("double") / (F.col("t_a") + F.col("b_ct")).cast(
        "double"
    )
    q = (F.col("n_b") + 1).cast("double") / (F.col("t_b") + F.col("b_ct")).cast(
        "double"
    )
    return grain.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_a",
        "n_b",
        F.round((p - q) * F.log(p / q), 9).alias("psi_contrib"),
    )


@check(
    "psi_length_drift",
    small=True,
    oracle=f"""
        WITH binned AS (
            SELECT LEAST(CAST(n_chars // {BIN_W} AS BIGINT), {N_BINS - 1}) AS bin,
                   CASE WHEN source IN ({", ".join(repr(f"src{i}") for i in range(10, 20))})
                        THEN 1 ELSE 0 END AS is_b
            FROM documents),
        grain AS (
            SELECT bin,
                   CAST(SUM(1 - is_b) AS BIGINT) AS n_a,
                   CAST(SUM(is_b) AS BIGINT) AS n_b
            FROM binned GROUP BY bin),
        tot AS (SELECT SUM(n_a) AS t_a, SUM(n_b) AS t_b, COUNT(*) AS b_ct
                FROM grain)
        SELECT bin, n_a, n_b,
               ROUND((CAST(n_a + 1 AS DOUBLE) / CAST(t_a + b_ct AS DOUBLE)
                      - CAST(n_b + 1 AS DOUBLE) / CAST(t_b + b_ct AS DOUBLE))
                     * ln((CAST(n_a + 1 AS DOUBLE) / CAST(t_a + b_ct AS DOUBLE))
                          / (CAST(n_b + 1 AS DOUBLE)
                             / CAST(t_b + b_ct AS DOUBLE))), 9) AS psi_contrib
        FROM grain, tot ORDER BY bin""",
)
def q_psi_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin PSI contributions of the document-length distribution,
    src0-9 vs src10-19, Laplace-smoothed fixed 100-char bins — the
    monitoring scalar is the column sum, readable off the rows."""
    return psi_bins(load(spark, sf_dir, "documents")).orderBy("bin")
