"""Zipf rank-frequency power-law fit — the corpus-statistics audit that
quantifies how natural a source's token distribution is (Zipf 1949;
the log-log OLS estimator discussed in Clauset, Shalizi & Newman 2009,
"Power-law distributions in empirical data").

Per source: rank tokens by frequency (ties broken lexicographically —
deterministic), fit ln(freq) = intercept + slope·ln(rank) by CLOSED-FORM
ordinary least squares.  Natural text sits near slope ≈ −1; a source of
templated or machine-generated text shows a visibly flatter or steeper
slope, which makes the fit a cheap mixture-quality screen next to the
Gini balance and Benford audits.

Scale shape: one token-count aggregate to (source, tok) grain
(map-side combinable), ranking by a window INSIDE the source partition
over the VOCABULARY-sized count table (the corpus never sorts), then
one aggregate of the five OLS sufficient statistics (n, Σx, Σy, Σxy,
Σx²) as DECIMAL(38,15) — partition order cannot move the result; the
closed-form combine is four IEEE ops on the collapsed sums.  Output is
|sources| rows; results round at 6 dp because the OLS numerator and
denominator are DIFFERENCES of large sums (the one place the usual
9-dp discipline would sit too close to the decimal truncation floor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load, spread
from dronedb_spark.text.tokens import tokens


def token_ranks(docs: DataFrame) -> DataFrame:
    """(source, tok, n, rank): per-source frequency ranks, rank 1 = most
    frequent, ties lexicographic."""
    counts = (
        spread(docs)
        .select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), "tok")
    return counts.withColumn("rank", F.row_number().over(w))


def zipf_fit(docs: DataFrame) -> DataFrame:
    """(source, n_ranks, slope, intercept): per-source log-log OLS."""
    ranked = token_ranks(docs).select(
        "source",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    dec = lambda c: F.sum(c.cast("decimal(38,15)")).cast("double")  # noqa: E731
    suff = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ranks"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n_ranks").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return suff.select(
        "source",
        "n_ranks",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / n).alias("intercept"),
    )


@check(
    "zipf_rank_frequency_fit",
    small=True,
    oracle="""
        WITH toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents),
        counts AS (
            SELECT source, tok, COUNT(*) AS n FROM toks GROUP BY source, tok),
        ranked AS (
            SELECT source,
                   ln(CAST(ROW_NUMBER() OVER (PARTITION BY source
                                              ORDER BY n DESC, tok)
                           AS DOUBLE)) AS x,
                   ln(CAST(n AS DOUBLE)) AS y
            FROM counts),
        suff AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_ranks,
                   CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(x * y AS DECIMAL(38,15))) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(x * x AS DECIMAL(38,15))) AS DOUBLE) AS sxx
            FROM ranked GROUP BY source)
        SELECT source, n_ranks,
               ROUND((n_ranks * sxy - sx * sy)
                     / (n_ranks * sxx - sx * sx), 6) AS slope,
               ROUND((sy - ((n_ranks * sxy - sx * sy)
                            / (n_ranks * sxx - sx * sx)) * sx)
                     / n_ranks, 6) AS intercept
        FROM suff ORDER BY source""",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf slope/intercept by closed-form log-log OLS over
    the token rank-frequency table."""
    out = zipf_fit(load(spark, sf_dir, "documents"))
    return out.select(
        "source",
        "n_ranks",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
    ).orderBy("source")
