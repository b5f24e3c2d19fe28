"""Split-conformal prediction calibration — the distribution-free
coverage guarantee an eval pipeline wraps around any point predictor
(public method: Vovk et al., "Algorithmic Learning in a Random World";
Angelopoulos & Bates 2021 tutorial).

Split conformal at miscoverage α: on a held-out CALIBRATION split
compute each record's nonconformity score, take

    q̂ = the k-th smallest score,   k = ⌈(n_cal + 1)·(1 − α)⌉

and predict the interval {y : score ≤ q̂} for new records; the marginal
coverage on exchangeable data is ≥ 1 − α by construction.  The audit
reports q̂ and the EMPIRICAL coverage on the disjoint test split.

Everything here is integer-exact: the predictor is the fixed linear
rule ŷ_tokens = n_chars / 6, so the nonconformity score
|n_tokens − n_chars/6| scales to the integer |6·n_tokens − n_chars|,
the order statistic is an integer, and coverage ships as an exact ppm
quotient — no float touches a decision boundary.

Scale shape: the k-th order statistic comes from the score HISTOGRAM
(one map-side-combinable aggregate to |distinct scores| rows) plus a
histogram-sized cumulative window — never a global sort of the
calibration split; the test pass is one more aggregate.  At 100 TB the
histogram is bounded by the score domain, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

ALPHA_PCT = 10  # miscoverage 0.10 as an exact integer percentage


def _scored(docs: DataFrame) -> DataFrame:
    """(doc_id, nc): the integer nonconformity |6·n_tokens − n_chars|
    of the fixed ŷ = n_chars/6 token-count predictor."""
    n_tok = F.size(tokens("text")).cast("bigint")
    return docs.select(
        "doc_id",
        F.abs(6 * n_tok - F.col("n_chars")).cast("bigint").alias("nc"),
    )


def conformal_coverage(docs: DataFrame, alpha_pct: int = ALPHA_PCT) -> DataFrame:
    """One row: (n_cal, k, qhat, n_test, n_covered, coverage_ppm) —
    calibrate on even doc_ids, report empirical coverage on odd."""
    scores = _scored(docs)
    cal = scores.filter(F.col("doc_id") % 2 == 0)
    test = scores.filter(F.col("doc_id") % 2 == 1)
    # k = ceil((n_cal + 1) * (100 - alpha) / 100), exact integer ceil
    hist = cal.groupBy("nc").agg(F.count(F.lit(1)).alias("cnt"))
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("nc"))
    )
    n_cal_df = cal.agg(F.count(F.lit(1)).alias("n_cal"))
    # integer ceil via DIV — never a double division near the boundary
    with_k = cum.crossJoin(F.broadcast(n_cal_df)).withColumn(
        "k", F.expr(f"CAST(((n_cal + 1) * {100 - alpha_pct} + 99) DIV 100 AS BIGINT)")
    )
    qhat = with_k.filter(F.col("cum") >= F.col("k")).agg(
        F.min("nc").alias("qhat"),
        F.min("k").alias("k"),
        F.min("n_cal").alias("n_cal"),
    )
    covered = test.crossJoin(F.broadcast(qhat)).agg(
        F.min("n_cal").cast("bigint").alias("n_cal"),
        F.min("k").cast("bigint").alias("k"),
        F.min("qhat").cast("bigint").alias("qhat"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.when(F.col("nc") <= F.col("qhat"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_covered"),
    )
    return covered.select(
        "n_cal",
        "k",
        "qhat",
        "n_test",
        "n_covered",
        F.expr("CAST(n_covered * 1000000 DIV n_test AS BIGINT)").alias(
            "coverage_ppm"
        ),
    )


@check(
    "conformal_coverage",
    small=True,
    oracle=f"""
        WITH scores AS (
            SELECT doc_id,
                   CAST(abs(6 * len(string_split(text, ' ')) - n_chars)
                        AS BIGINT) AS nc
            FROM documents),
        cal AS (SELECT nc FROM scores WHERE doc_id % 2 = 0),
        n AS (SELECT COUNT(*) AS n_cal FROM cal),
        k AS (SELECT n_cal,
                     CAST(((n_cal + 1) * (100 - {ALPHA_PCT}) + 99) // 100
                          AS BIGINT) AS k
              FROM n),
        hist AS (SELECT nc, COUNT(*) AS cnt FROM cal GROUP BY nc),
        cum AS (SELECT nc, SUM(cnt) OVER (ORDER BY nc) AS cum FROM hist),
        q AS (SELECT MIN(nc) AS qhat FROM cum, k WHERE cum >= k.k),
        test AS (SELECT nc FROM scores WHERE doc_id % 2 = 1)
        SELECT CAST(k.n_cal AS BIGINT) AS n_cal,
               CAST(k.k AS BIGINT) AS k,
               CAST(q.qhat AS BIGINT) AS qhat,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN test.nc <= q.qhat THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_covered,
               CAST(SUM(CASE WHEN test.nc <= q.qhat THEN 1 ELSE 0 END)
                    * 1000000 // COUNT(*) AS BIGINT) AS coverage_ppm
        FROM test, q, k GROUP BY k.n_cal, k.k, q.qhat""",
)
def q_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of the ŷ = n_chars/6 token-count
    predictor at α=0.10: the finite-sample quantile q̂ from the even-id
    calibration split and the exact empirical coverage on the odd-id
    test split (≥ ~90% on exchangeable halves)."""
    return conformal_coverage(load(spark, sf_dir, "documents"))
