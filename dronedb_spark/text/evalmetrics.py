"""Exact classifier evaluation — ROC-AUC and calibration bins for the
quality-filter scores the curation pipeline ranks documents by
(``text/classifier.py``, ``text/quality.py``).  A filter that keeps
the top-X% by score is only as good as the score's ranking power, so
the eval harness belongs next to the filters; no reference
counterpart (the reference has no learned components), public method:
Mann-Whitney/Wilcoxon rank statistic, Hanley & McNeil 1982.

Exactness discipline (the repo-wide rule: never float-sum or
float-rank where engines can drift):

* Scores are discretized to MICRO units (``floor(score·10⁶)`` as
  BIGINT) — the AUC is DEFINED on the discretized score, so tie
  handling is exact integer arithmetic, not float-equality luck.
* AUC avoids ranks entirely: with per-score positive/negative counts,
  ``2·numerator = 2·Σ concordant + Σ tied`` is a BIGINT, and the only
  float op is the single final division (identical operands → the
  same IEEE double in Spark and DuckDB).
* Calibration bins report INTEGER sufficient statistics (n, n_pos,
  sum of micro scores); callers derive rates driver-side.

Scale shape (the bounded-domain histogram trick, ``text/lengths.py``):
ONE map-side-combined ``groupBy(score_micro)`` collapses the corpus
to ≤ 10⁶ histogram rows; the concordant-pair prefix sum is a window
over THAT histogram, never over documents.  100 TB of scored docs
costs one data-sized shuffle; everything after is histogram-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

MICRO = 1_000_000
N_BINS = 10


def score_histogram(
    scored: DataFrame, score: Column, label: Column
) -> DataFrame:
    """(s, np_s, nn_s): per discretized score, positive and negative
    counts — the module's one data-sized shuffle."""
    return (
        scored.select(
            F.floor(score * F.lit(float(MICRO))).cast("bigint").alias("s"),
            F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("pos"),
        )
        .groupBy("s")
        .agg(
            F.sum("pos").cast("bigint").alias("np_s"),
            F.sum(1 - F.col("pos")).cast("bigint").alias("nn_s"),
        )
    )


def roc_auc(scored: DataFrame, score: Column, label: Column) -> DataFrame:
    """One row (n_pos, n_neg, num_x2, auc): exact Mann-Whitney AUC of
    ``score`` against boolean ``label`` on the micro-discretized score.
    ``num_x2 = 2·#(pos>neg) + #(pos==neg)`` (BIGINT);
    ``auc = num_x2 / (2·n_pos·n_neg)``."""
    hist = score_histogram(scored, score, label)
    w_below = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "np_s",
        "nn_s",
        F.coalesce(F.sum("nn_s").over(w_below), F.lit(0)).alias("nn_below"),
    )
    agg = cum.agg(
        F.sum("np_s").cast("bigint").alias("n_pos"),
        F.sum("nn_s").cast("bigint").alias("n_neg"),
        (
            F.sum(F.col("np_s") * F.col("nn_below") * 2)
            + F.sum(F.col("np_s") * F.col("nn_s"))
        ).cast("bigint").alias("num_x2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "num_x2",
        (
            F.col("num_x2").cast("double")
            / (F.lit(2).cast("bigint") * F.col("n_pos") * F.col("n_neg")).cast(
                "double"
            )
        ).alias("auc"),
    )


def calibration_bins(
    scored: DataFrame, score: Column, label: Column, n_bins: int = N_BINS
) -> DataFrame:
    """(bin, n, n_pos, sum_score_micro): equal-width reliability bins
    over [0, 1) with the top edge folded into the last bin — integer
    sufficient statistics only (empirical rate and mean confidence are
    single divisions away, driver-side)."""
    width = MICRO // n_bins
    s = F.floor(score * F.lit(float(MICRO))).cast("bigint")
    return (
        scored.select(
            s.alias("s"),
            F.when(label, F.lit(1)).otherwise(F.lit(0)).alias("pos"),
        )
        .select(
            F.expr(f"CAST(LEAST(s DIV {width}, {n_bins - 1}) AS BIGINT)")
            .alias("bin"),
            "s",
            "pos",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.sum("s").cast("bigint").alias("sum_score_micro"),
        )
    )


# ------------------------------------------------------------------ checks
#
# The demonstration score is the distinct-token ratio (feature x3 of
# the trained classifier, text/classifier.py) — a deterministic [0, 1]
# quality signal with real cross-document ties — against the en/not-en
# label the classifier trains on.

_SCORE_SQL = (
    "CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)"
    " / CAST(len(string_split(text, ' ')) AS DOUBLE)"
)
_HIST_SQL = f"""
    hist AS (
        SELECT CAST(FLOOR({_SCORE_SQL} * 1000000.0) AS BIGINT) AS s,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np_s,
               SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn_s
        FROM documents GROUP BY 1)
"""


def _score_col() -> Column:
    toks = tokens("text")
    return F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast(
        "double"
    )


@check(
    "classifier_roc_auc",
    oracle=f"""
        WITH {_HIST_SQL},
        cum AS (
            SELECT np_s, nn_s,
                   COALESCE(SUM(nn_s) OVER (ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS nn_below
            FROM hist),
        agg AS (
            SELECT CAST(SUM(np_s) AS BIGINT) AS n_pos,
                   CAST(SUM(nn_s) AS BIGINT) AS n_neg,
                   CAST(SUM(np_s * nn_below * 2) + SUM(np_s * nn_s)
                        AS BIGINT) AS num_x2
            FROM cum)
        SELECT n_pos, n_neg, num_x2,
               CAST(num_x2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE)
                   AS auc
        FROM agg""",
)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the distinct-token-ratio quality signal as an
    en/not-en discriminator: integer pair counting over the micro-
    discretized score histogram, one double division at the end."""
    docs = load(spark, sf_dir, "documents")
    return roc_auc(docs, _score_col(), F.col("lang") == "en")


@check(
    "classifier_calibration_bins",
    oracle=f"""
        WITH s AS (
            SELECT CAST(FLOOR({_SCORE_SQL} * 1000000.0) AS BIGINT) AS s,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
            FROM documents)
        SELECT CAST(LEAST(s // 100000, 9) AS BIGINT) AS bin,
               CAST(COUNT(1) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(s) AS BIGINT) AS sum_score_micro
        FROM s GROUP BY 1 ORDER BY 1""",
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten equal-width reliability bins of the same signal — integer
    sufficient statistics (count, positives, micro-score mass)."""
    docs = load(spark, sf_dir, "documents")
    return calibration_bins(docs, _score_col(), F.col("lang") == "en").orderBy(
        "bin"
    )


def pr_curve(
    scored: DataFrame, score: Column, label: Column
) -> DataFrame:
    """(s, tp, fp, fn, precision_micro, recall_micro): the EXACT
    precision/recall operating point at every distinct micro-score
    threshold (predict positive when score ≥ s) — the curve a filter
    owner reads to pick a cutoff, with none of the interpolation or
    sampling sklearn-style curves introduce.  Suffix sums over the same
    micro-score histogram ROC-AUC uses: the corpus collapses in ONE
    data-sized shuffle, and the threshold sweep is a window over the
    (distinct scores)-row histogram — at 100 TB the sweep costs the
    same as a single aggregate."""
    hist = score_histogram(scored, score, label)
    w_geq = Window.orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        "s",
        F.sum("np_s").over(w_geq).cast("bigint").alias("tp"),
        F.sum("nn_s").over(w_geq).cast("bigint").alias("fp"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # tp is cumulative: its max = n_pos.  An all-negative corpus makes
    # n_pos 0 — recall is then undefined; emit NULL explicitly in BOTH
    # dialects (DuckDB's // raises on 0, Spark's DIV silently NULLs —
    # without the CASE the engines diverge exactly when the metric is
    # degenerate).
    cum = cum.withColumn("n_pos", F.max("tp").over(w_all).cast("bigint"))
    return cum.select(
        "s",
        "tp",
        "fp",
        (F.col("n_pos") - F.col("tp")).cast("bigint").alias("fn"),
        F.expr("tp * 1000000 DIV (tp + fp)").cast("bigint").alias(
            "precision_micro"
        ),
        F.expr(
            "CASE WHEN n_pos = 0 THEN NULL"
            " ELSE tp * 1000000 DIV n_pos END"
        ).cast("bigint").alias("recall_micro"),
    )


@check(
    "classifier_pr_curve",
    small=True,
    oracle=f"""
        WITH {_HIST_SQL},
        cum AS (
            SELECT s,
                   CAST(SUM(np_s) OVER (ORDER BY s DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS tp,
                   CAST(SUM(nn_s) OVER (ORDER BY s DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS fp,
                   CAST(SUM(np_s) OVER () AS BIGINT) AS n_pos
            FROM hist)
        SELECT s, tp, fp,
               CAST(n_pos - tp AS BIGINT) AS fn,
               CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_micro,
               CAST(CASE WHEN n_pos = 0 THEN NULL
                         ELSE tp * 1000000 // n_pos END
                    AS BIGINT) AS recall_micro
        FROM cum ORDER BY s""",
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full exact PR sweep of the distinct-token-ratio quality
    signal as an en/not-en discriminator — one operating-point row per
    distinct micro-score."""
    docs = load(spark, sf_dir, "documents")
    return pr_curve(docs, _score_col(), F.col("lang") == "en").orderBy("s")
