"""Krippendorff's alpha — the ≥2-coder generalization of the
``text/agreement.py`` Cohen's kappa (Krippendorff 1970/2004, the
content-analysis standard): chance-corrected agreement over a panel of
annotators, the gate a labeling job with MORE than two raters runs
before its labels train anything.

For binary ratings from a fixed panel of m coders per unit the whole
statistic is RATIONAL in integer sufficient statistics: with
S = Σ_u n_u0·n_u1 (per-unit disagreement coincidence, the 1/(m−1)
factor exact at m = 3 where 2/(m−1) = 1), n = m·U pairable values and
n_0/n_1 the value totals,

    alpha = 1 − (S/n) / (2·n_0·n_1 / (n(n−1)))
          = (2·n_0·n_1 − S·(n−1)) / (2·n_0·n_1)

so the check ships (alpha_num, alpha_den) — zero float ranking, the
kappa module's integer-quotient discipline; negative alpha (worse than
chance) keeps its exact sign, which a truncating cross-engine DIV
would corrupt.  The three coders derive from independent text
features (language, character mass, token mass) — real disagreement
through the real plumbing; production swaps in its label columns.

Scale shape: one corpus pass to per-unit (n_u0, n_u1), one map-side-
combinable aggregate to the five scalars — the cheapest possible
panel audit, no per-coder shuffle, no unit×unit work.

Beyond the reference (no labeling surface there); siblings:
``annotator_kappa`` (2-coder), ``kanonymity_audit``,
``classifier_roc_auc``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import words

M_CODERS = 3
CHAR_CUT = 400
TOK_CUT = 60


def coder_ratings(docs: DataFrame) -> DataFrame:
    """(doc_id, c1, c2, c3): the derived binary panel — language,
    character-mass, token-mass coders."""
    toks = F.size(words("text"))
    return docs.select(
        "doc_id",
        # NULL-safe: (lang == 'en') is NULL for a NULL lang and would
        # silently drop the unit from n_zero/n_one/s_disagree while
        # n_units still counts it; the oracle's CASE WHEN yields 0, so
        # both dialects must agree on NULL -> 0 (r12 advisory).
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("c1"),
        F.when(F.col("n_chars") >= CHAR_CUT, 1).otherwise(0).alias("c2"),
        F.when(toks >= TOK_CUT, 1).otherwise(0).alias("c3"),
    )


def krippendorff_alpha(ratings: DataFrame) -> DataFrame:
    """(n_units, n_zero, n_one, s_disagree, alpha_num, alpha_den): the
    exact rational alpha readout; alpha = alpha_num / alpha_den, NULL
    numerator/denominator when one value class is absent (alpha is
    undefined on a unanimous corpus)."""
    per_u = ratings.select(
        F.expr("c1 + c2 + c3").cast("bigint").alias("n1")
    ).select("n1", (F.lit(M_CODERS) - F.col("n1")).alias("n0"))
    agg = per_u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("n0").cast("bigint").alias("n_zero"),
        F.sum("n1").cast("bigint").alias("n_one"),
        F.sum(F.expr("n0 * n1")).cast("bigint").alias("s_disagree"),
    )
    return agg.select(
        "n_units",
        "n_zero",
        "n_one",
        "s_disagree",
        F.expr(
            "CASE WHEN n_zero = 0 OR n_one = 0 THEN NULL"
            f" ELSE 2 * n_zero * n_one"
            f"      - s_disagree * ({M_CODERS} * n_units - 1) END"
        ).cast("bigint").alias("alpha_num"),
        F.expr(
            "CASE WHEN n_zero = 0 OR n_one = 0 THEN NULL"
            " ELSE 2 * n_zero * n_one END"
        ).cast("bigint").alias("alpha_den"),
    )


@check(
    "krippendorff_alpha",
    small=True,
    oracle=f"""
        WITH ratings AS (
            SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END
                        + CASE WHEN n_chars >= {CHAR_CUT} THEN 1 ELSE 0 END
                        + CASE WHEN len(list_filter(string_split(text, ' '),
                                        x -> x <> '')) >= {TOK_CUT}
                               THEN 1 ELSE 0 END AS BIGINT) AS n1
            FROM documents),
        agg AS (
            SELECT CAST(COUNT(1) AS BIGINT) AS n_units,
                   CAST(SUM({M_CODERS} - n1) AS BIGINT) AS n_zero,
                   CAST(SUM(n1) AS BIGINT) AS n_one,
                   CAST(SUM(({M_CODERS} - n1) * n1) AS BIGINT) AS s_disagree
            FROM ratings)
        SELECT n_units, n_zero, n_one, s_disagree,
               CAST(CASE WHEN n_zero = 0 OR n_one = 0 THEN NULL
                         ELSE 2 * n_zero * n_one
                              - s_disagree * ({M_CODERS} * n_units - 1) END
                    AS BIGINT) AS alpha_num,
               CAST(CASE WHEN n_zero = 0 OR n_one = 0 THEN NULL
                         ELSE 2 * n_zero * n_one END
                    AS BIGINT) AS alpha_den
        FROM agg""",
)
def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rational Krippendorff's alpha over the derived 3-coder
    binary panel — the multi-rater agreement gate."""
    return krippendorff_alpha(coder_ratings(load(spark, sf_dir, "documents")))
