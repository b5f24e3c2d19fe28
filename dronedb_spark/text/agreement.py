"""Inter-annotator agreement — Cohen's kappa as EXACT INTEGER rational
sufficient statistics (beyond the reference; the eval-pipeline gate
every labeling/preference job runs before its labels train anything:
agreement below chance-corrected threshold → relabel).

kappa = (p_o − p_e) / (1 − p_e) with p_o = agree/T and
p_e = Σ_c r_c·s_c / T² is a RATIONAL in the confusion-matrix integers:

    kappa = (T·agree − Σ_c r_c·s_c) / (T² − Σ_c r_c·s_c)

so the check ships (kappa_num, kappa_den) — zero float ranking, the
``text/tfidf.py`` integer-quotient discipline.  The two annotators here
derive from independent text features (character-length class vs
token-count class) — genuinely correlated, genuinely imperfect — so
the operator plumbing (confusion build, marginal products, rational
kappa) runs on real disagreement; a production deployment swaps the
derivations for its label columns.

Scale shape: one corpus pass to per-doc labels, one aggregate to the
C×C confusion matrix (map-side combinable), driver-free rational
arithmetic on the C²-row result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import words

N_CLASSES = 3


def annotator_labels(docs: DataFrame) -> DataFrame:
    """(doc_id, a1, a2): the two derived annotators — a1 buckets
    character mass, a2 buckets whitespace-token mass, both clamped to
    ``N_CLASSES`` classes."""
    toks = F.size(words("text"))
    base = docs.select("doc_id", "n_chars", toks.cast("bigint").alias("ntok"))
    return base.select(
        "doc_id",
        F.least(F.expr("n_chars DIV 200"), F.lit(N_CLASSES - 1))
        .cast("int")
        .alias("a1"),
        F.least(F.expr("ntok DIV 30"), F.lit(N_CLASSES - 1))
        .cast("int")
        .alias("a2"),
    )


def cohen_kappa(labels: DataFrame) -> DataFrame:
    """(n_total, n_agree, pe_num, kappa_num, kappa_den): the exact
    rational agreement readout — pe_num = Σ_c r_c·s_c, kappa =
    kappa_num / kappa_den."""
    conf = labels.groupBy("a1", "a2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    r = conf.groupBy("a1").agg(F.sum("n").alias("r_c"))
    s = conf.groupBy("a2").agg(F.sum("n").alias("s_c"))
    pe = (
        r.join(s, r["a1"] == s["a2"])
        .agg(F.sum(F.expr("r_c * s_c")).cast("bigint").alias("pe_num"))
    )
    tot = conf.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("a1") == F.col("a2"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
    )
    return tot.join(F.broadcast(pe)).select(
        "n_total",
        "n_agree",
        F.coalesce("pe_num", F.lit(0)).cast("bigint").alias("pe_num"),
        F.expr("n_total * n_agree - COALESCE(pe_num, 0)")
        .cast("bigint")
        .alias("kappa_num"),
        F.expr("n_total * n_total - COALESCE(pe_num, 0)")
        .cast("bigint")
        .alias("kappa_den"),
    )


@check(
    "annotator_kappa",
    small=True,
    oracle=f"""
        WITH labels AS (
            SELECT doc_id,
                   LEAST(CAST(n_chars // 200 AS BIGINT), {N_CLASSES - 1}) AS a1,
                   LEAST(CAST(len(list_filter(string_split(text, ' '),
                                              t -> t <> '')) // 30 AS BIGINT),
                         {N_CLASSES - 1}) AS a2
            FROM documents),
        conf AS (
            SELECT a1, a2, CAST(COUNT(1) AS BIGINT) AS n
            FROM labels GROUP BY a1, a2),
        marg AS (
            SELECT CAST(SUM(r.r_c * s.s_c) AS BIGINT) AS pe_num
            FROM (SELECT a1, SUM(n) AS r_c FROM conf GROUP BY a1) r
            JOIN (SELECT a2, SUM(n) AS s_c FROM conf GROUP BY a2) s
              ON s.a2 = r.a1),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                   CAST(SUM(CASE WHEN a1 = a2 THEN n ELSE 0 END) AS BIGINT)
                       AS n_agree
            FROM conf)
        SELECT t.n_total, t.n_agree,
               COALESCE(m.pe_num, 0) AS pe_num,
               CAST(t.n_total * t.n_agree - COALESCE(m.pe_num, 0) AS BIGINT)
                   AS kappa_num,
               CAST(t.n_total * t.n_total - COALESCE(m.pe_num, 0) AS BIGINT)
                   AS kappa_den
        FROM tot t CROSS JOIN marg m""",
)
def q_annotator_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement between the two derived annotators as
    an exact integer rational — confusion totals, marginal product, and
    both kappa terms re-derived by the oracle."""
    return cohen_kappa(annotator_labels(load(spark, sf_dir, "documents")))
