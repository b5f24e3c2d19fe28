"""Multiclass classifier evaluation — the per-class F1 report over the
trained language-ID model's own predictions (the standard multiclass
readout: one-vs-rest confusion per class, F1 = 2·tp/(2·tp+fp+fn); van
Rijsbergen's F-measure, macro-averaged by reading the per-class rows).

Completes the eval family the binary operators started:
``classifier_roc_auc``/``classifier_pr_curve`` sweep a binary score,
``annotator_kappa``/``krippendorff_alpha`` audit the labels; this
operator audits a MULTICLASS predictor.  Everything ships as EXACT
INTEGERS: per class the true/predicted support, the one-vs-rest
(tp, fp, fn) triple, and F1 as the rational (f1_num, f1_den) =
(2·tp, 2·tp + fp + fn) — zero float ranking (the ``tfidf``/``kappa``
integer-quotient discipline); a class with no mass on either side
would be NULL, guarded in both dialects.

The predictor under test is the real ``text/langid.py`` NB pipeline
(train + score on the labeled fixture — the `langid_nb_predictions`
computation), so the report exercises the full chain: hashed-trigram
features → decimal-exact scoring → argmax → confusion → rational F1.

Scale shape: the prediction join is the langid plan (one data-sized
shuffle); the report itself is three map-side-combinable aggregates
collapsed to CLASS grain (|langs| rows) and a class-spine full outer
join — nothing downstream of the predictor is data-sized.

Beyond the reference (no eval surface there); siblings:
``langid_nb_predictions``, ``classifier_pr_curve``, ``retrieval_mrr``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import barrier_persist, load
from dronedb_spark.text.langid import (
    _D_MODEL,
    _D_TRI,
    char_trigram_buckets,
    langid_model,
    langid_predict,
)


def multiclass_f1(pred: DataFrame, truth: DataFrame) -> DataFrame:
    """(lang, n_true, n_pred, tp, fp, fn, f1_num, f1_den): the
    one-vs-rest confusion and rational F1 per class.  ``pred`` carries
    (doc_id, pred_lang); ``truth`` carries (doc_id, lang)."""
    j = pred.select("doc_id", "pred_lang").join(
        truth.select("doc_id", F.col("lang").alias("true_lang")), "doc_id"
    )
    # ONE pass over j: collapse to the (true, pred) confusion matrix at
    # |langs|² grain and read n_true / n_pred / tp as its marginals.
    # The previous shape ran three independent aggregates over j, and
    # j's lineage — the full NB scoring plan upstream of the persisted
    # featurization — executed three times per report.
    from dronedb_spark.tables import barrier_persist as _bp

    cm = _bp(
        j.groupBy("true_lang", "pred_lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
    )
    t = cm.groupBy(F.col("true_lang").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_true")
    )
    p = cm.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_pred")
    )
    tp = (
        cm.filter(F.col("pred_lang") == F.col("true_lang"))
        .groupBy(F.col("true_lang").alias("lang"))
        .agg(F.sum("n").cast("bigint").alias("tp"))
    )
    spine = (
        t.join(p, "lang", "full_outer")
        .join(tp, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    return spine.select(
        "lang",
        "n_true",
        "n_pred",
        "tp",
        (F.col("n_pred") - F.col("tp")).cast("bigint").alias("fp"),
        (F.col("n_true") - F.col("tp")).cast("bigint").alias("fn"),
        F.expr(
            "CASE WHEN n_pred + n_true = 0 THEN NULL"
            " ELSE 2 * tp END"
        ).cast("bigint").alias("f1_num"),
        F.expr(
            "CASE WHEN n_pred + n_true = 0 THEN NULL"
            " ELSE n_pred + n_true END"
        ).cast("bigint").alias("f1_den"),
    )


@check(
    "multiclass_f1_report",
    small=True,
    oracle=f"""
        WITH {_D_TRI}, {_D_MODEL},
    scored AS (
        SELECT c.doc_id, m.lang,
               CAST(SUM(CAST(c.c * m.llr AS DECIMAL(38,15)))
                    + CAST(ANY_VALUE(m.prior) AS DECIMAL(38,15))
                    AS DECIMAL(38,15)) AS score_dec
        FROM doc_counts c JOIN model m ON c.bucket = m.bucket
        GROUP BY c.doc_id, m.lang),
    ranked AS (
        SELECT doc_id, lang AS pred_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score_dec DESC, lang) AS rn
        FROM scored),
    j AS (
        SELECT r.doc_id, r.pred_lang, d.lang AS true_lang
        FROM ranked r JOIN documents d USING (doc_id) WHERE rn = 1),
    t AS (SELECT true_lang AS lang, CAST(COUNT(1) AS BIGINT) AS n_true
          FROM j GROUP BY 1),
    p AS (SELECT pred_lang AS lang, CAST(COUNT(1) AS BIGINT) AS n_pred
          FROM j GROUP BY 1),
    tp AS (SELECT true_lang AS lang, CAST(COUNT(1) AS BIGINT) AS tp
           FROM j WHERE pred_lang = true_lang GROUP BY 1),
    cls AS (
        SELECT COALESCE(t.lang, p.lang) AS lang,
               CAST(COALESCE(t.n_true, 0) AS BIGINT) AS n_true,
               CAST(COALESCE(p.n_pred, 0) AS BIGINT) AS n_pred
        FROM t FULL OUTER JOIN p ON t.lang = p.lang)
        SELECT s.lang, s.n_true, s.n_pred,
               CAST(COALESCE(tp.tp, 0) AS BIGINT) AS tp,
               CAST(s.n_pred - COALESCE(tp.tp, 0) AS BIGINT) AS fp,
               CAST(s.n_true - COALESCE(tp.tp, 0) AS BIGINT) AS fn,
               CAST(CASE WHEN s.n_pred + s.n_true = 0 THEN NULL
                         ELSE 2 * COALESCE(tp.tp, 0) END AS BIGINT) AS f1_num,
               CAST(CASE WHEN s.n_pred + s.n_true = 0 THEN NULL
                         ELSE s.n_pred + s.n_true END AS BIGINT) AS f1_den
        FROM cls s LEFT JOIN tp ON tp.lang = s.lang
        ORDER BY s.lang""",
)
def q_multiclass_f1_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-train + self-score the NB language-ID model, then the
    per-class one-vs-rest confusion and rational F1 — the multiclass
    eval readout over the real predictor chain."""
    docs = load(spark, sf_dir, "documents")
    counts = barrier_persist(char_trigram_buckets(docs))
    model = langid_model(docs, spark, counts=counts)
    pred = langid_predict(docs, model, counts=counts)
    return multiclass_f1(pred, docs).orderBy("lang")
