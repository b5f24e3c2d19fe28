"""Trained language identification — multinomial Naive Bayes over
hashed character trigrams, the fastText-lid ARCHITECTURE (Joulin et
al. 2017: hashed char-n-gram features + a linear model) with exact
cross-engine arithmetic.  Complements the marker-word heuristic
(``text/quality.py:lang_id``): the heuristic needs hand-picked words
per language; this model TRAINS from any labeled sample and scores
any number of languages.

Math (all engine-stable):

    feature     = md5-hashed char trigram → B=64 buckets
    llr[b, l]   = ln(c[b,l] + 1) − ln(Σ_b c[b,l] + B)   (add-one)
    prior[l]    = ln(n_l) − ln(N)
    score(d, l) = prior[l] + Σ_b c_d[b] · llr[b, l]
    pred(d)     = argmax_l score, ties → lexicographically first lang

Per-(doc, lang) sums accumulate as DECIMAL(38,15) (the ``text/lm.py``
parity discipline — partial-aggregation order cannot move a digit) and
the argmax orders on the DECIMAL, so predictions are bit-deterministic
across engines, partitionings, and cluster sizes.

Scale shape: training collapses the labeled sample to a (langs × 64)
model table in one explode + map-side-combined groupBy; the model
BROADCASTS to the scoring join, scoring is one explode + groupBy over
the corpus (the only data-sized shuffle), and the argmax is a
per-doc-partitioned window over |langs| rows per doc.  Trigram strings
materialize only inside one codegen'd explode — the md5 runs row-wise
AFTER the explode, never inside a re-inlined lambda (the measured
``text/substring.py`` trap).

The fixture corpus draws the same vocabulary for every lang label, so
driver-check predictions collapse toward the prior — the check pins
the COMPUTATION exactly; discrimination on genuinely distinct
languages is pinned by tests/test_langid.py's planted corpora.

No reference counterpart; cites the public fastText-lid recipe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

B = 64
SEED = "lid1"


def _bucket(col: Column) -> Column:
    h = F.md5(F.concat(F.lit(SEED + ":"), col))
    return F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % B


def char_trigram_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket, c): hashed char-trigram bag per document.
    Docs shorter than 3 chars contribute nothing (both dialects)."""
    from dronedb_spark.tables import spread

    # the per-gram md5 is the dominant cost — run it at full
    # parallelism, not on the scan's (often single-file) partitioning
    tri = (
        spread(docs).filter(F.length("text") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 2),"
                    " i -> substring(text, i, 3))"
                )
            ).alias("g"),
        )
    )
    return (
        tri.select("doc_id", _bucket(F.col("g")).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def langid_model(
    labeled: DataFrame, spark: SparkSession, counts: DataFrame | None = None
) -> DataFrame:
    """(lang, bucket, t_c, llr, prior): the trained NB table over the
    full (langs × B) spine — absent buckets carry the smoothed ratio.
    Pass ``counts`` (a precomputed ``char_trigram_buckets``) when the
    same corpus also gets PREDICTED — the featurization is the
    dominant cost and must not run twice (the check path shares it via
    ``barrier_persist``)."""
    cnt = (
        (counts if counts is not None else char_trigram_buckets(labeled))
        .join(labeled.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "bucket")
        .agg(F.sum("c").cast("bigint").alias("t_c"))
    )
    langs = labeled.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    spine = langs.crossJoin(
        spark.range(B).select(F.col("id").cast("int").alias("bucket"))
    )
    # cnt is (lang × bucket) grain — bounded model state; broadcast it
    # so the spine attach is a BroadcastHashJoin, not a sort-merge
    m = spine.join(F.broadcast(cnt), ["lang", "bucket"], "left").select(
        "lang",
        "bucket",
        "n_docs",
        F.coalesce("t_c", F.lit(0)).cast("bigint").alias("t_c"),
    )
    tot = m.groupBy("lang").agg(F.sum("t_c").alias("tot"))
    n_all = F.broadcast(langs.agg(F.sum("n_docs").alias("n_all")))
    return (
        m.join(F.broadcast(tot), "lang")
        .crossJoin(n_all)
        .select(
            "lang",
            "bucket",
            "t_c",
            (F.log(F.col("t_c") + 1.0) - F.log(F.col("tot") + float(B))).alias(
                "llr"
            ),
            (F.log(F.col("n_docs").cast("double")) - F.log(F.col("n_all").cast("double"))).alias(
                "prior"
            ),
        )
    )


def langid_predict(
    docs: DataFrame, model: DataFrame, counts: DataFrame | None = None
) -> DataFrame:
    """(doc_id, pred_lang, score): the argmax NB prediction per doc —
    DECIMAL-summed scores, decimal-ordered ties broken by lang."""
    cnt = counts if counts is not None else char_trigram_buckets(docs)
    scores = (
        cnt.join(F.broadcast(model.select("lang", "bucket", "llr", "prior")), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            (
                F.sum((F.col("c") * F.col("llr")).cast("decimal(38,15)"))
                + F.first("prior").cast("decimal(38,15)")
            ).alias("score_dec")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_dec").desc(), F.col("lang").asc()
    )
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("pred_lang"),
            F.round(F.col("score_dec").cast("double"), 9).alias("score"),
        )
    )


# ---------------------------------------------------------------- oracles

_D_TRI = """
    tri AS (
        SELECT doc_id, substr(text, CAST(i.i AS INT), 3) AS g
        FROM documents, LATERAL (SELECT unnest(range(1, len(text) - 1)) AS i) i
        WHERE len(text) >= 3),
    bk AS (
        SELECT doc_id,
               CAST(CAST('0x' || substr(md5('lid1:' || g), 1, 2) AS BIGINT)
                    % 64 AS INT) AS bucket
        FROM tri),
    doc_counts AS (
        SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM bk GROUP BY doc_id, bucket)
"""

_D_MODEL = """
    lcnt AS (
        SELECT d.lang, c.bucket, SUM(c.c) AS t_c
        FROM doc_counts c JOIN documents d USING (doc_id)
        GROUP BY d.lang, c.bucket),
    langs AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM documents GROUP BY lang),
    n_all AS (SELECT SUM(n_docs) AS n FROM langs),
    spine AS (
        SELECT l.lang, l.n_docs, CAST(b.b AS INT) AS bucket
        FROM langs l, (SELECT unnest(range(0, 64)) AS b) b),
    m0 AS (
        SELECT s.lang, s.bucket, s.n_docs,
               CAST(COALESCE(c.t_c, 0) AS BIGINT) AS t_c
        FROM spine s LEFT JOIN lcnt c
          ON s.lang = c.lang AND s.bucket = c.bucket),
    tots AS (SELECT lang, SUM(t_c) AS tot FROM m0 GROUP BY lang),
    model AS (
        SELECT m0.lang, m0.bucket, m0.t_c,
               ln(m0.t_c + 1.0) - ln(t.tot + 64.0) AS llr,
               ln(CAST(m0.n_docs AS DOUBLE))
                   - ln(CAST((SELECT n FROM n_all) AS DOUBLE)) AS prior
        FROM m0 JOIN tots t ON m0.lang = t.lang)
"""


@check(
    "langid_nb_model",
    oracle=f"""
        WITH {_D_TRI}, {_D_MODEL}
        SELECT lang, bucket, t_c, ROUND(llr, 9) AS llr,
               ROUND(prior, 9) AS prior
        FROM model ORDER BY lang, bucket""",
)
def q_langid_nb_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained NB table — every (lang, bucket) count, log-ratio,
    and prior value-checked."""
    docs = load(spark, sf_dir, "documents")
    m = langid_model(docs, spark)
    return m.select(
        "lang", "bucket", "t_c", F.round("llr", 9).alias("llr"),
        F.round("prior", 9).alias("prior"),
    ).orderBy("lang", "bucket")


@check(
    "langid_nb_predictions",
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
        SELECT doc_id, lang, score_dec,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score_dec DESC, lang) AS rn
        FROM scored)
        SELECT r.doc_id, r.lang AS pred_lang,
               ROUND(CAST(r.score_dec AS DOUBLE), 9) AS score,
               d.lang = r.lang AS is_correct
        FROM ranked r JOIN documents d USING (doc_id)
        WHERE rn = 1 ORDER BY r.doc_id""",
)
def q_langid_nb_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-train + self-score on the labeled fixture: every
    document's argmax prediction and decimal-exact score (the fixture
    text is vocabulary-identical across labels, so this pins the exact
    computation; discrimination is pytest-pinned on distinct planted
    languages)."""
    from dronedb_spark.tables import barrier_persist

    docs = load(spark, sf_dir, "documents")
    # ONE featurization for train + predict (the expensive subtree)
    counts = barrier_persist(char_trigram_buckets(docs))
    model = langid_model(docs, spark, counts=counts)
    pred = langid_predict(docs, model, counts=counts)
    return (
        pred.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "pred_lang",
            "score",
            (F.col("lang") == F.col("pred_lang")).alias("is_correct"),
        )
        .orderBy("doc_id")
    )
