"""BM25 relevance scoring (Robertson/Sparck Jones probabilistic
retrieval, the Okapi BM25 form) — score every document against a query
term set.  The training-data use: relevance-filter a crawl against a
seed query (or a centroid document's top terms) before expensive
downstream stages.

Beyond the reference (no text pipeline).  Scale design:

  * the token stream is LEFT-SEMI pruned to the query terms (broadcast,
    a handful of rows) BEFORE any aggregation — the per-(doc, term)
    tf shuffle carries only matching tokens, not the corpus;
  * document lengths are one narrow groupBy; the corpus-average length
    is a 1-row broadcast attach;
  * idf needs df(t) per query term — an aggregation of the pruned
    stream, term-count-sized.

Float discipline: idf/score use ln over integer counts and a bounded
sum of <=|query| terms — both engines bind the same libm on one host,
and scores are rounded to 6 dp on BOTH sides of the oracle compare
(the lm.py precedent)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

K1 = 1.2
B = 0.75


def bm25_scores(docs: DataFrame, query_terms: list[str], k1: float = K1, b: float = B) -> DataFrame:
    """(doc_id, score) for every document matching >= 1 query term.

    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)   (the non-negative form)
    score  = sum_t idf(t) * tf / (tf + k1 * (1 - b + b * dl / avgdl))
    """
    spark = docs.sparkSession
    q = F.broadcast(
        spark.createDataFrame([(t,) for t in query_terms], "tok string")
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    # r14 (guide §2.3/§2.4): document length is an IN-ROW size() over
    # the split array — the old ``toks.groupBy(doc_id).count()`` form
    # re-ran the corpus tokenize+explode for dl AND (via avgdl) a third
    # time, plus a token-grain aggregation, to compute what each row
    # already knows.  Docs with zero non-empty tokens are excluded to
    # match the exploded form (they contribute no token rows).  The
    # doc-grain sum keeps that form's semantics when a doc_id repeats:
    # one dl per doc_id (the rows' lengths added), so the tf join
    # cannot fan out and avgdl averages over distinct ids.
    dl = (
        docs.select(
            "doc_id",
            F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("dl"),
        )
        .filter(F.col("dl") > 0)
        .groupBy("doc_id")
        .agg(F.sum("dl").alias("dl"))
    )
    n_docs = docs.select(F.countDistinct("doc_id").alias("n"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    hits = toks.join(q, "tok", "inner")
    tf = hits.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # tf's grain IS (doc_id, tok), so a plain count is the distinct-doc
    # df — no countDistinct Expand (r14)
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.crossJoin(F.broadcast(n_docs)).select(
        "tok",
        F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0).alias("idf"),
    )
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "doc_id",
            (
                F.col("idf")
                * F.col("tf")
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("part"),
        )
    )
    return scored.groupBy("doc_id").agg(F.round(F.sum("part"), 6).alias("score"))


_QUERY = ["join", "hash", "shuffle"]


@check(
    "bm25_query_scores",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
        toks_ne AS (SELECT * FROM toks WHERE tok <> ''),
        q AS (SELECT unnest(['join', 'hash', 'shuffle']) AS tok),
        dl AS (SELECT doc_id, COUNT(1) AS dl FROM toks_ne GROUP BY doc_id),
        nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        ad AS (SELECT AVG(dl) AS avgdl FROM dl),
        tf AS (
            SELECT t.doc_id, t.tok, COUNT(1) AS tf
            FROM toks_ne t JOIN q USING (tok)
            GROUP BY t.doc_id, t.tok),
        dft AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
        idf AS (
            SELECT tok, ln((n - df + 0.5) / (df + 0.5) + 1.0) AS idf
            FROM dft CROSS JOIN nd),
        scored AS (
            SELECT tf.doc_id,
                   idf.idf * tf.tf
                   / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / ad.avgdl)) AS part
            FROM tf JOIN idf USING (tok)
            JOIN dl USING (doc_id) CROSS JOIN ad)
        SELECT doc_id, ROUND(SUM(part), 6) AS score
        FROM scored GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 50""",
)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        bm25_scores(load(spark, sf_dir, "documents"), _QUERY)
        .orderBy(F.desc("score"), "doc_id")
        .limit(50)
    )
