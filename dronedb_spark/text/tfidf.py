"""Per-source characteristic terms by rational TF-IDF — "what is this
source ABOUT, relative to the rest of the corpus?", the corpus-card
summary row next to the quality/domain rollups.

Exactness discipline: the score is the INTEGER micro-quotient
``(tf · 1_000_000) DIV df`` — tf/df ranking is order-isomorphic to any
monotone idf transform for fixed N, and the integer quotient makes the
ranking bit-deterministic across engines (a float ``tf·log(N/df)``
could flip at the last ulp between libm implementations and change a
top-k edge).  Ties break by term ASC.

Scale shape: term frequencies are one map-side-combinable aggregate on
(source, tok); document frequencies reuse the same aggregate's
partitioning (distinct sources per token is a second grouping of the
SAME shuffled rows); the per-source top-k is the bounded rank window
over |S| partitions.  No data-sized join — the df table joins back on
the token key both sides already shuffle on."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

TOP_K = 5


def tfidf_topterms(docs: DataFrame, k: int = TOP_K) -> DataFrame:
    """(source, rank, tok, tf, df, score_micro): top-k terms per source
    by the integer micro-quotient score."""
    toks = docs.select("source", F.explode(tokens("text")).alias("tok"))
    tf = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    # df as ONE window pass over the tf rows (COUNT OVER the token
    # partition) — a groupBy + join back would re-evaluate the tf
    # subtree once per join side and cost an extra exchange (the
    # package's measured DF-cap lesson)
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("tok")).cast("bigint")
    ).withColumn("score_micro", F.expr("(tf * 1000000) DIV df"))
    w = Window.partitionBy("source").orderBy(
        F.desc("score_micro"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("source", "rank", "tok", "tf", "df", "score_micro")
    )


@check(
    "tfidf_topterms",
    oracle=f"""
        WITH toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents),
        tf AS (
            SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks GROUP BY source, tok),
        df AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        scored AS (
            SELECT t.source, t.tok, t.tf, d.df,
                   CAST((t.tf * 1000000) // d.df AS BIGINT) AS score_micro
            FROM tf t JOIN df d ON d.tok = t.tok),
        ranked AS (
            SELECT source, tok, tf, df, score_micro,
                   CAST(ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY score_micro DESC, tok ASC) AS BIGINT) AS rank
            FROM scored)
        SELECT source, rank, tok, tf, df, score_micro
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY source, rank""",
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per source by the integer rational
    TF-IDF score — frequency in the source over spread across sources,
    rank ties broken lexically."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    return tfidf_topterms(docs).orderBy("source", "rank")
