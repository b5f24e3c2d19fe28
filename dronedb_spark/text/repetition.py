"""Within-document repetition signals — the Gopher-style quality gate.

Rae et al. 2021 (Gopher) filter documents whose text is dominated by
repeated n-grams: the share of the most frequent unigram and the mass of
duplicated bigrams are the first two of those signals.  They complement
`text/quality.py` (length/punct/stopword shape) and the cross-corpus
dedup family: this one looks INSIDE each document.

Counts are emitted as integers (the caller divides for ratios) so the
oracle comparison is exact — no cross-engine float summation anywhere.

Scale path: ONE scan — unigrams and bigrams are tagged structs in a
single exploded array, so the text is tokenized once — then the classic
two-phase shape: gram-count groupBy (map-side partial collapses repeated
grams before the shuffle) and per-doc tally.  Both keys contain doc_id,
so there is no cross-document hot key at any corpus size; the bigram
vocabulary explosion stays bounded by per-partition partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens


def repetition_metrics(documents: DataFrame) -> DataFrame:
    """Per doc: n_tokens, top-unigram count, n_bigrams, duplicated-bigram
    mass (sum of counts of bigrams occurring more than once in the doc)."""
    toks = documents.select("doc_id", tokens("text").alias("toks"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(
                    "toks", lambda t: F.struct(F.lit("u").alias("kind"), t.alias("gram"))
                ),
                F.zip_with(
                    F.expr("slice(toks, 1, size(toks) - 1)"),
                    F.expr("slice(toks, 2, size(toks) - 1)"),
                    lambda a, b: F.struct(
                        F.lit("b").alias("kind"), F.concat(a, F.lit(" "), b).alias("gram")
                    ),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.kind", "g.gram")
    cnt = grams.groupBy("doc_id", "kind", "gram").agg(F.count(F.lit(1)).alias("n"))
    is_u, is_b = F.col("kind") == "u", F.col("kind") == "b"
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum(F.when(is_u, F.col("n")).otherwise(0)).cast("bigint").alias("n_tokens"),
            F.max(F.when(is_u, F.col("n"))).cast("bigint").alias("top_unigram_n"),
            F.sum(F.when(is_b, F.col("n")).otherwise(0)).cast("bigint").alias("n_bigrams"),
            F.sum(F.when(is_b & (F.col("n") > 1), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("dup_bigram_n"),
        )
        .filter(F.col("n_bigrams") > 0)  # oracle's inner join drops 1-token docs
        .orderBy("doc_id")
    )


@check(
    "text_repetition_metrics",
    oracle="""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        uni AS (SELECT doc_id, u.t AS tok, COUNT(1) AS n
                FROM d, UNNEST(toks) AS u(t) GROUP BY 1, 2),
        uagg AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS top_unigram_n,
                        CAST(SUM(n) AS BIGINT) AS n_tokens
                 FROM uni GROUP BY 1),
        bi AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
               FROM d, UNNEST(range(1, len(toks))) AS t(i)),
        bcnt AS (SELECT doc_id, bg, COUNT(1) AS n FROM bi GROUP BY 1, 2),
        bagg AS (SELECT doc_id,
                        CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_bigram_n,
                        CAST(SUM(n) AS BIGINT) AS n_bigrams
                 FROM bcnt GROUP BY 1)
        SELECT u.doc_id AS doc_id, n_tokens, top_unigram_n, n_bigrams, dup_bigram_n
        FROM uagg u JOIN bagg b ON u.doc_id = b.doc_id
        ORDER BY doc_id""",
)
def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_metrics(load(spark, sf_dir, "documents"))
