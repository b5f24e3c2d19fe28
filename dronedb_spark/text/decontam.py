"""Benchmark decontamination — flag training documents that share long
n-grams with an evaluation/benchmark set.

The standard LLM-pipeline step (PaLM/GPT-3 style 8-gram overlap): any
training doc containing an n-gram that also appears in a benchmark doc is
contaminated and must be dropped or flagged before training.

Scale design (100 TB): benchmark suites are tiny (MBs) next to the
corpus, so the benchmark n-gram set is a broadcast relation; the corpus
side explodes to one row per n-gram and semi-joins WITHOUT a shuffle of
the corpus (broadcast hash join), then re-aggregates per doc_id — the
only shuffle is the per-doc count, keyed by doc_id.  No driver-side set,
no UDF: shingling is `transform(sequence(...))` column algebra.

The synthetic fixture takes every 17th doc as the "benchmark" so the
check is deterministic and has mass at any SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

N_GRAM = 4


def _grams(toks: F.Column, n: int = N_GRAM) -> F.Column:
    """All n-grams of a token array (empty when the doc is shorter than n).

    slice() inside the lambda re-slices the derived array per element
    (Catalyst does no CSE in HOF lambdas) — measured acceptable for
    short documents (see segdedup.py's counterpoint note); for long-doc
    corpora add a persist barrier upstream.
    """
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def benchmark_ngrams(docs: DataFrame, every: int = 17, offset: int = 3) -> DataFrame:
    """The benchmark-side n-gram relation (distinct grams of every
    ``every``-th doc) — small by construction; marked broadcast at the
    join site."""
    toks = tokens("text")
    return (
        docs.filter(F.col("doc_id") % every == offset)
        .select(F.explode(_grams(toks)).alias("gram"))
        .distinct()
    )


def decontaminate(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """Per-doc contamination counts against the benchmark n-gram set."""
    from dronedb_spark.tables import spread

    toks = tokens("text")
    exploded = spread(docs).select(
        "doc_id", F.explode(_grams(toks)).alias("gram")
    )
    hits = (
        exploded.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contam"))
    )
    totals = docs.select(
        "doc_id",
        F.greatest(F.size(toks) - (N_GRAM - 1), F.lit(0)).cast("long").alias("n_grams"),
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_contam"), F.lit(0)).cast("long").alias("n_contam"),
            (F.coalesce(F.col("n_contam"), F.lit(0)) > 0).cast("int").alias("is_contaminated"),
        )
        .orderBy("doc_id")
    )


@check(
    "decontam_overlap",
    oracle="""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        ng AS (
            SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
            FROM tok, UNNEST(range(1, len(toks) - 2)) AS u(i)),
        bench AS (
            SELECT DISTINCT gram FROM ng WHERE doc_id % 17 = 3),
        hits AS (
            SELECT ng.doc_id, COUNT(*) AS n_contam
            FROM ng JOIN bench USING (gram) GROUP BY ng.doc_id)
        SELECT t.doc_id,
               CAST(GREATEST(len(t.toks) - 3, 0) AS BIGINT) AS n_grams,
               CAST(COALESCE(h.n_contam, 0) AS BIGINT) AS n_contam,
               CAST(COALESCE(h.n_contam, 0) > 0 AS INT) AS is_contaminated
        FROM tok t LEFT JOIN hits h ON t.doc_id = h.doc_id
        ORDER BY t.doc_id""",
)
def q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return decontaminate(docs, benchmark_ngrams(docs))
