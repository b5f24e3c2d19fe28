"""Bigram collocation mining by lift (pointwise mutual information
without the log — log is monotone, so top-k by lift IS top-k by PMI,
and dropping the transcendental keeps every ranking decision
engine-reproducible): which adjacent word pairs co-occur far more than
their unigram frequencies predict — the classic corpus-analysis
primitive (Church & Hanks 1990) used for tokenizer merge seeding,
phrase mining, and boilerplate discovery.

Exactness: counts are integers; lift = c_ab·N / (c_a·c_b) is computed
as the IDENTICAL double expression in both engines (multiplication and
division are correctly rounded IEEE ops — same operand sequence, same
bits), ties at the k-boundary break on the words.  A minimum pair
count keeps hapax noise out (standard practice: PMI is unstable at
tiny counts).

Scale shape: bigrams explode as a narrow zip of two shifted slices (no
Python); pair and unigram counts are map-side-combined groupBys; the
unigram tables join back BY KEY (two hash joins — the unigram
vocabulary is corpus-sized, so no broadcast pretense); N rides a
1-row broadcast; top-k is one window over the >=MIN_COUNT survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import words

MIN_COUNT = 5
TOP_K = 20

_LIFT = (
    "(CAST(c_ab AS DOUBLE) * CAST(n_total AS DOUBLE))"
    " / CAST(c_a AS DOUBLE) / CAST(c_b AS DOUBLE)"
)


def bigram_lift_topk(
    docs: DataFrame, k: int = TOP_K, min_count: int = MIN_COUNT
) -> DataFrame:
    """(w1, w2, c_ab, c_a, c_b, lift): the top-k adjacent pairs by lift
    among pairs seen at least ``min_count`` times."""
    toks = docs.select(words("text").alias("w"))
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.expr("slice(w, 1, greatest(size(w) - 1, 0))"),
                F.expr("slice(w, 2, greatest(size(w) - 1, 0))"),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c_ab = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = (
        pairs.select(F.col("w1").alias("w"))
        .union(pairs.select(F.col("w2").alias("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # unigram counts in BIGRAM SLOTS (each token counts once per slot it
    # fills) — the convention that makes sum(c)=2N and the lift scale-free
    n_total = c_ab.agg(F.sum("c_ab").alias("n_total"))
    j = (
        c_ab.filter(F.col("c_ab") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b")), "w2")
        .crossJoin(F.broadcast(n_total))
        .withColumn("lift", F.expr(_LIFT))
    )
    rk = F.row_number().over(
        Window.partitionBy().orderBy(F.desc("lift"), "w1", "w2")
    )
    return (
        j.withColumn("rk", rk)
        .filter(F.col("rk") <= k)
        .select(
            "w1", "w2",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.col("c_a").cast("bigint").alias("c_a"),
            F.col("c_b").cast("bigint").alias("c_b"),
            F.col("lift"),
        )
    )


@check(
    "bigram_lift_topk",
    oracle=f"""
        WITH w AS (
            SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
            FROM documents),
        pairs AS (
            SELECT w[i] AS w1, w[i + 1] AS w2
            FROM w, LATERAL (SELECT unnest(range(1, greatest(len(w), 1))) AS i) p),
        cab AS (SELECT w1, w2, COUNT(1) AS c_ab FROM pairs GROUP BY w1, w2),
        uni AS (
            SELECT w, COUNT(1) AS c FROM (
                SELECT w1 AS w FROM pairs UNION ALL SELECT w2 FROM pairs) u
            GROUP BY w),
        tot AS (SELECT SUM(c_ab) AS n_total FROM cab),
        lifted AS (
            SELECT c.w1, c.w2, c.c_ab, ua.c AS c_a, ub.c AS c_b,
                   {_LIFT} AS lift
            FROM cab c
            JOIN uni ua ON ua.w = c.w1
            JOIN uni ub ON ub.w = c.w2
            CROSS JOIN tot
            WHERE c.c_ab >= {MIN_COUNT}),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) AS rk
            FROM lifted)
        SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
               CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
               lift
        FROM ranked WHERE rk <= {TOP_K} ORDER BY rk""",
)
def q_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-pair collocations by lift over the corpus —
    counts integer-exact, the lift doubles bit-identical (same IEEE op sequence
    in both engines, emitted unrounded)."""
    return bigram_lift_topk(load(spark, sf_dir, "documents"))
