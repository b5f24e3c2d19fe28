"""Per-source quantile normalization of quality scores — map each
source's score distribution onto the GLOBAL distribution so one
threshold means the same thing everywhere (per-source score drift is
the classic failure of a single global cutoff when sources were scored
by different classifier versions or have different length profiles;
quantile normalization is the standard fix, e.g. Bolstad et al. 2003
in another domain).  Composes with the domain caps and the quality
filters: normalize first, threshold once.

Exactness discipline: scores discretize to micro units (the
``text/evalmetrics.py`` contract); the mapping is pure RANK
arithmetic — a document at type-1 quantile q of its source maps to the
global type-1 quantile at the same q:
``value = min { v : cum_global(v) ≥ ceil(rank_src · N_global / n_src) }``
— all BIGINTs, no interpolation, engines cannot drift.

Scale shape: the global distribution collapses to the bounded
micro-score histogram (≤ 10⁶ rows) with a cumulative window over THAT;
per-source ranks are one window per source over the data; the mapping
join is rank-vs-cumulative (range joinable; here the histogram
broadcast serves as the lookup side).  One data-sized shuffle for the
ranks, histogram-sized work after.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

MICRO = 1_000_000


def quantile_normalize(
    scored: DataFrame, group: str, score_micro: Column
) -> DataFrame:
    """(doc_id, group, score_micro, rank_in_group, n_group,
    norm_score_micro): every document's score replaced by the global
    score at its within-group quantile."""
    base = scored.select(
        "doc_id", F.col(group).alias("g"), score_micro.alias("s")
    )
    w = Window.partitionBy("g").orderBy("s", "doc_id")
    ranked = base.select(
        "doc_id",
        "g",
        "s",
        F.row_number().over(w).cast("bigint").alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).cast("bigint").alias("n"),
    )
    hist = base.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w_cum = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        F.col("s").alias("gs"),
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(wall).alias("n_global"),
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("cum_below"),
    )
    # target global rank = ceil(r * N / n); the mapped value is the
    # histogram bucket whose cumulative range covers that rank
    joined = ranked.join(
        F.broadcast(cum),
        F.expr("(r * n_global + n - 1) DIV n > cum_below")
        & F.expr("(r * n_global + n - 1) DIV n <= cum"),
        "inner",
    )
    return joined.select(
        "doc_id",
        F.col("g").alias(group),
        F.col("s").alias("score_micro"),
        F.col("r").alias("rank_in_group"),
        F.col("n").alias("n_group"),
        F.col("gs").alias("norm_score_micro"),
    )


_SCORE_SQL = (
    "CAST(FLOOR(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)"
    " / CAST(len(string_split(text, ' ')) AS DOUBLE) * 1000000.0) AS BIGINT)"
)


@check(
    "quantile_normalize_scores",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, source AS g, {_SCORE_SQL} AS s FROM documents),
        ranked AS (
            SELECT doc_id, g, s,
                   CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY s, doc_id)
                        AS BIGINT) AS r,
                   CAST(COUNT(1) OVER (PARTITION BY g) AS BIGINT) AS n
            FROM base),
        hist AS (SELECT s, COUNT(1) AS cnt FROM base GROUP BY s),
        cum AS (
            SELECT s AS gs,
                   SUM(cnt) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(cnt) OVER () AS n_global,
                   COALESCE(SUM(cnt) OVER (ORDER BY s ROWS BETWEEN
                       UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_below
            FROM hist)
        SELECT rk.doc_id, rk.g AS source, rk.s AS score_micro,
               rk.r AS rank_in_group, rk.n AS n_group,
               CAST(c.gs AS BIGINT) AS norm_score_micro
        FROM ranked rk JOIN cum c
          ON (rk.r * c.n_global + rk.n - 1) // rk.n > c.cum_below
         AND (rk.r * c.n_global + rk.n - 1) // rk.n <= c.cum
        ORDER BY rk.doc_id""",
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's distinct-token-ratio score mapped to the global
    score at the same within-source quantile — pure BIGINT rank
    arithmetic, one row per document (the mapping join is pytest-pinned
    to cover every rank exactly once)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens("text")
    score_spark = F.floor(
        F.size(F.array_distinct(toks)).cast("double")
        / F.size(toks).cast("double")
        * 1000000.0
    ).cast("bigint")
    return quantile_normalize(docs, "source", score_spark).orderBy("doc_id")
