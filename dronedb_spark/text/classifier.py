"""Linear quality-classifier training — the learned half of a
CCNet-style filter (beyond the reference; public method: the
fastText/linear quality classifiers used alongside perplexity
filtering in LLM data pipelines).

Ridge regression over per-document quality features reduces to
SUFFICIENT STATISTICS, like PCA (vectors/pca.py): the normal equations
need only G = XᵀX and b = Xᵀy — k² + k scalars, accumulated by ONE
aggregation over the corpus with every product a JVM column
expression.  The driver solves the k×k system with numpy and the
fitted weights go back into a plain column expression for scoring —
training and inference each touch the corpus exactly once, and nothing
row-sized ever moves to the driver.

Features are the existing quality signals (text/quality.py) plus the
unigram-LM cross-entropy if provided; the demonstration target is the
corpus' language label (en vs not), the same shape as training against
a curated-vs-crawl label.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens


def feature_cols() -> list[tuple[str, Column]]:
    """Named feature expressions over a documents table — scaled to
    O(1) so the Gram matrix stays well-conditioned."""
    text = F.col("text")
    toks = tokens(text)
    n_tok = F.size(toks).cast("double")
    return [
        ("bias", F.lit(1.0)),
        ("log_tokens", F.log(n_tok + 1.0)),
        ("mean_tok_len", F.length(text).cast("double") / n_tok),
        ("distinct_ratio", F.size(F.array_distinct(toks)).cast("double") / n_tok),
        ("digit_ratio",
         (F.length(text) - F.length(F.regexp_replace(text, r"[0-9]", ""))).cast("double")
         / F.length(text).cast("double")),
    ]


def gram_rows(docs: DataFrame, label: Column) -> DataFrame:
    """→ (i, j, s): one aggregation carrying G = XᵀX (j ≥ 0), b = Xᵀy
    (j = −1), and n (i = −1, j = −1) — the full training state."""
    feats = feature_cols()
    aggs = []
    for i, (_, fi) in enumerate(feats):
        for j, (_, fj) in enumerate(feats):
            if j < i:
                continue  # symmetric: store the upper triangle
            aggs.append(F.sum(fi * fj).alias(f"g_{i}_{j}"))
        aggs.append(F.sum(fi * label.cast("double")).alias(f"b_{i}"))
    aggs.append(F.count(F.lit(1)).cast("double").alias("n_rows"))
    row = docs.agg(*aggs)
    k = len(feats)
    cells = []
    for i in range(k):
        for j in range(i, k):
            cells.append(F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"),
                                  F.col(f"g_{i}_{j}").alias("s")))
        cells.append(F.struct(F.lit(i).alias("i"), F.lit(-1).alias("j"),
                              F.col(f"b_{i}").alias("s")))
    cells.append(F.struct(F.lit(-1).alias("i"), F.lit(-1).alias("j"),
                          F.col("n_rows").alias("s")))
    return row.select(F.explode(F.array(*cells)).alias("c")).select(
        "c.i", "c.j", "c.s"
    )


def fit_ridge(docs: DataFrame, label: Column, l2: float = 1e-3) -> np.ndarray:
    """Solve (G + λI)w = b on the driver (k×k, k = #features)."""
    rows = gram_rows(docs, label).collect()
    k = max(r["i"] for r in rows) + 1
    g = np.zeros((k, k))
    b = np.zeros(k)
    for r in rows:
        if r["i"] == -1:
            continue
        if r["j"] == -1:
            b[r["i"]] = r["s"]
        else:
            g[r["i"], r["j"]] = g[r["j"], r["i"]] = r["s"]
    return np.linalg.solve(g + l2 * np.eye(k), b)


def score(docs: DataFrame, weights: np.ndarray) -> DataFrame:
    """+ quality_score column: the fitted linear form as one column
    expression (inference is free at any scale)."""
    feats = feature_cols()
    expr = F.lit(0.0)
    for w, (_, fc) in zip(weights, feats):
        expr = expr + float(w) * fc
    return docs.withColumn("quality_score", expr)


# ------------------------------------------------------------------ check

_GRAM_ORACLE = """
    WITH f AS (
        SELECT 1.0 AS x0,
               ln(CAST(len(string_split(text, ' ')) AS DOUBLE) + 1.0) AS x1,
               CAST(length(text) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x3,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                    AS DOUBLE) / CAST(length(text) AS DOUBLE) AS x4,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM documents
    ),
    cells AS (
        SELECT i.i, j.j,
               CASE
                 WHEN j.j = -1 THEN SUM(CASE i.i
                     WHEN 0 THEN x0*y WHEN 1 THEN x1*y WHEN 2 THEN x2*y
                     WHEN 3 THEN x3*y ELSE x4*y END)
                 ELSE SUM((CASE i.i WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x2
                           WHEN 3 THEN x3 ELSE x4 END)
                        * (CASE j.j WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x2
                           WHEN 3 THEN x3 ELSE x4 END))
               END AS s
        FROM f,
             (SELECT unnest(range(0, 5)) AS i) i,
             (SELECT unnest([-1, 0, 1, 2, 3, 4]) AS j) j
        WHERE j.j = -1 OR j.j >= i.i
        GROUP BY i.i, j.j
    )
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, ROUND(s, 9) AS s FROM cells
    UNION ALL
    SELECT -1, -1, CAST(COUNT(*) AS DOUBLE) FROM f
    ORDER BY i, j"""


@check("quality_feature_gram", oracle=_GRAM_ORACLE)
def q_quality_feature_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-pass training state of the linear quality filter: the
    upper-triangle Gram matrix, the feature-label moments, and the row
    count — every cell pinned against the relational statement."""
    docs = load(spark, sf_dir, "documents")
    out = gram_rows(docs, F.col("lang") == "en")
    return out.select("i", "j", F.round("s", 9).alias("s")).orderBy("i", "j")
