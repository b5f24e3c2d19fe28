"""Per-source data cards — the governance rollup a training-data
pipeline publishes alongside a corpus (Gebru et al.'s "Datasheets for
Datasets"; every serious corpus release ships one): for each ingest
source, the volume, language, duplication, and lexical-quality facts a
consumer reads before deciding whether (and at what weight) to mix the
source in.

All statistics are exact integers so both engines agree bit-for-bit:
token counts from whitespace splits, the majority language by a
lexicographic struct MAX over (count, lang) — deterministic tie-break,
no SQL-dialect-specific mode() semantics — exact-duplicate mass from
md5(text) group sizes WITHIN the source (the ``dedup_exact_groups``
channel collapsed to source grain), and the mean distinct-token ratio
as an integer micro quotient (per-doc micro DIV'd, then source-mean
DIV'd — the ``text/tfidf.py`` integer-quotient discipline).

Scale shape: one corpus pass fans into two map-side-combinable
aggregates — (source, text-hash) for the duplicate channel and source
for everything else — joined at SOURCE grain (rows = distinct sources,
model-state-sized).  No window over the corpus, no driver collect;
at 100 TB this is two shuffles of pre-combined partials.

Beyond the reference (no training-data governance surface there);
siblings: ``table_stats_profile`` (column grain),
``gini_source_balance`` (mixture skew), ``domain_quality_rollup``
(domain grain), ``dedup_exact_groups`` (the duplicate channel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens


def source_datacard(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_tokens, sum_chars, n_langs, top_lang,
    n_exact_dup_docs, mean_distinct_micro): the per-source datasheet
    row."""
    from dronedb_spark.tables import barrier_persist

    toks = tokens("text")
    per_doc = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(toks).cast("bigint").alias("ntok"),
        F.call_function(
            "div", F.size(F.array_distinct(toks)).cast("bigint") * 1000000, F.size(toks)
        ).alias("distinct_micro"),
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    # per_doc feeds THREE aggregates (base, language mode, dup rollup):
    # materialize once instead of three corpus passes.  NO spread here —
    # measured at sf0.1 the repartition exchange costs more than the
    # light per-row work it parallelizes (0.62 s plain vs 1.45 s spread;
    # spread pays only for heavy per-row kernels like langid's md5 loop)
    per_doc = barrier_persist(per_doc)
    base = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.expr(
            "sum(distinct_micro) DIV count(1)"
        ).cast("bigint").alias("mean_distinct_micro"),
    )
    lang_counts = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    top_lang = lang_counts.groupBy("source").agg(
        F.max(F.struct(F.col("c"), F.col("lang").alias("l")))["l"].alias(
            "top_lang"
        )
    )
    dup = (
        per_doc.groupBy("source", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_exact_dup_docs")
        )
    )
    return (  # source-grain attaches: broadcast, never sort-merge
        base.join(F.broadcast(top_lang), "source")
        .join(F.broadcast(dup), "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "sum_chars",
            "n_langs",
            "top_lang",
            "n_exact_dup_docs",
            "mean_distinct_micro",
        )
    )


@check(
    "source_datacard",
    small=True,
    oracle="""
        WITH per_doc AS (
            SELECT source, lang, n_chars,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                       * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
                       AS distinct_micro,
                   md5(text) AS h
            FROM documents),
        base AS (
            SELECT source,
                   CAST(COUNT(1) AS BIGINT) AS n_docs,
                   CAST(SUM(ntok) AS BIGINT) AS n_tokens,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(SUM(distinct_micro) // COUNT(1) AS BIGINT)
                       AS mean_distinct_micro
            FROM per_doc GROUP BY source),
        lc AS (
            SELECT source, lang, CAST(COUNT(1) AS BIGINT) AS c
            FROM per_doc GROUP BY source, lang),
        tl AS (
            SELECT source,
                   (MAX(struct_pack(c := c, l := lang))).l AS top_lang
            FROM lc GROUP BY source),
        dup AS (
            SELECT source,
                   CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c ELSE 0 END), 0)
                        AS BIGINT) AS n_exact_dup_docs
            FROM (SELECT source, h, COUNT(1) AS c
                  FROM per_doc GROUP BY source, h)
            GROUP BY source)
        SELECT b.source, b.n_docs, b.n_tokens, b.sum_chars, b.n_langs,
               t.top_lang, d.n_exact_dup_docs, b.mean_distinct_micro
        FROM base b
        JOIN tl t ON t.source = b.source
        JOIN dup d ON d.source = b.source
        ORDER BY b.source""",
)
def q_source_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One datasheet row per ingest source: volume, language spread,
    majority language, exact-duplicate mass, lexical-diversity mean."""
    return source_datacard(load(spark, sf_dir, "documents")).orderBy("source")
