"""Source-precedence canonical merge — multi-source corpus union with
deterministic winner selection (beyond the reference; the merge step
of every multi-crawl training corpus: the same document arrives from
several feeds, and ONE copy must win by source priority, not arrival
order — Wikipedia-dump beats CommonCrawl copy beats mirror).

Rule: group by exact content fingerprint (md5 of the text); within a
group the copy with the smallest (priority, doc_id) wins — priority is
the numeric source rank (src0 outranks src1 …), doc_id breaks ties.
Expressed as one packed-MIN aggregate (the ``vectors/ivf.py`` argmin
discipline): zero-padded '<priority><doc_id>' strings MIN to the
winner, so the merge is ONE shuffle on the fingerprint — never a
window over the corpus, never a self-join.

The fixture corpus is dup-free, so the check plants cross-source
copies (every 7th document re-attributed 7 sources down, new ids) —
some plants outrank their originals and some don't, so both cede
directions are exercised.

Scale shape: fingerprint groupBy (one shuffle) + broadcast-joinable
winner set; per-source accounting is a second map-side-combinable
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

_COPY_OFFSET = 50_000
_SRC_SHIFT = 7
_N_SRC = 20


def precedence_merge(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_kept, n_ceded, kept_id_sum): the per-source
    outcome of the fingerprint-grouped priority merge.  n_ceded counts
    this source's copies beaten by a higher-priority (or lower-id)
    twin; kept_id_sum pins exactly which rows survived."""
    keyed = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("fp"),
        F.expr("CAST(substring(source, 4, 10) AS INT)").alias("prio"),
    )
    packed = keyed.select(
        "doc_id",
        "source",
        "fp",
        F.concat(
            F.lpad(F.col("prio").cast("string"), 4, "0"),
            F.lpad(F.col("doc_id").cast("string"), 12, "0"),
        ).alias("pk"),
    )
    winners = packed.groupBy("fp").agg(F.min("pk").alias("win_pk"))
    flagged = packed.join(winners, "fp").select(
        "source",
        "doc_id",
        (F.col("pk") == F.col("win_pk")).alias("kept"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_ceded"),
        F.sum(F.when(F.col("kept"), F.col("doc_id")).otherwise(0))
        .cast("bigint")
        .alias("kept_id_sum"),
    )


def _with_cross_source_copies(docs: DataFrame) -> DataFrame:
    """Corpus ∪ re-attributed copies of every 7th document: same text,
    new id (+50000), source shifted 7 ranks (mod 20) — the copy wins
    when its shifted source outranks the original's."""
    copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
        "text",
        "lang",
        F.concat(
            F.lit("src"),
            (
                (F.expr("CAST(substring(source, 4, 10) AS INT)") + _SRC_SHIFT)
                % _N_SRC
            ).cast("string"),
        ).alias("source"),
        "n_chars",
    )
    return docs.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
        copies
    )


@check(
    "precedence_merge",
    small=True,
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, text, source FROM documents
            UNION ALL
            SELECT doc_id + {_COPY_OFFSET},
                   text,
                   'src' || CAST((CAST(substr(source, 4, 10) AS INT)
                                  + {_SRC_SHIFT}) % {_N_SRC} AS VARCHAR)
            FROM documents WHERE doc_id % 7 = 0),
        packed AS (
            SELECT doc_id, source, md5(text) AS fp,
                   lpad(CAST(CAST(substr(source, 4, 10) AS INT) AS VARCHAR),
                        4, '0')
                   || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS pk
            FROM corpus),
        winners AS (
            SELECT fp, MIN(pk) AS win_pk FROM packed GROUP BY fp)
        SELECT p.source,
               CAST(COUNT(1) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN p.pk = w.win_pk THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN p.pk = w.win_pk THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_ceded,
               CAST(SUM(CASE WHEN p.pk = w.win_pk THEN p.doc_id ELSE 0 END)
                    AS BIGINT) AS kept_id_sum
        FROM packed p JOIN winners w ON w.fp = p.fp
        GROUP BY p.source ORDER BY p.source""",
)
def q_precedence_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The priority merge over the corpus with planted cross-source
    copies: every duplicate group resolves to its highest-priority
    copy (doc_id tiebreak), per-source kept/ceded accounting re-derived
    by the oracle."""
    corpus = _with_cross_source_copies(load(spark, sf_dir, "documents"))
    return precedence_merge(corpus).orderBy("source")
