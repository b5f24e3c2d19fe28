"""Corpus-composition statistics for training-data curation — three
questions a 100 TB ingest answers before (and after) buying more data:

* **Saturation curve** (``saturation_scaling_curve``): how much NEW
  vocabulary does each additional slice of the corpus contribute?
  Docs are assigned to ``N_BUCKETS`` deterministic md5 deciles (the
  sampling discipline used package-wide — no RNG, layout-independent)
  and every distinct token is attributed to the FIRST bucket containing
  it; cumulative counts over the bucket axis are the data-scaling
  ("diminishing novelty") curve of Hestness/Kaplan-style data studies,
  computed exactly instead of by subsampled re-runs.

* **Novelty profile** (``ngram_novelty_profile``): per document (in
  doc_id order — ingestion order), how many of its distinct 3-grams
  were never seen in any earlier document.  The dedup-adjacent "is new
  data still new?" signal; a crawl whose novel fraction collapses is
  re-crawling itself.

* **Cross-source overlap** (``cross_source_overlap``): the pairwise
  shared-3-gram matrix between sources — which feeds contamination and
  provenance review (who mirrors whom).

Scale shapes: all three are ONE data-sized shuffle each (group by token
or gram), then bounded-size aggregates — bucket axis is constant (10
rows), doc axis is corpus-row-sized, source-pair axis is |S|² with
|S| bounded (a catalog dimension, not data).  First-occurrence
attribution is a MIN aggregate, never a self-join; the overlap join's
per-gram fan-out is capped by ``MAX_GRAM_SOURCES`` (a gram in every
source is boilerplate and tells nothing about pairwise provenance —
the winnowing MAX_DF discipline)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load, register_views
from dronedb_spark.text.tokens import tokens

N_BUCKETS = 10
MAX_GRAM_SOURCES = 10  # grams in more sources than this are boilerplate

_GRAM3_SPARK = """
    zip_with(zip_with(slice(toks, 1, size(toks) - 2),
                      slice(toks, 2, size(toks) - 2), (x, y) -> concat(x, ' ', y)),
             slice(toks, 3, size(toks) - 2), (x, y) -> concat(x, ' ', y))
"""

_GRAM3_DUCK = """
    SELECT {keys}, array_to_string(t[p.pos : p.pos + 2], ' ') AS gram
    FROM (SELECT {keys}, string_split(text, ' ') AS t FROM {src}) s,
         LATERAL (SELECT unnest(range(1, len(t) - 1)) AS pos) p
    WHERE len(t) >= 3
"""


def _doc_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, source, gram): DISTINCT 3-grams per document."""
    toks = docs.select("doc_id", "source", tokens("text").alias("toks"))
    return (
        toks.filter(F.size("toks") >= 3)
        .select(
            "doc_id", "source", F.explode(F.expr(_GRAM3_SPARK)).alias("gram")
        )
        .distinct()
    )


# ------------------------------------------------- saturation curve --


def saturation_curve(docs: DataFrame, n_buckets: int = N_BUCKETS) -> DataFrame:
    """(bucket, n_docs, new_tokens, cum_tokens): deterministic decile
    slices and the distinct-3-gram vocabulary each adds (3-grams, not
    unigrams: a corpus can exhaust its word list in the first slice
    while its PHRASE space keeps growing — the gram curve is the one
    that actually bends)."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % n_buckets
    )
    toks = (
        docs.select(bucket.alias("bucket"), tokens("text").alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("bucket", F.explode(F.expr(_GRAM3_SPARK)).alias("tok"))
    )
    first = toks.groupBy("tok").agg(F.min("bucket").alias("first_bucket"))
    news = first.groupBy("first_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_tokens")
    )
    ndocs = docs.select(bucket.alias("first_bucket")).groupBy("first_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ndocs.join(news, "first_bucket", "left")
        .select(
            F.col("first_bucket").cast("bigint").alias("bucket"),
            "n_docs",
            F.coalesce("new_tokens", F.lit(0)).alias("new_tokens"),
        )
        .withColumn("cum_tokens", F.sum("new_tokens").over(w).cast("bigint"))
    )


@check(
    "saturation_scaling_curve",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, text,
                   CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                        AS BIGINT) % {N_BUCKETS} AS BIGINT) AS bucket
            FROM documents),
        toks AS (
            SELECT bucket, array_to_string(t[p.pos : p.pos + 2], ' ') AS tok
            FROM (SELECT bucket, string_split(text, ' ') AS t FROM b) s,
                 LATERAL (SELECT unnest(range(1, len(t) - 1)) AS pos) p
            WHERE len(t) >= 3),
        first AS (
            SELECT tok, MIN(bucket) AS first_bucket FROM toks GROUP BY tok),
        news AS (
            SELECT first_bucket, CAST(COUNT(*) AS BIGINT) AS new_tokens
            FROM first GROUP BY first_bucket),
        ndocs AS (
            SELECT bucket AS first_bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM b GROUP BY bucket)
        SELECT CAST(d.first_bucket AS BIGINT) AS bucket, d.n_docs,
               CAST(COALESCE(n.new_tokens, 0) AS BIGINT) AS new_tokens,
               CAST(SUM(COALESCE(n.new_tokens, 0)) OVER
                    (ORDER BY d.first_bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tokens
        FROM ndocs d LEFT JOIN news n ON n.first_bucket = d.first_bucket
        ORDER BY bucket""",
)
def q_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-saturation curve over 10 deterministic md5 deciles of the
    corpus: documents per slice, distinct 3-grams first seen in each
    slice, and the cumulative gram vocabulary — the marginal novelty of
    more data."""
    return saturation_curve(load(spark, sf_dir, "documents")).orderBy("bucket")


# -------------------------------------------------- novelty profile --


def novelty_profile(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, n_novel, novel_permille): distinct-3-gram
    novelty vs all EARLIER docs (doc_id order).  First-occurrence
    attribution is one MIN aggregate per gram — counting grams whose
    min doc IS this doc gives per-doc novel counts with no self-join."""
    dg = _doc_grams(docs)
    per_doc = dg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    novel = (
        dg.groupBy("gram")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        )
        .withColumn(
            "novel_permille",
            F.expr("(n_novel * 1000) DIV n_grams"),
        )
    )


@check(
    "ngram_novelty_profile",
    oracle=f"""
        WITH dg AS (
            SELECT DISTINCT doc_id, gram FROM (
                {_GRAM3_DUCK.format(keys="doc_id", src="documents")}) g),
        per_doc AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
            FROM dg GROUP BY doc_id),
        novel AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel FROM (
                SELECT gram, MIN(doc_id) AS doc_id FROM dg GROUP BY gram) m
            GROUP BY doc_id)
        SELECT p.doc_id, p.n_grams,
               CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
               CAST((COALESCE(n.n_novel, 0) * 1000) // p.n_grams AS BIGINT)
                   AS novel_permille
        FROM per_doc p LEFT JOIN novel n ON n.doc_id = p.doc_id
        ORDER BY p.doc_id""",
)
def q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty against everything ingested before
    it: total distinct grams, first-ever grams, and the integer
    permille ratio — the 'is the crawl still finding new text?' row."""
    register_views(spark, sf_dir, ["documents"])
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return novelty_profile(docs).orderBy("doc_id")


# ---------------------------------------------- cross-source overlap --


def cross_source_overlap(
    docs: DataFrame, max_gram_sources: int = MAX_GRAM_SOURCES
) -> DataFrame:
    """(src_a, src_b, n_shared): distinct 3-grams shared by each source
    pair (src_a < src_b).  Grams present in more than
    ``max_gram_sources`` sources are boilerplate and excluded IN
    OPERATOR (one window pass — the lsh_calibration/winnow df-cap
    discipline), which also bounds the self-join fan-out per gram."""
    sg = (
        _doc_grams(docs)
        .select("source", "gram")
        .distinct()
        .withColumn("nsrc", F.count(F.lit(1)).over(Window.partitionBy("gram")))
        .filter(F.col("nsrc") <= max_gram_sources)
        .drop("nsrc")
    )
    a = sg.select(F.col("source").alias("src_a"), "gram")
    b = sg.select(F.col("source").alias("src_b"), "gram")
    return (
        a.join(b, "gram")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


@check(
    "cross_source_overlap",
    oracle=f"""
        WITH sg0 AS (
            SELECT DISTINCT source, gram FROM (
                {_GRAM3_DUCK.format(keys="source", src="documents")}) g),
        sg AS (
            SELECT source, gram FROM (
                SELECT source, gram,
                       COUNT(*) OVER (PARTITION BY gram) AS nsrc
                FROM sg0) x
            WHERE nsrc <= {MAX_GRAM_SOURCES})
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
        GROUP BY a.source, b.source
        ORDER BY src_a, src_b""",
)
def q_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shared-3-gram counts between sources (boilerplate grams
    in >10 sources dropped in-operator) — the provenance/contamination
    matrix of the corpus."""
    register_views(spark, sf_dir, ["documents"])
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return cross_source_overlap(docs).orderBy("src_a", "src_b")
