"""Cross-corpus segment-level dedup — the C4/RefinedWeb "line dedup" op.

C4 removes any three-sentence span that occurs more than once in the
corpus; RefinedWeb does the same at line level.  Corpus text here has no
sentence structure, so the unit is a non-overlapping 8-word segment:
every segment that occurs more than once ANYWHERE in the corpus is
flagged, and the per-document keep/drop tally is the check output (the
rewrite itself is a trivial filter over the same frame).

Scale path: tokenize → segment → one shuffle on segment text for the
occurrence count, one more to tally per document.  At 100 TB the
segment-count aggregation is the classic heavy-hitter reduce — partial
aggregation collapses the dup mass map-side; a hot segment (boilerplate
repeated millions of times) skews the count groupBy and AQE splits it.
No driver-side state anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

SEG_WORDS = 8


def corpus_segments(
    documents: DataFrame, seg_words: int = SEG_WORDS, tokens_barrier: bool = False
) -> DataFrame:
    """(doc_id, seg): non-overlapping ``seg_words``-token segments.

    Segmenting slices the token array inside a HOF lambda, and Catalyst
    re-inlines derived columns into lambdas (no CSE), so ``split`` is
    recomputed per segment — O(words²/seg_words) per document.  Measured
    at sf0.1 (short docs) that inline recompute is still the FASTEST plan
    (0.75 s vs 1.16 s with a barrier vs 1.4 s for posexplode+collect_list)
    because it avoids shuffling per-token rows entirely.  For corpora with
    long documents the quadratic term dominates; ``tokens_barrier=True``
    inserts an exchange after tokenization, which projection collapse
    cannot cross, making tokenization linear again at the cost of
    shuffling the token arrays once."""
    toks = documents.select("doc_id", tokens("text").alias("toks"))
    if tokens_barrier:
        toks = toks.repartition(documents.sparkSession.sparkContext.defaultParallelism)
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(toks)/{seg_words}.0) as int) - 1),"
                f" i -> array_join(slice(toks, i*{seg_words}+1, {seg_words}), ' '))"
            )
        ).alias("seg"),
    )


def segment_dedup_tally(documents: DataFrame, tokens_barrier: bool = False) -> DataFrame:
    """Per-document counts of corpus-duplicated vs unique segments.

    Occurrence counting is a WINDOW over the segment key, not a
    groupBy + join back (the ``substring.py`` discipline): the join
    formulation evaluates the whole segmentation subtree once per side
    — Catalyst has no common-subplan materialization across join
    inputs — while the window shuffles the segments once and counts in
    place.  Same exchange count, half the tokenize/segment compute."""
    from pyspark.sql import Window

    segs = corpus_segments(documents, tokens_barrier=tokens_barrier)
    return (
        segs.select(
            "doc_id",
            F.count(F.lit(1)).over(Window.partitionBy("seg")).alias("n_occ"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum((F.col("n_occ") > 1).cast("bigint")).alias("n_dup_segs"),
            F.sum((F.col("n_occ") == 1).cast("bigint")).alias("n_kept_segs"),
        )
        .orderBy("doc_id")
    )


_INFLATE = 10
_INFLATE_STRIDE = 10000000


def inflated_documents(documents: DataFrame, copies: int = _INFLATE) -> DataFrame:
    """The corpus × ``copies`` with re-keyed doc_ids — the bench/driver
    shape for exercising the segment-count shuffle at 10× the row mass
    (every segment becomes a corpus-wide duplicate, the C4 worst case of
    boilerplate-heavy crawls).  The copy dimension is a broadcast of
    ``copies`` rows, so inflation adds no shuffle of its own."""
    spark = documents.sparkSession
    ks = F.broadcast(spark.range(copies).select(F.col("id").alias("k")))
    return documents.select("doc_id", "text").crossJoin(ks).select(
        (F.col("doc_id") + F.col("k") * _INFLATE_STRIDE).alias("doc_id"), "text"
    )


@check(
    "dedup_corpus_segments_10x",
    oracle=f"""
        WITH corpus AS (
          SELECT doc_id + k.k * {_INFLATE_STRIDE} AS doc_id, text
          FROM documents, (SELECT unnest(range(0, {_INFLATE})) AS k) k),
        d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
        segs AS (
          SELECT doc_id, CAST(t.i AS BIGINT) AS seg_no,
                 array_to_string(toks[(t.i*8+1):(t.i*8+8)], ' ') AS seg
          FROM d, UNNEST(range(0, CAST(CEIL(len(toks) / 8.0) AS BIGINT))) AS t(i)
        ),
        counts AS (SELECT seg, COUNT(1) AS n_occ FROM segs GROUP BY seg)
        SELECT s.doc_id,
               CAST(COUNT(1) AS BIGINT) AS n_segs,
               CAST(SUM(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
               CAST(SUM(CASE WHEN c.n_occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_segs
        FROM segs s JOIN counts c ON s.seg = c.seg
        GROUP BY s.doc_id ORDER BY doc_id""",
)
def q_segment_dedup_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    return segment_dedup_tally(inflated_documents(load(spark, sf_dir, "documents")))


@check(
    "dedup_corpus_segments",
    oracle="""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        segs AS (
          SELECT doc_id, CAST(t.i AS BIGINT) AS seg_no,
                 array_to_string(toks[(t.i*8+1):(t.i*8+8)], ' ') AS seg
          FROM d, UNNEST(range(0, CAST(CEIL(len(toks) / 8.0) AS BIGINT))) AS t(i)
        ),
        counts AS (SELECT seg, COUNT(1) AS n_occ FROM segs GROUP BY seg)
        SELECT s.doc_id,
               CAST(COUNT(1) AS BIGINT) AS n_segs,
               CAST(SUM(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
               CAST(SUM(CASE WHEN c.n_occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_segs
        FROM segs s JOIN counts c ON s.seg = c.seg
        GROUP BY s.doc_id ORDER BY doc_id""",
)
def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return segment_dedup_tally(load(spark, sf_dir, "documents"))
