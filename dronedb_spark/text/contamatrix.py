"""Cross-corpus contamination matrix — WHICH SOURCE leaks into WHICH
benchmark: the (source × eval-set) grain composition of the three-
channel decontamination report (``text/decontamreport.py``) with the
per-source datasheet rollup (``text/datacard.py``).

A benchmark owner reads ``decontam_channel_report`` to learn a score
is contaminated; a data-pipeline owner needs the next question — which
ACQUISITION CHANNEL carries the leakage, so the fix lands upstream
(drop the source, re-crawl it decontaminated) rather than as a
per-item patch.  This operator answers it: for every (source,
eval-set) cell, how many distinct training items from that source any
channel flags against that set, the exact character mass those items
carry, and the leak rate as an exact-integer ppm of the source's total
mass.  The full source × set spine is emitted (zero cells included) —
the matrix is a report, and absent cells are the evidence a source is
clean.

Item attribution: the union of the three channels' (item, set) flags —
the same flag relations the report aggregates, reused verbatim.  A
planted excerpt (id ≥ 10⁹, ``decontamreport.training_corpus``)
attributes to its PARENT document's source: the excerpt is that
source's text leaking, and crediting a synthetic "plant" source would
hide exactly the attribution the matrix exists to surface.

Scale shape (100 TB): the three flag relations are already corpus-safe
(broadcast bench grams / df-capped postings / one Arrow pass — see
``decontamreport.py``); this operator adds ONE join of the collapsed
(item, set) flags against the corpus's (item → source, mass) relation
— item grain on the flag side, map-side semi-reducible — and the
spine crossJoin is |sources| × |sets| (both collapsed dimension
tables, broadcast).  Nothing here is data-sized beyond the one join.

Beyond the reference (no training-data surface there); composes
``decontam_channel_report`` × ``source_datacard``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.decontamreport import (
    EVAL_EVERY,
    EVAL_OFFSET,
    EXCERPT_OFFSET,
    N_SETS,
    _CHANNEL_CTES,
    _set_col,
    containment_flags,
    cosine_flags,
    eval_members,
    ngram_flags,
    training_corpus,
)


def corpus_with_source(docs: DataFrame) -> DataFrame:
    """(item_id, source, n_len): the audited corpus with source
    attribution — planted excerpts inherit the parent document's
    source (their text IS that source's leakage)."""
    base = docs.select(
        F.col("doc_id").alias("item_id"),
        "source",
        F.length("text").cast("bigint").alias("n_len"),
    )
    excerpts = docs.filter(
        F.col("doc_id") % EVAL_EVERY == EVAL_OFFSET
    ).select(
        (F.col("doc_id") + EXCERPT_OFFSET).alias("item_id"),
        "source",
        F.length(F.expr("substr(text, 30, 160)")).cast("bigint").alias("n_len"),
    )
    return base.unionByName(excerpts)


def contamination_matrix(docs: DataFrame, vectors: DataFrame) -> DataFrame:
    """(source, set_id, n_items, chars_flagged, n_source_items,
    source_chars, leak_ppm): the full source × eval-set leakage matrix
    — distinct flagged items and their exact char mass per cell, the
    source's corpus totals, and the leak rate in exact-integer ppm of
    the source's mass."""
    bench = eval_members(docs)
    corpus = training_corpus(docs)
    ev = vectors.filter(
        F.col("vec_id") % EVAL_EVERY == EVAL_OFFSET
    ).select(_set_col("vec_id").alias("set_id"), "embedding")
    # one shared tokenize for the n-gram + containment channels (r14,
    # the decontamreport fusion — see corpus_toks)
    from dronedb_spark.text.decontamreport import corpus_toks

    toks = corpus_toks(corpus)
    flags = (
        ngram_flags(corpus, bench, toks_df=toks)
        .unionByName(containment_flags(corpus, bench, toks_df=toks))
        .unionByName(cosine_flags(vectors, ev))
        .distinct()
    )
    src = corpus_with_source(docs)

    cells = (
        flags.join(src, "item_id")
        .groupBy("source", "set_id")
        .agg(
            F.countDistinct("item_id").cast("bigint").alias("n_items"),
            F.sum("n_len").cast("bigint").alias("chars_flagged"),
        )
    )
    totals = src.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_source_items"),
        F.sum("n_len").cast("bigint").alias("source_chars"),
    )
    spine = totals.select("source").crossJoin(
        F.broadcast(bench.select("set_id").distinct())
    )
    return (
        # cells is (source × set) grain — bounded; broadcast the attach
        spine.join(F.broadcast(cells), ["source", "set_id"], "left")
        .join(F.broadcast(totals), "source")
        .select(
            "source",
            "set_id",
            F.coalesce("n_items", F.lit(0)).cast("bigint").alias("n_items"),
            F.coalesce("chars_flagged", F.lit(0)).cast("bigint")
            .alias("chars_flagged"),
            "n_source_items",
            "source_chars",
            F.expr(
                "coalesce(chars_flagged, 0) * 1000000 DIV source_chars"
            ).cast("bigint").alias("leak_ppm"),
        )
        .orderBy("source", "set_id")
    )


@check(
    "contamination_matrix",
    small=True,
    oracle=f"""
        WITH {_CHANNEL_CTES},
        all_f AS (
            SELECT * FROM ngram_f
            UNION SELECT * FROM contain_f
            UNION SELECT * FROM cos_f),
        srced AS (
            SELECT doc_id AS item_id, source,
                   CAST(len(text) AS BIGINT) AS n_len
            FROM documents
            UNION ALL
            SELECT doc_id + {EXCERPT_OFFSET}, source,
                   CAST(len(substr(text, 30, 160)) AS BIGINT)
            FROM documents
            WHERE doc_id % {EVAL_EVERY} = {EVAL_OFFSET}),
        cells AS (
            SELECT s.source, f.set_id,
                   CAST(COUNT(DISTINCT f.item_id) AS BIGINT) AS n_items,
                   CAST(SUM(s.n_len) AS BIGINT) AS chars_flagged
            FROM all_f f JOIN srced s USING (item_id)
            GROUP BY 1, 2),
        totals AS (
            SELECT source,
                   CAST(COUNT(1) AS BIGINT) AS n_source_items,
                   CAST(SUM(n_len) AS BIGINT) AS source_chars
            FROM srced GROUP BY source),
        spine AS (
            SELECT t.source, v.set_id
            FROM totals t
            CROSS JOIN (SELECT DISTINCT CAST((doc_id // {EVAL_EVERY})
                                             % {N_SETS} AS INT) AS set_id
                        FROM documents
                        WHERE doc_id % {EVAL_EVERY} = {EVAL_OFFSET}) v)
        SELECT p.source, p.set_id,
               CAST(COALESCE(c.n_items, 0) AS BIGINT) AS n_items,
               CAST(COALESCE(c.chars_flagged, 0) AS BIGINT) AS chars_flagged,
               t.n_source_items, t.source_chars,
               CAST(CAST(COALESCE(c.chars_flagged, 0) AS BIGINT) * 1000000
                    // t.source_chars AS BIGINT) AS leak_ppm
        FROM spine p
        LEFT JOIN cells c ON c.source = p.source AND c.set_id = p.set_id
        JOIN totals t ON t.source = p.source
        ORDER BY p.source, p.set_id""",
)
def q_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The source × eval-set leakage matrix: which acquisition channel
    leaks into which benchmark, with exact char-mass and ppm rates."""
    docs = load(spark, sf_dir, "documents")
    vecs = load(spark, sf_dir, "embeddings")
    return contamination_matrix(docs, vecs)
