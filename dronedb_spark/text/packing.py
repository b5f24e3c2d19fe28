"""Sequence packing — the concat-and-chunk step that turns a filtered
corpus into fixed-length training sequences (beyond the reference;
the standard "sample packing" preprocessing of LLM training runs).

Documents are concatenated in deterministic ``doc_id`` order and split
into consecutive ``seq_len``-token chunks; a document can span several
chunks and a chunk usually holds pieces of several documents.  The
whole computation is relational:

  1. exclusive prefix sum of per-doc token counts → each doc's global
     token offset;
  2. each doc explodes to the chunk ids it overlaps
     (``floor(start/L) .. floor((end-1)/L)`` — a tiny ``sequence``);
  3. one groupBy(chunk) for the roster stats.

Scale design — the prefix sum is the only global dependency, and a
single-partition window would serialize it.  ``running_offsets`` is the
classic TWO-PHASE distributed scan: range-repartition on the order key,
sum each partition, broadcast the (tiny, one row per partition)
cumulative partition offsets back, and finish with an intra-partition
window.  Wall-clock is two narrow passes regardless of corpus size; no
stage ever sees more than its own partition plus P scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens


def running_offsets(df: DataFrame, order_col: str, value_col: str,
                    out_col: str = "offset") -> DataFrame:
    """Exclusive prefix sum of ``value_col`` in ``order_col`` order,
    distributed: range partition → per-partition totals → broadcast
    cumulative offsets → intra-partition running sum."""
    part = df.repartitionByRange(
        max(df.sparkSession.sparkContext.defaultParallelism, 2), F.col(order_col)
    ).withColumn("_pid", F.spark_partition_id())
    ptot = part.groupBy("_pid").agg(F.sum(value_col).alias("_psum"))
    # exclusive cumsum over the (one row per partition) totals — tiny
    w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    poff = ptot.select(
        "_pid", F.coalesce(F.sum("_psum").over(w), F.lit(0)).alias("_poff")
    )
    wi = Window.partitionBy("_pid").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        part.join(F.broadcast(poff), "_pid")
        .withColumn(
            out_col,
            F.col("_poff") + F.coalesce(F.sum(value_col).over(wi), F.lit(0)),
        )
        .drop("_pid", "_poff")
    )


def doc_spans(docs: DataFrame) -> DataFrame:
    """→ (doc_id, n_tok, start) in doc_id concat order."""
    toks = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    return running_offsets(toks, "doc_id", "n_tok", "start")


def pack_sequences(docs: DataFrame, seq_len: int) -> DataFrame:
    """→ one row per training chunk: (chunk_id, n_docs, first_doc,
    last_doc, n_tokens); the last chunk may be short."""
    spans = doc_spans(docs)
    # corpus token total == max(start + n_tok) == plain SUM(n_tok) for an
    # exclusive prefix sum — computed with one narrow aggregate over the
    # token counts instead of a second reference to the prefix-sum
    # relation (r14, guide §2.4: the spans subtree re-ran its range
    # exchange + window per reference; materializing it instead measured
    # SLOWER than this re-derivation — see OPTIMIZATION_r14.md)
    total = docs.select(F.size(tokens("text")).cast("long").alias("n_tok")).agg(
        F.sum("n_tok").alias("_total")
    )
    chunks = spans.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.expr(f"start div {seq_len}"),  # integer div: exact past 2^53
                F.expr(f"(start + n_tok - 1) div {seq_len}"),
            )
        ).alias("chunk_id"),
    )
    return (
        chunks.groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "chunk_id", "n_docs", "first_doc", "last_doc",
            (F.least((F.col("chunk_id") + 1) * seq_len, F.col("_total"))
             - F.col("chunk_id") * seq_len).alias("n_tokens"),
        )
    )


# ------------------------------------------------------------------ check

_SEQ_LEN = 512

_PACK_ORACLE = f"""
    WITH spans AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                   OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS excl
        FROM documents
    ),
    s2 AS (
        SELECT doc_id, n_tok, CAST(COALESCE(excl, 0) AS BIGINT) AS start FROM spans
    ),
    total AS (SELECT MAX(start + n_tok) AS t FROM s2),
    chunks AS (
        SELECT doc_id, unnest(generate_series(start // {_SEQ_LEN},
                                              (start + n_tok - 1) // {_SEQ_LEN})) AS chunk_id
        FROM s2
    )
    SELECT chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc,
           CAST(LEAST((chunk_id + 1) * {_SEQ_LEN}, (SELECT t FROM total))
                - chunk_id * {_SEQ_LEN} AS BIGINT) AS n_tokens
    FROM chunks GROUP BY chunk_id ORDER BY chunk_id"""


@check("pack_sequences_chunks", oracle=_PACK_ORACLE)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy doc-order packing of the corpus into 512-token training
    chunks — per-chunk roster (doc count, first/last doc, fill) pinned
    against a window-function oracle; the engine side computes the
    prefix sum with the two-phase distributed scan, not a global
    window."""
    df = pack_sequences(load(spark, sf_dir, "documents"), _SEQ_LEN)
    return df.select(
        "chunk_id",
        F.col("n_docs").cast("long").alias("n_docs"),
        "first_doc", "last_doc",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    ).orderBy("chunk_id")


# --------------------------------------------------- 10x stress variant

_P10_COPIES = 10
_P10_STRIDE = 10000000
_P10_BUCKET = 100

_PACK10_ORACLE = f"""
    WITH corpus AS (
        SELECT doc_id + k.k * {_P10_STRIDE} AS doc_id, text
        FROM documents, (SELECT unnest(range(0, {_P10_COPIES})) AS k) k
    ),
    spans AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                   OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS excl
        FROM corpus
    ),
    s2 AS (
        SELECT doc_id, n_tok, CAST(COALESCE(excl, 0) AS BIGINT) AS start FROM spans
    ),
    chunks AS (
        SELECT doc_id, unnest(generate_series(start // {_SEQ_LEN},
                                              (start + n_tok - 1) // {_SEQ_LEN})) AS chunk_id
        FROM s2
    ),
    roster AS (
        SELECT chunk_id, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        FROM chunks GROUP BY chunk_id
    )
    SELECT CAST(chunk_id // {_P10_BUCKET} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(MIN(first_doc) AS BIGINT) AS first_doc,
           CAST(MAX(chunk_id) AS BIGINT) AS last_chunk
    FROM roster GROUP BY 1 ORDER BY bucket"""


@check("pack_sequences_10x", oracle=_PACK10_ORACLE)
def q_pack_sequences_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing at 10× corpus mass (broadcast-inflated): the
    two-phase distributed prefix sum's only unpartitioned window stays
    the P-row partition-totals table no matter the row count — this
    check carries the measured evidence.  Bucketed roster aggregates
    keep the compared result compact while every chunk assignment flows
    through the scan."""
    from dronedb_spark.text.segdedup import inflated_documents

    big = inflated_documents(load(spark, sf_dir, "documents"), copies=_P10_COPIES)
    roster = pack_sequences(big, _SEQ_LEN)
    return (
        roster.groupBy((F.col("chunk_id") / _P10_BUCKET).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.min("first_doc").cast("long").alias("first_doc"),
            F.max("chunk_id").cast("long").alias("last_chunk"),
        )
        .orderBy("bucket")
    )
