"""Overlapping document chunking — the RAG/embedding-pipeline splitter
(beyond the reference; the LangChain/LlamaIndex "sliding window"
convention): each document becomes fixed-size token windows advancing
by ``chunk - overlap`` tokens, so consecutive chunks share ``overlap``
tokens of context and every token lands in at least one chunk.  The
chunk table is what the embedding stage consumes (one vector per
chunk), so its shape — not the raw documents' — is what the ANN index
and SemDeDup operate on downstream.

Scale shape: pure per-row array expressions (split → sequence →
explode → slice) — a narrow pipeline with NO shuffle at all; chunk
rows inherit the document scan's partitioning.  The fan-out is
n_tokens/stride per document, the same row-inflation class as the
segment-dedup explode, and Catalyst prunes ``text`` right after the
split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

CHUNK = 8     # tokens per chunk
OVERLAP = 2   # tokens shared between consecutive chunks
STRIDE = CHUNK - OVERLAP


def chunk_documents(
    docs: DataFrame, chunk: int = CHUNK, overlap: int = OVERLAP
) -> DataFrame:
    """(doc_id, chunk_no, n_tokens, chunk_text): token windows of
    ``chunk`` tokens advancing by ``chunk - overlap``.

    Invariants (pytest-pinned): every token of every non-empty document
    appears in at least one chunk; consecutive chunks overlap by
    exactly ``overlap`` tokens (the final chunk may be shorter);
    documents with at most ``chunk`` tokens yield exactly one chunk."""
    if not 0 <= overlap < chunk:
        raise ValueError(f"need 0 <= overlap < chunk, got {overlap}/{chunk}")
    stride = chunk - overlap
    toks = tokens("text")
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("toks") - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
    )
    exploded = base.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_no"),
    )
    piece = F.slice(F.col("toks"), F.col("chunk_no") * stride + 1, chunk)
    return exploded.select(
        "doc_id",
        F.col("chunk_no").cast("int").alias("chunk_no"),
        F.size(piece).cast("int").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


# ----------------------------------------------------------- check --


@check(
    "doc_chunks_overlap",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        nz AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        idx AS (
            SELECT doc_id, toks,
                   unnest(range(0, GREATEST(1,
                       CAST(CEIL((n - {OVERLAP}) / {STRIDE}.0) AS BIGINT)))) AS c
            FROM nz)
        SELECT doc_id, CAST(c AS INT) AS chunk_no,
               CAST(len(toks[c * {STRIDE} + 1 : c * {STRIDE} + {CHUNK}]) AS INT)
                   AS n_tokens,
               array_to_string(toks[c * {STRIDE} + 1 : c * {STRIDE} + {CHUNK}], ' ')
                   AS chunk_text
        FROM idx ORDER BY doc_id, chunk_no""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full chunk table over the corpus, value-checked chunk by
    chunk (text, count, and ordinal) against the window closed form."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs).orderBy("doc_id", "chunk_no")


@check(
    "doc_chunks_overlap_10x",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id + k.k * 100000000 AS doc_id, text
            FROM documents, (SELECT unnest(range(0, 10)) AS k) k),
        d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
        nz AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        idx AS (
            SELECT doc_id, toks,
                   unnest(range(0, GREATEST(1,
                       CAST(CEIL((n - {OVERLAP}) / {STRIDE}.0) AS BIGINT)))) AS c
            FROM nz)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(len(toks[c * {STRIDE} + 1 : c * {STRIDE} + {CHUNK}]))
                    AS BIGINT) AS total_tokens,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM idx""",
)
def q_doc_chunks_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking at 10× corpus mass (broadcast-inflated) — the pipeline
    is a narrow shuffle-free fan-out, so wall-clock must scale with the
    row mass and nothing else.  Output is the chunk-table accounting an
    embedding stage budgets by."""
    from dronedb_spark.text.segdedup import inflated_documents

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_documents(inflated_documents(docs, copies=10))
    return chunks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )
