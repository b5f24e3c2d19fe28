"""Positional inverted index + exact phrase query — the serving-side
complement of the BM25 scorer (``text/bm25.py``): persist token
postings WITH positions once, then answer "documents containing this
exact phrase" by touching only the phrase's own postings.  Beyond the
reference (no text pipeline); public method: the positional-index
phrase query of Manning/Raghavan/Schütze IR ch. 2 and every Lucene-
style engine.

Scale shape:

* The index is ONE posexplode + groupBy(tok, doc_id) pass —
  corpus-sized once, at build time.  ``write_postings_store`` persists
  it PARTITIONED BY a 64-way md5 token bucket (the store discipline of
  the vector/fingerprint families: ``vectors/ivfpq.py:
  write_ivfpq_store``, ``text/substring.py:substring_anchor_store``),
  so a probe's postings read is directory-level partition-pruned to
  the query tokens' buckets — the bucket is re-derivable driver-side
  from the token bytes alone (md5 prefix), no lookup job.
  ``phrase_probe_store``/``kwic_probe_store`` read ONLY the store
  (never the corpus) — pytest pins the probe plan's single file scan
  and its PartitionFilters.
* The phrase probe is the POSITION-OFFSET trick: occurrences of
  phrase token i at position p all share the anchor ``p − i``, so ONE
  ``groupBy(doc_id, anchor)`` counting distinct token slots replaces
  the k-way self-join a naive formulation needs.  The probe's input is
  postings of the k phrase tokens only (broadcast semi-prune) — never
  the corpus, never a pair join; repeated tokens in the phrase are
  handled by slot identity (each slot must be witnessed at its own
  offset).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens


def positional_postings(
    docs: DataFrame, only_tokens: list[str] | None = None
) -> DataFrame:
    """(tok, doc_id, positions): the positional inverted index —
    positions are 0-based token offsets, sorted ascending.  This is
    what a pipeline persists (bucketed by ``tok``).

    ``only_tokens`` prunes the index to the given tokens BEFORE the
    postings aggregation (r13, guide §2.3 aggregate-less-shuffle-less):
    an in-memory query knows its probe tokens up front, and building
    the full index only to semi-join it down to 3 tokens shuffled the
    whole corpus's positions for nothing — the persisted store keeps
    the full build, where bucket pruning plays the same role."""
    flat = docs.select(
        "doc_id",
        F.posexplode(tokens("text")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    if only_tokens is not None:
        flat = flat.filter(F.col("tok").isin(*only_tokens))
    return flat.groupBy("tok", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )


def phrase_query(postings: DataFrame, phrase: list[str]) -> DataFrame:
    """(doc_id, n_occurrences, first_pos): exact phrase matches over a
    positional-postings index.  Probes only the phrase's tokens; one
    shuffle on (doc_id, anchor)."""
    spark = postings.sparkSession
    k = len(phrase)
    slots = F.broadcast(
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(phrase)], "slot int, tok string"
        )
    )
    hits = (
        postings.join(slots, "tok")  # broadcast prune to phrase tokens
        .select(
            "doc_id",
            "slot",
            F.explode("positions").alias("pos"),
        )
        .select("doc_id", "slot", (F.col("pos") - F.col("slot")).alias("anchor"))
        .filter(F.col("anchor") >= 0)
    )
    anchors = (
        hits.groupBy("doc_id", "anchor")
        .agg(F.countDistinct("slot").alias("n_slots"))
        .filter(F.col("n_slots") == k)
    )
    return anchors.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.min("anchor").cast("bigint").alias("first_pos"),
    )


def kwic_snippets(
    docs: DataFrame, postings: DataFrame, term: str, ctx: int = 3
) -> DataFrame:
    """(doc_id, first_pos, n_occurrences, snippet): keyword-in-context
    lines for every document containing ``term`` — the search-result
    presentation layer over the positional index.  The postings probe
    is a pushed-down single-token filter (partition-pruned to one
    bucket when ``postings`` comes from the persisted store — see
    ``kwic_probe_store``); the snippet extraction joins only the
    MATCHING docs back to their text and slices ``±ctx`` tokens around
    the first occurrence in-row (no explode)."""
    hits = postings.filter(F.col("tok") == term).select(
        "doc_id",
        F.element_at("positions", 1).cast("bigint").alias("first_pos"),
        F.size("positions").cast("bigint").alias("n_occurrences"),
    )
    joined = hits.join(docs.select("doc_id", "text"), "doc_id")
    # 1-based window [max(1, p+1-ctx), p+1+ctx]; slice clamps the tail
    start = F.greatest(F.lit(1), F.col("first_pos") + 1 - ctx).cast("int")
    length = (F.col("first_pos").cast("int") + 1 + ctx) - start + 1
    return joined.select(
        "doc_id",
        "first_pos",
        "n_occurrences",
        F.array_join(F.slice(tokens("text"), start, length), " ").alias("snippet"),
    )


_PHRASE = ["stream", "table", "hash"]
_KWIC_TERM = "merge"
_KWIC_CTX = 3


@check(
    "inverted_phrase_query",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        flat AS (
            SELECT doc_id, w[i] AS tok, CAST(i - 1 AS BIGINT) AS pos
            FROM words, UNNEST(range(1, len(w) + 1)) AS r(i)
            WHERE w[i] <> ''),
        slots AS (
            SELECT * FROM (VALUES (0, '{_PHRASE[0]}'), (1, '{_PHRASE[1]}'),
                                  (2, '{_PHRASE[2]}')) AS s(slot, tok)),
        hits AS (
            SELECT f.doc_id, s.slot, f.pos - s.slot AS anchor
            FROM flat f JOIN slots s ON s.tok = f.tok
            WHERE f.pos - s.slot >= 0),
        anchors AS (
            SELECT doc_id, anchor
            FROM hits GROUP BY doc_id, anchor
            HAVING COUNT(DISTINCT slot) = {len(_PHRASE)})
        SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_occurrences,
               CAST(MIN(anchor) AS BIGINT) AS first_pos
        FROM anchors GROUP BY doc_id ORDER BY doc_id""",
)
def q_phrase_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact occurrences of the phrase "stream table hash" per document
    via the positional index + anchor trick."""
    docs = load(spark, sf_dir, "documents")
    return phrase_query(
        positional_postings(docs, only_tokens=_PHRASE), _PHRASE
    ).orderBy("doc_id")


@check(
    "kwic_snippets",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, text, string_split(text, ' ') AS w
            FROM documents),
        flat AS (
            SELECT doc_id, w[i] AS tok, CAST(i - 1 AS BIGINT) AS pos
            FROM words, UNNEST(range(1, len(w) + 1)) AS r(i)
            WHERE w[i] <> ''),
        hits AS (
            SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS first_pos,
                   CAST(COUNT(1) AS BIGINT) AS n_occurrences
            FROM flat WHERE tok = '{_KWIC_TERM}' GROUP BY doc_id)
        SELECT h.doc_id, h.first_pos, h.n_occurrences,
               array_to_string(list_slice(d.w,
                   CAST(GREATEST(1, h.first_pos + 1 - {_KWIC_CTX}) AS BIGINT),
                   CAST(h.first_pos + 1 + {_KWIC_CTX} AS BIGINT)), ' ')
                   AS snippet
        FROM hits h JOIN words d ON d.doc_id = h.doc_id
        ORDER BY h.doc_id""",
)
def q_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±3-token keyword-in-context snippet around the first "merge" in
    every matching document, plus occurrence counts — clamped at both
    document boundaries."""
    docs = load(spark, sf_dir, "documents")
    return kwic_snippets(
        docs, positional_postings(docs, only_tokens=[_KWIC_TERM]),
        _KWIC_TERM, ctx=_KWIC_CTX,
    ).orderBy("doc_id")


_10X_OFFSET = 100_000


@check(
    "inverted_phrase_query_10x",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {_10X_OFFSET} * c AS doc_id, text
            FROM documents, UNNEST(range(1, 10)) AS r(c)),
        words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        flat AS (
            SELECT doc_id, w[i] AS tok, CAST(i - 1 AS BIGINT) AS pos
            FROM words, UNNEST(range(1, len(w) + 1)) AS r(i)
            WHERE w[i] <> ''),
        slots AS (
            SELECT * FROM (VALUES (0, '{_PHRASE[0]}'), (1, '{_PHRASE[1]}'),
                                  (2, '{_PHRASE[2]}')) AS s(slot, tok)),
        hits AS (
            SELECT f.doc_id, s.slot, f.pos - s.slot AS anchor
            FROM flat f JOIN slots s ON s.tok = f.tok
            WHERE f.pos - s.slot >= 0),
        anchors AS (
            SELECT doc_id, anchor
            FROM hits GROUP BY doc_id, anchor
            HAVING COUNT(DISTINCT slot) = {len(_PHRASE)})
        SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_occurrences,
               CAST(MIN(anchor) AS BIGINT) AS first_pos
        FROM anchors GROUP BY doc_id ORDER BY doc_id""",
)
def q_phrase_query_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10x load twin: every phrase token's postings inflate 10-fold
    (one hot anchor partition per original doc), and each copy must
    match independently with remapped ids — the anchor groupBy is the
    pressure point the position-offset design must survive."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.join(
        F.broadcast(
            docs.sparkSession.createDataFrame(
                [(c,) for c in range(1, 10)], "c int"
            )
        )
    ).select(
        (F.col("doc_id") + F.lit(_10X_OFFSET) * F.col("c")).alias("doc_id"),
        "text",
    )
    corpus = docs.unionByName(copies)
    return phrase_query(
        positional_postings(corpus, only_tokens=_PHRASE), _PHRASE
    ).orderBy("doc_id")


# ------------------------------------------------------- serving store --

N_TOKEN_BUCKETS = 64


def _token_bucket(tok: str, n_buckets: int = N_TOKEN_BUCKETS) -> int:
    """Driver-side twin of the store's bucket column: md5-prefix mod
    n_buckets — re-derivable from the token BYTES alone (hashlib.md5 ==
    F.md5), so a probe prunes partitions with zero lookup jobs."""
    import hashlib

    return int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:6], 16) % n_buckets


def _bucket_col(n_buckets: int = N_TOKEN_BUCKETS) -> Column:
    return (
        F.conv(F.substring(F.md5("tok"), 1, 6), 16, 10).cast("bigint")
        % n_buckets
    ).cast("int")


def write_postings_store(
    docs: DataFrame, path: str, n_buckets: int = N_TOKEN_BUCKETS
) -> None:
    """Persist the positional inverted index PARTITIONED BY ``bkt``
    (md5 token bucket): one corpus-sized build pass, then every probe
    reads only its query tokens' bucket directories.  At 10B docs the
    alternative — re-anchoring the corpus per phrase query — is a full
    posexplode per query; the store makes a probe's input
    |postings(query tokens)|-sized, independent of corpus size."""
    postings = positional_postings(docs)
    (
        postings.withColumn("bkt", _bucket_col(n_buckets))
        .repartition("bkt")
        .write.partitionBy("bkt")
        .mode("overwrite")
        .parquet(path)
    )


def phrase_probe_store(
    spark: SparkSession,
    path: str,
    phrase: list[str],
    n_buckets: int = N_TOKEN_BUCKETS,
) -> DataFrame:
    """Exact phrase matches reading ONLY the persisted store: the
    probe's single file scan partition-prunes to the phrase tokens'
    buckets (driver-derived, no job) and pushes the token IN-filter
    into the scan; the anchor trick then runs on phrase-token postings
    only.  Output schema == ``phrase_query``."""
    buckets = sorted({_token_bucket(t, n_buckets) for t in phrase})
    postings = (
        spark.read.parquet(path)
        .filter(F.col("bkt").isin(buckets))
        .filter(F.col("tok").isin(list(set(phrase))))
        .select("tok", "doc_id", "positions")
    )
    return phrase_query(postings, phrase)


def kwic_probe_store(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    term: str,
    ctx: int = 3,
    n_buckets: int = N_TOKEN_BUCKETS,
) -> DataFrame:
    """KWIC snippets whose postings probe reads ONE bucket directory of
    the store (single-token partition prune); only the matching docs
    join back to their text for the snippet slice."""
    postings = (
        spark.read.parquet(path)
        .filter(F.col("bkt") == _token_bucket(term, n_buckets))
        .select("tok", "doc_id", "positions")
    )
    return kwic_snippets(docs, postings, term, ctx)


@check(
    "inverted_store_probe",
    small=True,
    oracle=f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        flat AS (
            SELECT doc_id, w[i] AS tok, CAST(i - 1 AS BIGINT) AS pos
            FROM words, UNNEST(range(1, len(w) + 1)) AS r(i)
            WHERE w[i] <> ''),
        slots AS (
            SELECT * FROM (VALUES (0, '{_PHRASE[0]}'), (1, '{_PHRASE[1]}'),
                                  (2, '{_PHRASE[2]}')) AS s(slot, tok)),
        hits AS (
            SELECT f.doc_id, s.slot, f.pos - s.slot AS anchor
            FROM flat f JOIN slots s ON s.tok = f.tok
            WHERE f.pos - s.slot >= 0),
        anchors AS (
            SELECT doc_id, anchor
            FROM hits GROUP BY doc_id, anchor
            HAVING COUNT(DISTINCT slot) = {len(_PHRASE)})
        SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_occurrences,
               CAST(MIN(anchor) AS BIGINT) AS first_pos
        FROM anchors GROUP BY doc_id ORDER BY doc_id""",
)
def q_inverted_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the token-bucket-partitioned postings store, then answer
    the phrase query READING ONLY THE STORE — must hash-match the
    in-memory phrase query's oracle.  Scratch-dir check: collected
    in-function."""
    import tempfile

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as td:
        path = td + "/postings_store"
        write_postings_store(docs, path)
        rows = [
            (r["doc_id"], r["n_occurrences"], r["first_pos"])
            for r in phrase_probe_store(spark, path, _PHRASE)
            .orderBy("doc_id")
            .collect()
        ]
    return spark.createDataFrame(
        rows, "doc_id bigint, n_occurrences bigint, first_pos bigint"
    )


def update_postings_store(
    docs_batch: DataFrame, path: str, n_buckets: int = N_TOKEN_BUCKETS
) -> None:
    """The daily-ingest increment: APPEND the new batch's postings into
    the existing bucket directories.  Postings rows are keyed
    (tok, doc_id) and a batch brings NEW doc_ids, so the append is
    additive — no read-merge-rewrite of yesterday's postings, the
    corpus is never re-anchored, and a probe over the updated store
    sees old + new documents through the same partition-pruned scan
    (the incremental discipline of the substring/band stores)."""
    postings = positional_postings(docs_batch)
    (
        postings.withColumn("bkt", _bucket_col(n_buckets))
        .repartition("bkt")
        .write.partitionBy("bkt")
        .mode("append")
        .parquet(path)
    )


@check(
    "inverted_store_incremental",
    small=True,
    oracle=f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        flat AS (
            SELECT doc_id, w[i] AS tok, CAST(i - 1 AS BIGINT) AS pos
            FROM words, UNNEST(range(1, len(w) + 1)) AS r(i)
            WHERE w[i] <> ''),
        slots AS (
            SELECT * FROM (VALUES (0, '{_PHRASE[0]}'), (1, '{_PHRASE[1]}'),
                                  (2, '{_PHRASE[2]}')) AS s(slot, tok)),
        hits AS (
            SELECT f.doc_id, s.slot, f.pos - s.slot AS anchor
            FROM flat f JOIN slots s ON s.tok = f.tok
            WHERE f.pos - s.slot >= 0),
        anchors AS (
            SELECT doc_id, anchor
            FROM hits GROUP BY doc_id, anchor
            HAVING COUNT(DISTINCT slot) = {len(_PHRASE)})
        SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_occurrences,
               CAST(MIN(anchor) AS BIGINT) AS first_pos
        FROM anchors GROUP BY doc_id ORDER BY doc_id""",
)
def q_inverted_store_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the store from 80% of the corpus, APPEND the held-out 20%
    as the daily batch, probe the phrase over the updated store: must
    equal the whole-corpus phrase query — yesterday's postings were
    never rewritten or re-anchored.  Scratch-dir check: collected
    in-function."""
    import tempfile

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as td:
        path = td + "/postings_store"
        write_postings_store(docs.filter(F.col("doc_id") % 5 != 0), path)
        update_postings_store(docs.filter(F.col("doc_id") % 5 == 0), path)
        rows = [
            (r["doc_id"], r["n_occurrences"], r["first_pos"])
            for r in phrase_probe_store(spark, path, _PHRASE)
            .orderBy("doc_id")
            .collect()
        ]
    return spark.createDataFrame(
        rows, "doc_id bigint, n_occurrences bigint, first_pos bigint"
    )
