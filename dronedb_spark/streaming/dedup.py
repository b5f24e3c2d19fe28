"""Streaming deduplication — exact dedup as a continuous operator.

The batch twin (text/dedup.py:exact_dup_groups) answers "which documents
are duplicates"; this operator answers the pipeline question "emit each
document the FIRST time its content is seen" over an unbounded arriving
stream.  Built on ``dropDuplicatesWithinWatermark``: state holds one
entry per content hash and is evicted once the event-time watermark
passes, so state size is bounded by the dedup horizon — the property
that makes streaming dedup feasible at 100 TB/day (an unbounded
``dropDuplicates`` would accumulate state forever).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_dedup_exact(docs_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """First-seen pass-through keyed on content hash, with watermark-bounded
    state.  ``docs_stream`` needs an event-time ``ts`` column."""
    return (
        docs_stream.withColumn("content_hash", F.md5("text"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


# ------------------------------------------------------------------ check
#
# The streaming operator itself can't run under the driver's batch
# harness; its SEMANTICS — emit each content hash once, first arrival
# wins — can.  tests/test_streaming.py pins stream == batch-twin on the
# same input; this check pins batch-twin == oracle, closing the loop.


def _register_check() -> None:
    from pyspark.sql import SparkSession, Window

    from dronedb_spark.suite import check
    from dronedb_spark.tables import load

    @check(
        "stream_dedup_twin",
        small=True,
        oracle="""
            WITH k AS (
                SELECT source, doc_id,
                       row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rn
                FROM documents)
            SELECT source, CAST(COUNT(1) AS BIGINT) AS n_first_seen,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
            FROM k WHERE rn = 1 GROUP BY source ORDER BY source""",
    )
    def q_stream_dedup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
        """First-seen-wins exact dedup, batch twin of stream_dedup_exact:
        one row survives per content hash (deterministic arrival order =
        doc_id), aggregated per source.  sum_kept_ids pins WHICH row won,
        not just how many."""
        docs = load(spark, sf_dir, "documents")
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        first = docs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
        return (
            first.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_first_seen"),
                F.sum("doc_id").cast("bigint").alias("sum_kept_ids"),
            )
            .orderBy("source")
        )


_register_check()


def stream_hll_registers(docs_stream: DataFrame) -> DataFrame:
    """Streaming HLL: the register table as a continuous aggregate.

    Because registers fold by MAX, the streaming state is exactly the
    m-register table — bounded forever without a watermark, and the
    complete-mode output after any prefix of the stream equals the
    batch sketch of that prefix (tests/test_streaming.py pins
    stream == batch twin; the batch twin is the `hll_token_registers`
    driver check).  This is the daily-rollup story live: the same
    groupBy(bucket).max(rho) merges yesterday's persisted registers
    with today's stream."""
    from dronedb_spark.text.sketch import hll_token_registers

    return hll_token_registers(docs_stream)


def stream_cms_sketch(docs_stream: DataFrame) -> DataFrame:
    """Streaming count-min sketch: the (row, col, cnt) counter table as
    a continuous aggregate.  Counters fold by SUM, so the streaming
    state is exactly the d×w counter table — bounded forever without a
    watermark — and the complete-mode output after any stream prefix
    equals the batch sketch of that prefix (tests/test_streaming.py
    pins stream == batch; the batch sketch is the `cms_heavy_hitters`
    driver check's state).  Daily rollup = element-wise SUM of
    yesterday's persisted counters with today's — the merge law
    tests/test_sketch.py pins."""
    from dronedb_spark.text.sketch import cms_token_sketch

    return cms_token_sketch(docs_stream)


def stream_incremental_probe(
    batch_stream: DataFrame,
    store: DataFrame,
    event_time: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """The daily-ingest dedup RUNTIME as Structured Streaming: new
    documents arrive as a stream, their signatures/bands compute per
    microbatch (streaming-safe path — no persist barrier), and the
    band probe is a STREAM-STATIC inner join against the persisted
    corpus store (`text/dedup.py:band_store`) — the corpus side never
    recomputes and never shuffles per trigger when the store is
    bucketed on bk.  Output is the DEDUPLICATED collision triple table
    (batch_doc, corpus doc_id, band_id) — streaming aggregations cannot
    COUNT(DISTINCT), so per-doc rollups (and the left-fill of hit-less
    docs) happen downstream, exactly where the batch twin
    `incremental_neardup` computes them.  tests/test_streaming.py pins
    the stream triples rolled up == the batch twin's hit rows.

    STATE BOUND: pass ``event_time`` (an event-time column on the
    stream) for the long-lived runtime — the triple dedup then runs as
    ``dropDuplicatesWithinWatermark`` and state older than ``delay``
    is evicted, the same discipline the content-hash path above uses.
    Without it the dedup state grows with every distinct triple
    forever: acceptable for bounded replays (availableNow backfills),
    never for the continuous daily-ingest deployment."""
    from dronedb_spark.text.dedup import BANDS, minhash_signatures

    carry: tuple[str, ...] = (event_time,) if event_time else ()
    if event_time:
        batch_stream = batch_stream.withWatermark(event_time, delay)
    sig = minhash_signatures(batch_stream, streaming=True, carry=carry)
    probe = sig.select(
        F.col("doc_id").alias("batch_doc"),
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("bk"))
                    for b in range(BANDS)
                ]
            )
        ).alias("s"),
    ).select(
        "batch_doc", *carry,
        F.col("s.band_id").alias("band_id"), F.col("s.bk").alias("bk"),
    )
    hits = probe.join(store, ["band_id", "bk"])
    triples = hits.select("batch_doc", "doc_id", "band_id", *carry)
    if event_time:
        return triples.dropDuplicatesWithinWatermark(
            ["batch_doc", "doc_id", "band_id"]
        )
    return triples.dropDuplicates(["batch_doc", "doc_id", "band_id"])


def stream_url_dedup(docs_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """First-seen pass-through per CANONICAL URL — the crawl-ingest
    front gate run continuously: canonicalization is a stateless
    projection (streaming-safe by construction), so the only state is
    one entry per canonical key, watermark-evicted like the
    content-hash path above."""
    from dronedb_spark.text.urls import canonicalize, with_url

    return (
        canonicalize(with_url(docs_stream))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["canonical_url"])
    )


def _register_url_check() -> None:
    from pyspark.sql import SparkSession, Window

    from dronedb_spark.suite import check
    from dronedb_spark.tables import load
    from dronedb_spark.text.urls import _D_PARTS, _D_URL, canonicalize, with_url

    @check(
        "stream_url_dedup_twin",
        small=True,
        oracle=f"""
            WITH urls AS (SELECT doc_id, source, {_D_URL} AS url FROM documents),
            {_D_PARTS},
            k AS (
                SELECT source, doc_id,
                       row_number() OVER (PARTITION BY canonical_url
                                          ORDER BY doc_id) AS rn
                FROM final)
            SELECT source, CAST(COUNT(1) AS BIGINT) AS n_first_seen,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
            FROM k WHERE rn = 1 GROUP BY source ORDER BY source""",
    )
    def q_stream_url_dedup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
        """First-seen-wins canonical-URL dedup, batch twin of
        stream_url_dedup: one row survives per canonical key
        (deterministic arrival order = doc_id), per-source accounting;
        sum_kept_ids pins WHICH row won."""
        docs = load(spark, sf_dir, "documents")
        c = canonicalize(with_url(docs))
        w = Window.partitionBy("canonical_url").orderBy("doc_id")
        first = c.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        )
        return (
            first.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_first_seen"),
                F.sum("doc_id").cast("bigint").alias("sum_kept_ids"),
            )
            .orderBy("source")
        )


_register_url_check()


def stream_paragraph_dedup(
    batch_stream: DataFrame,
    store: DataFrame,
    event_time: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Paragraph-level dedup as a continuous operator — the streaming
    runtime of ``text/paradedup.py:incremental_paragraph_dedup``: new
    pages arrive as a stream, their paragraphs explode per microbatch
    (stateless narrow work), paragraphs already in the persisted corpus
    store drop via a STREAM-STATIC left-anti join (the store side never
    recomputes per trigger), and first-seen-wins WITHIN the stream runs
    as ``dropDuplicatesWithinWatermark`` on the paragraph hash — state
    bounded by the dedup horizon, the same discipline as the
    content-hash path above.

    Emits each surviving paragraph once: the SET of surviving hashes is
    deterministic (one per distinct new paragraph); WHICH (doc_id, pos)
    carries it follows arrival order, the streaming semantic (the batch
    twin's (doc_id, pos) keep-first is the deterministic replay).
    tests/test_streaming.py pins stream survivors == the batch twin's
    kept-paragraph hash set.  Without ``event_time`` the dedup is an
    unbounded ``dropDuplicates`` — bounded replays only, never the
    continuous deployment."""
    from dronedb_spark.text.paradedup import PARA_SEP

    if event_time:
        batch_stream = batch_stream.withWatermark(event_time, delay)
    carry = (event_time,) if event_time else ()
    paras = (
        batch_stream.select(
            "doc_id", *carry,
            F.posexplode(F.split("text", PARA_SEP)).alias("pos", "para"),
        )
        .filter(F.trim("para") != "")
        .withColumn("phash", F.md5("para"))
    )
    fresh = paras.join(store, "phash", "left_anti")
    if event_time:
        return fresh.dropDuplicatesWithinWatermark(["phash"])
    return fresh.dropDuplicates(["phash"])


def stream_substring_probe(
    batch_stream: DataFrame,
    store: DataFrame,
    k: int | None = None,
    event_time: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Substring-level dedup as a continuous operator — the streaming
    runtime of ``text/substring.py:incremental_substring_spans``'s
    store side: arriving documents anchor their overlapping k-grams per
    microbatch (stateless narrow work — split, zip_with slices, md5),
    and positions whose anchor is already in the persisted corpus
    anchor store emit via a STREAM-STATIC inner join (the 8-byte-hash
    store never recomputes and, bucketed on ``ah``, never reshuffles
    per trigger).  Emits duplicated (doc_id, pos) rows; the island
    merge into maximal spans is a per-doc ORDERED window and runs
    downstream in the batch layer — exactly where the batch twin
    assembles spans (the minhash triple-probe discipline above).

    Within-stream repetition (a gram arriving twice tonight, never
    indexed before) is not counted here — occurrence counting over a
    hash window is not streaming-expressible; the nightly batch
    re-probe catches it, and the duplicate-emit guard is the
    watermarked dropDuplicates on (doc_id, pos) when ``event_time`` is
    passed (state bounded by the horizon; without it, bounded replays
    only)."""
    from dronedb_spark.text.substring import K_TOKENS, _kgram_col
    from dronedb_spark.text.tokens import tokens

    kk = k if k is not None else K_TOKENS
    carry = (event_time,) if event_time else ()
    if event_time:
        batch_stream = batch_stream.withWatermark(event_time, delay)
    toks = batch_stream.select("doc_id", *carry, tokens("text").alias("toks"))
    anchors = toks.select(
        "doc_id", *carry, F.posexplode(_kgram_col(kk)).alias("p0", "gram")
    ).select(
        "doc_id",
        *carry,
        (F.col("p0") + 1).alias("pos"),
        F.expr("CAST(conv(substr(md5(gram), 1, 15), 16, 10) AS BIGINT)").alias("ah"),
    )
    hits = anchors.join(store, "ah").select("doc_id", "pos", *carry)
    if event_time:
        return hits.dropDuplicatesWithinWatermark(["doc_id", "pos"])
    return hits.dropDuplicates(["doc_id", "pos"])


def _register_substring_check() -> None:
    from pyspark.sql import SparkSession

    from dronedb_spark.suite import check
    from dronedb_spark.tables import load
    from dronedb_spark.text.substring import K_TOKENS

    _ANCHOR_DUCK = f"""
            SELECT doc_id, p.pos,
                   CAST(CAST('0x' || substr(md5(
                       array_to_string(t[p.pos : p.pos + {K_TOKENS - 1}], ' ')
                   ), 1, 15) AS BIGINT) AS BIGINT) AS ah
            FROM {{src}},
                 LATERAL (SELECT unnest(range(1, len(t) - {K_TOKENS - 1} + 1)) AS pos) p"""

    @check(
        "stream_substring_probe_twin",
        oracle=f"""
            WITH store_docs AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
            batch AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
                UNION ALL
                SELECT doc_id + 5000000 AS doc_id, text
                FROM store_docs WHERE doc_id % 7 = 1),
            store AS (
                SELECT DISTINCT ah FROM (
                    {_ANCHOR_DUCK.format(src="(SELECT doc_id, string_split(text, ' ') AS t FROM store_docs) s")}) a),
            banchors AS (
                {_ANCHOR_DUCK.format(src="(SELECT doc_id, string_split(text, ' ') AS t FROM batch) b")}),
            hits AS (
                SELECT DISTINCT b.doc_id, b.pos
                FROM banchors b JOIN store s ON s.ah = b.ah)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_hits,
                   CAST(MIN(pos) AS BIGINT) AS min_pos,
                   CAST(MAX(pos) AS BIGINT) AS max_pos
            FROM hits GROUP BY doc_id ORDER BY doc_id""",
    )
    def q_stream_substring_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Batch twin of stream_substring_probe (the stream==batch
        equivalence is pytest-pinned in tests/test_streaming.py): per
        batch doc, the count and extent of token positions whose
        covering k-gram is already in the corpus anchor store."""
        from dronedb_spark.text.substring import (
            anchor_kgrams,
            substring_anchor_store,
        )

        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        store_docs = docs.filter(F.col("doc_id") % 3 != 0)
        batch = docs.filter(F.col("doc_id") % 3 == 0).unionByName(
            store_docs.filter(F.col("doc_id") % 7 == 1).select(
                (F.col("doc_id") + 5000000).alias("doc_id"), "text"
            )
        )
        hits = (
            anchor_kgrams(batch)
            .join(substring_anchor_store(store_docs), "ah")
            .select("doc_id", "pos")
            .distinct()
        )
        return (
            hits.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_hits"),
                F.min("pos").cast("bigint").alias("min_pos"),
                F.max("pos").cast("bigint").alias("max_pos"),
            )
            .orderBy("doc_id")
        )


_register_substring_check()


def stream_image_probe(
    batch_media_stream: DataFrame, store: DataFrame, max_hamming: int = 6
) -> DataFrame:
    """The IMAGE fingerprint family's continuous daily-ingest runtime
    (the minhash `stream_incremental_probe` shape for
    `multimodal/phash.py`): new images decode and band per microbatch
    (the dHash kernel is a mapInPandas — streaming-safe), and the band
    probe is a STREAM-STATIC join against the persisted capped store
    (`dhash_band_store`) — stored images never re-decode, the store
    side never shuffles per trigger when bucketed on (band, bv).
    Output is the (img, store_id, hamming) hit triple table; per-image
    rollups (countDistinct + the miss left-fill) happen downstream
    exactly where the batch twin `image_dhash_incremental` computes
    them.  tests/test_streaming.py pins stream triples == batch."""
    from dronedb_spark.multimodal.phash import _hash_bands, dhash_images

    probe = _hash_bands(dhash_images(batch_media_stream)).select(
        F.col("media_id").alias("img"),
        F.col("h1").alias("h1p"),
        F.col("h2").alias("h2p"),
        "band",
        "bv",
    )
    ham = F.expr("bit_count(h1p ^ h1) + bit_count(h2p ^ h2)")
    return (
        probe.join(store, ["band", "bv"])
        .select(
            "img", F.col("media_id").alias("store_id"), ham.alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
    )
