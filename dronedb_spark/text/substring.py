"""Exact substring dedup at ARBITRARY token boundaries — the
suffix-array-style operator of Lee et al. 2022 ("Deduplicating Training
Data Makes Language Models Better": remove every substring of ≥ k
tokens that occurs more than once in the corpus), re-expressed for a
distributed engine without a global suffix array.

Fixed-window segment dedup (``text/segdedup.py``, the C4/RefinedWeb
line discipline) only sees duplicates ALIGNED to its 8-word grid — a
copied span that straddles a window boundary contributes no duplicated
segment and is invisible.  This operator anchors on OVERLAPPING
k-grams instead: a duplicated span of L ≥ k tokens contains L − k + 1
consecutive duplicated anchors at ANY offset, so merging maximal runs
of duplicated anchor positions recovers the span exactly — the
"k-gram anchor + extend" equivalent of the suffix-array scan, where
the bidirectional extension is the island merge over anchor positions
(a planted duplicate's interior anchors are all duplicated, so the
merged island is precisely the planted span).

Semantics: a token position is DUPLICATED iff some corpus-duplicated
k-gram covers it; the output spans are the maximal merged intervals of
duplicated positions per document (the union of duplicated k-gram
windows).  This is the standard distributed approximation of the
suffix-array result and is span-exact for planted duplicates.

Scale design — there is NO pair join anywhere (unlike the near-dup
family, dedup here needs only occurrence counts, never candidate
pairs):

  * anchors are per-token rows (the honest cost of substring-level
    dedup; Lee et al. pay the same in suffix-array memory), built with
    the zip_with/slice idiom (``dedup.py:_shingle_df``) so tokenization
    is never re-inlined per element;
  * anchor hashes are 60-bit md5 prefixes — fixed-width shuffle keys
    instead of full gram text (identical in DuckDB, so the oracle
    reproduces counts exactly; a 60-bit collision merges two grams on
    BOTH engines);
  * occurrence counting is one WINDOW over the anchor hash — the
    anchors shuffle once and count in place (a groupBy + semi-join
    back would evaluate the anchor subtree once per join side); a
    boilerplate gram in 10M docs is one heavy hash partition, linear,
    never a quadratic bucket;
  * span assembly is a per-document window (lag + running sum islands)
    — one hash partition on doc_id, prefix sums in-partition
    (the ``catalog/compact.py`` gaps-and-islands discipline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load, register_views, spread
from dronedb_spark.text.tokens import tokens

K_TOKENS = 6  # minimum duplicated-span length in tokens


def _kgram_col(k: int) -> Column:
    """k-gram array over ``toks`` via k shifted slices zipped pairwise —
    the top-level-slice idiom that keeps Catalyst from re-tokenizing per
    element (see dedup.py:_shingle_df)."""
    acc = f"slice(toks, 1, size(toks) - {k - 1})"
    for i in range(2, k + 1):
        acc = (
            f"zip_with({acc}, slice(toks, {i}, size(toks) - {k - 1}),"
            f" (x, y) -> concat(x, ' ', y))"
        )
    return F.expr(f"CASE WHEN size(toks) >= {k} THEN {acc} ELSE array() END")


def anchor_kgrams(docs: DataFrame, k: int = K_TOKENS) -> DataFrame:
    """(doc_id, pos, ah): overlapping k-gram anchors — pos is the
    1-based token index of the gram's first token, ah its 60-bit md5
    prefix hash."""
    toks = docs.select("doc_id", tokens("text").alias("toks"))
    grams = toks.select("doc_id", _kgram_col(k).alias("grams"))
    return grams.select(
        "doc_id", F.posexplode("grams").alias("p0", "gram")
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        F.expr("CAST(conv(substr(md5(gram), 1, 15), 16, 10) AS BIGINT)").alias("ah"),
    )


def substring_dup_spans(docs: DataFrame, k: int = K_TOKENS) -> DataFrame:
    """(doc_id, span_start, span_end, span_tokens): maximal duplicated
    token spans ≥ k tokens, 1-based inclusive positions.

    Occurrence counting is a WINDOW over the anchor hash, not a
    groupBy + semi-join back: the join formulation evaluates the whole
    anchor subtree (tokenize + k-gram + md5 per gram) once per side —
    Catalyst has no common-subplan materialization across join inputs —
    while the window shuffles the anchors once and counts in place.
    Same two exchanges total (hash, then doc), half the compute."""
    # spread BEFORE anchoring: the k-gram + md5 work is the CPU-heavy
    # part, and spreading the finished anchors ran it on the scan's
    # (often single-file) partitioning first (r13 fix, guide §2)
    anchors = anchor_kgrams(spread(docs), k)
    dup_pos = (
        anchors.select(
            "doc_id",
            "pos",
            F.count(F.lit(1)).over(Window.partitionBy("ah")).alias("n_occ"),
        )
        .filter(F.col("n_occ") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    # interval [pos, pos+k-1]; merge while the union stays contiguous
    brk = (
        F.when(F.col("pos") - F.lag("pos").over(w) > k, 1)
        .otherwise(0)
        .alias("brk")
    )
    islands = dup_pos.select("doc_id", "pos", brk).select(
        "doc_id",
        "pos",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_end").cast("bigint").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("span_tokens"),
        )
    )


def substring_dedup_rewrite(docs: DataFrame, k: int = K_TOKENS) -> DataFrame:
    """The C4-style REWRITE over the spans: (doc_id, n_tokens, n_kept,
    n_dropped, clean_md5) — every token covered by a duplicated span is
    removed from every document (Lee et al.'s remove-all policy for
    spans duplicated across the corpus), the survivors re-join into the
    cleaned text, fingerprinted for the check.

    The span table is tiny relative to the corpus (only documents with
    duplication carry rows), so the rewrite is a LEFT join of docs
    against per-doc span arrays + one narrow projection: the token
    filter runs as a lambda over (token, position) pairs with the
    span array in-row — no per-token shuffle."""
    spans = substring_dup_spans(docs, k)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    joined = docs.join(per_doc, "doc_id", "left")
    kept = F.filter(
        F.transform(
            tokens("text"), lambda t, i: F.struct(t.alias("t"), (i + 1).alias("p"))
        ),
        lambda x: F.col("spans").isNull()
        | ~F.exists(
            "spans", lambda s: (x.p >= s.span_start) & (x.p <= s.span_end)
        ),
    )
    return joined.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        kept.alias("_kept"),
    ).select(
        "doc_id",
        "n_tokens",
        F.size("_kept").cast("bigint").alias("n_kept"),
        (F.col("n_tokens") - F.size("_kept")).cast("bigint").alias("n_dropped"),
        F.md5(F.array_join(F.expr("transform(_kept, x -> x.t)"), " ")).alias(
            "clean_md5"
        ),
    )


# ----------------------------------------------------------- check --

# The planted-duplicate corpus: every doc_id % 10 == 0 base doc (with
# ≥ 20 tokens, next doc ≥ 12) contributes a SPLICED doc whose middle is
# an arbitrary-offset copy of base tokens [src_off, src_off + 7 + id%6)
# surrounded by fragments of the NEXT doc shorter than k — the
# duplicate sits at arbitrary boundaries in both documents.
_SPLICE_SPARK = """
    SELECT 1000000 + a.doc_id AS doc_id,
           concat_ws(' ',
             array_join(slice(split(b.text, ' '), 1, 3 + CAST(a.doc_id % 4 AS INT)), ' '),
             array_join(slice(split(a.text, ' '), 2 + CAST(a.doc_id % 5 AS INT),
                              7 + CAST(a.doc_id % 6 AS INT)), ' '),
             array_join(slice(split(b.text, ' '), 8, 4), ' ')) AS text
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 10 = 0
      AND size(split(a.text, ' ')) >= 20 AND size(split(b.text, ' ')) >= 12
"""

_SPLICE_DUCK = """
    SELECT 1000000 + a.doc_id AS doc_id,
           array_to_string(string_split(b.text, ' ')[1 : 3 + CAST(a.doc_id % 4 AS INT)], ' ')
           || ' ' ||
           array_to_string(string_split(a.text, ' ')[2 + CAST(a.doc_id % 5 AS INT) :
                1 + CAST(a.doc_id % 5 AS INT) + 7 + CAST(a.doc_id % 6 AS INT)], ' ')
           || ' ' ||
           array_to_string(string_split(b.text, ' ')[8 : 11], ' ') AS text
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 10 = 0
      AND len(string_split(a.text, ' ')) >= 20 AND len(string_split(b.text, ' ')) >= 12
"""


# spans CTE chain from an existing corpus(doc_id, text) CTE → anchors →
# window count → islands → spans(doc_id, span_start, span_end); reused
# by the curation-pipeline oracle
D_SPANS_CHAIN = f"""
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        anchors AS (
            SELECT doc_id, p.pos,
                   CAST(CAST('0x' || substr(md5(
                       array_to_string(t[p.pos : p.pos + {K_TOKENS - 1}], ' ')
                   ), 1, 15) AS BIGINT) AS BIGINT) AS ah
            FROM toks,
                 LATERAL (SELECT unnest(range(1, len(t) - {K_TOKENS - 1} + 1)) AS pos) p),
        dup_pos AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       COUNT(*) OVER (PARTITION BY ah) AS n_occ
                FROM anchors) a
            WHERE n_occ >= 2),
        marked AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                             > {K_TOKENS} THEN 1 ELSE 0 END AS brk
            FROM dup_pos),
        islands AS (
            SELECT doc_id, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS island
            FROM marked),
        spans AS (
            SELECT doc_id,
                   CAST(MIN(pos) AS BIGINT) AS span_start,
                   CAST(MAX(pos) + {K_TOKENS - 1} AS BIGINT) AS span_end
            FROM islands
            GROUP BY doc_id, island)"""

_D_SPANS_CTES = (
    f"""
        corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            {_SPLICE_DUCK}),"""
    + D_SPANS_CHAIN
)


@check(
    "substring_dup_spans",
    oracle=f"""
        WITH {_D_SPANS_CTES}
        SELECT doc_id, span_start, span_end,
               CAST(span_end - span_start + 1 AS BIGINT) AS span_tokens
        FROM spans
        ORDER BY doc_id, span_start""",
)
def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-boundary duplicated spans over the corpus + planted
    spliced copies: each spliced doc carries a 7-12-token copy of its
    base doc at an arbitrary offset, wrapped in sub-k fragments — the
    operator must recover the planted span SPAN-EXACT in both the
    spliced doc and the base doc (the fixed-window segment dedup
    provably misses grid-straddling plants: pytest-pinned)."""
    register_views(spark, sf_dir, ["documents"])
    corpus = spark.sql(
        f"SELECT doc_id, text FROM documents UNION ALL {_SPLICE_SPARK}"
    )
    return substring_dup_spans(corpus, K_TOKENS).orderBy("doc_id", "span_start")


# ------------------------------------------------- 10x stress twin --

_SS_COPIES = 10
_SS_STRIDE = 10000000


@check(
    "substring_dup_spans_10x",
    oracle=f"""
        WITH corpus AS (
            SELECT d.doc_id + c.c * {_SS_STRIDE} AS doc_id, d.text
            FROM documents d,
                 (SELECT unnest(range(0, {_SS_COPIES})) AS c) c),
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        anchors AS (
            SELECT doc_id, p.pos,
                   CAST(CAST('0x' || substr(md5(
                       array_to_string(t[p.pos : p.pos + {K_TOKENS - 1}], ' ')
                   ), 1, 15) AS BIGINT) AS BIGINT) AS ah
            FROM toks,
                 LATERAL (SELECT unnest(range(1, len(t) - {K_TOKENS - 1} + 1)) AS pos) p),
        dup_pos AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       COUNT(*) OVER (PARTITION BY ah) AS n_occ
                FROM anchors) a
            WHERE n_occ >= 2),
        marked AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                             > {K_TOKENS} THEN 1 ELSE 0 END AS brk
            FROM dup_pos),
        islands AS (
            SELECT doc_id, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS island
            FROM marked),
        spans AS (
            SELECT doc_id,
                   CAST(MIN(pos) AS BIGINT) AS span_start,
                   CAST(MAX(pos) + {K_TOKENS - 1} AS BIGINT) AS span_end
            FROM islands GROUP BY doc_id, island)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(SUM(span_end - span_start + 1) AS BIGINT) AS sum_tokens
        FROM spans""",
)
def q_substring_dup_spans_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anchor pipeline at 10× corpus mass: every document appears
    10 times, so EVERY anchor is a 10-way hot hash partition and every
    document collapses to one full-coverage span — the worst case for
    the occurrence window, which must stay a linear count, never a
    pair fan-out (the pair-join formulation would be 45×n_anchors
    candidate rows here)."""
    register_views(spark, sf_dir, ["documents"])
    corpus = spark.sql(
        f"""SELECT d.doc_id + c.c * {_SS_STRIDE} AS doc_id, d.text
            FROM documents d,
                 (SELECT explode(sequence(0, {_SS_COPIES - 1})) AS c) c"""
    )
    spans = substring_dup_spans(corpus, K_TOKENS)
    return spans.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("bigint")
        .alias("sum_tokens"),
    )


@check(
    "substring_dedup_rewrite",
    oracle=f"""
        WITH {_D_SPANS_CTES},
        positions AS (
            SELECT t.doc_id, p.pos, t.t[p.pos] AS tok
            FROM toks t,
                 LATERAL (SELECT unnest(range(1, len(t.t) + 1)) AS pos) p),
        kept AS (
            SELECT p.doc_id, p.pos, p.tok
            FROM positions p
            LEFT JOIN spans s
              ON s.doc_id = p.doc_id
             AND p.pos BETWEEN s.span_start AND s.span_end
            WHERE s.doc_id IS NULL)
        SELECT c.doc_id,
               CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens,
               CAST(COALESCE(kc.n_kept, 0) AS BIGINT) AS n_kept,
               CAST(len(string_split(c.text, ' '))
                    - COALESCE(kc.n_kept, 0) AS BIGINT) AS n_dropped,
               md5(COALESCE(kc.clean, '')) AS clean_md5
        FROM corpus c
        LEFT JOIN (
            SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(tok, ' ' ORDER BY pos) AS clean
            FROM kept GROUP BY doc_id) kc
          ON kc.doc_id = c.doc_id
        ORDER BY c.doc_id""",
)
def q_substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus AFTER span removal: per-document token accounting and
    an md5 fingerprint of the cleaned text — the rewrite itself, not
    just the span report, value-checked end to end (the planted splices
    lose exactly their copied middles)."""
    register_views(spark, sf_dir, ["documents"])
    corpus = spark.sql(
        f"SELECT doc_id, text FROM documents UNION ALL {_SPLICE_SPARK}"
    )
    return substring_dedup_rewrite(corpus, K_TOKENS).orderBy("doc_id")


# --------------------------------------------- incremental anchor store --

_INC_STRIDE = 5000000


def substring_anchor_store(docs: DataFrame, k: int = K_TOKENS) -> DataFrame:
    """The persisted substring index: DISTINCT 60-bit anchor hashes of
    the corpus — 8 bytes per distinct k-gram, what the daily pipeline
    writes once per ingested batch (bucketed by ``ah`` on disk, the
    ``band_store`` discipline) so tomorrow's probe equi-joins without
    re-anchoring — or even re-reading — yesterday's text."""
    return anchor_kgrams(docs, k).select("ah").distinct()


def incremental_substring_spans(
    batch: DataFrame, store: DataFrame, k: int = K_TOKENS
) -> DataFrame:
    """Duplicated spans of a NEW batch: a batch token position is
    duplicated iff its covering k-gram is already in the corpus store
    (the store holds ≥1 occurrence, the batch adds another) OR occurs
    ≥2 times within the batch itself.  Equivalent to re-running
    ``substring_dup_spans`` over store ∪ batch restricted to batch
    docs (pytest-pinned), at the cost of anchoring ONLY the batch.

    Plan shape: the ``ah`` equi-join against the store hash-partitions
    the batch anchors by ``ah``, and the within-batch occurrence window
    reuses exactly that partitioning — one anchor-side exchange total,
    then the per-doc island pass."""
    anchors = anchor_kgrams(spread(batch), k)
    marked = anchors.join(
        store.withColumn("in_store", F.lit(True)), "ah", "left"
    )
    dup_pos = (
        marked.select(
            "doc_id",
            "pos",
            "in_store",
            F.count(F.lit(1)).over(Window.partitionBy("ah")).alias("n_occ"),
        )
        .filter(F.col("in_store").isNotNull() | (F.col("n_occ") >= 2))
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = (
        F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0).alias("brk")
    )
    islands = dup_pos.select("doc_id", "pos", brk).select(
        "doc_id",
        "pos",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("island"),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_end").cast("bigint").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("span_tokens"),
        )
    )


@check(
    "substring_dedup_incremental",
    oracle=f"""
        WITH store_docs AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        batch AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id + {_INC_STRIDE} AS doc_id, text
            FROM store_docs WHERE doc_id % 7 = 1),
        stoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM store_docs),
        store AS (
            SELECT DISTINCT CAST(CAST('0x' || substr(md5(
                       array_to_string(t[p.pos : p.pos + {K_TOKENS - 1}], ' ')
                   ), 1, 15) AS BIGINT) AS BIGINT) AS ah
            FROM stoks,
                 LATERAL (SELECT unnest(range(1, len(t) - {K_TOKENS - 1} + 1)) AS pos) p),
        btoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM batch),
        banchors AS (
            SELECT doc_id, p.pos,
                   CAST(CAST('0x' || substr(md5(
                       array_to_string(t[p.pos : p.pos + {K_TOKENS - 1}], ' ')
                   ), 1, 15) AS BIGINT) AS BIGINT) AS ah
            FROM btoks,
                 LATERAL (SELECT unnest(range(1, len(t) - {K_TOKENS - 1} + 1)) AS pos) p),
        dup_pos AS (
            SELECT doc_id, pos FROM (
                SELECT b.doc_id, b.pos,
                       COUNT(*) OVER (PARTITION BY b.ah) AS n_occ,
                       s.ah IS NOT NULL AS in_store
                FROM banchors b LEFT JOIN store s ON s.ah = b.ah) x
            WHERE in_store OR n_occ >= 2),
        marked AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                             > {K_TOKENS} THEN 1 ELSE 0 END AS brk
            FROM dup_pos),
        islands AS (
            SELECT doc_id, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS island
            FROM marked),
        spans AS (
            SELECT doc_id,
                   CAST(MIN(pos) AS BIGINT) AS span_start,
                   CAST(MAX(pos) + {K_TOKENS - 1} AS BIGINT) AS span_end
            FROM islands GROUP BY doc_id, island)
        SELECT doc_id, span_start, span_end,
               CAST(span_end - span_start + 1 AS BIGINT) AS span_tokens
        FROM spans
        ORDER BY doc_id, span_start""",
)
def q_substring_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest shape for the substring family: store = anchors of
    doc_id % 3 != 0; batch = the rest PLUS re-keyed full copies of some
    store docs (doc_id % 7 == 1) — each copy must come back as ONE
    full-coverage span (every anchor hits the store), while genuinely
    new batch text only spans where it repeats the corpus or itself."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    store_docs = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0).unionByName(
        store_docs.filter(F.col("doc_id") % 7 == 1).select(
            (F.col("doc_id") + _INC_STRIDE).alias("doc_id"), "text"
        )
    )
    store = substring_anchor_store(store_docs, K_TOKENS)
    return incremental_substring_spans(batch, store, K_TOKENS).orderBy(
        "doc_id", "span_start"
    )
