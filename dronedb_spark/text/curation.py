"""Composed corpus-curation policies — the steps that TIE the pipeline
primitives together the way published pipelines do:

  * ``ccnet_perplexity_buckets`` — CCNet (Wenzek et al. 2020) splits
    each language's documents into head/middle/tail TERCILES by LM
    perplexity and trains preferentially on the head.  Composition of
    the language-ID heuristic (``text/quality.py:lang_id``) and the
    unigram LM scorer (``text/lm.py``), with the tercile as pure
    integer rank arithmetic (3·(rank−1) // n) so both engines agree on
    every boundary document.
  * ``cluster_quality_keep`` — near-dup clusters keep their HIGHEST
    QUALITY member (most distinct tokens; ties to the smallest id),
    not the arbitrary min-id representative: the survivor-selection
    policy real dedup applies.  Argmax via the packed-MIN map-side
    aggregate (no window), over the connected-component labels from
    ``text/dedup.py:neardup_clusters``.

Scale shape: buckets are a per-language rank (few languages — the
quota-sampling caveat and its two-phase refinement apply verbatim at
extreme per-language volume); survivor selection is one
map-side-combinable groupBy(cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens


def ccnet_perplexity_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_pred, cross_entropy, ppl_bucket 0|1|2) — per
    predicted language, tercile by cross entropy ascending (bucket 0 =
    head = most fluent under the LM), boundaries by exact integer rank
    arithmetic."""
    from dronedb_spark.text.lm import doc_cross_entropy, train_unigram
    from dronedb_spark.text.quality import lang_id

    lm = train_unigram(docs.filter(F.col("doc_id") % 2 == 0))
    scored = doc_cross_entropy(docs, lm).select("doc_id", "cross_entropy")
    langs = lang_id(docs).select("doc_id", "lang_pred")
    j = scored.join(langs, "doc_id")
    w = Window.partitionBy("lang_pred").orderBy("cross_entropy", "doc_id")
    n = Window.partitionBy("lang_pred")
    staged = j.select(
        "doc_id",
        "lang_pred",
        F.round("cross_entropy", 9).alias("cross_entropy"),
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(n).alias("nl"),
    )
    # integer DIV for the boundary documents (the compact.py rule)
    return staged.select(
        "doc_id",
        "lang_pred",
        "cross_entropy",
        F.expr("CAST((3 * (rk - 1)) DIV nl AS INT)").alias("ppl_bucket"),
    )


def cluster_quality_keep(docs: DataFrame) -> DataFrame:
    """(cluster_id, n_members, keep_id, keep_distinct) per near-dup
    cluster: the survivor is the member with the most DISTINCT tokens
    (lexical-diversity quality), ties to the smallest doc_id — argmax
    as MIN over a packed '<999999−n_distinct><doc_id>' string, a
    map-side-combinable aggregate."""
    from dronedb_spark.text.dedup import neardup_clusters

    clusters = neardup_clusters(docs)
    quality = docs.select(
        "doc_id",
        F.size(F.array_distinct(tokens("text"))).cast("bigint").alias("n_dis"),
    )
    packed = F.concat(
        F.lpad((F.lit(999999) - F.col("n_dis")).cast("string"), 6, "0"),
        F.lpad(F.col("doc_id").cast("string"), 9, "0"),
    )
    return (
        clusters.join(quality, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min(packed).alias("_p"),
        )
        .select(
            "cluster_id",
            "n_members",
            F.substring("_p", 7, 9).cast("bigint").alias("keep_id"),
            (F.lit(999999) - F.substring("_p", 1, 6).cast("bigint")).alias(
                "keep_distinct"
            ),
        )
    )


def curation_pipeline_rollup(docs: DataFrame) -> DataFrame:
    """The WHOLE curation pass, composed from the library stages the
    way a production corpus run chains them:

      1. Gopher rule gate (``text/gopher.py``) — drop failing docs;
      2. exact dedup — keep the smallest doc_id per content hash;
      3. substring span removal (``text/substring.py``) — rewrite the
         surviving corpus without its duplicated spans;
      4. domain cap (``text/domains.py``) — at most DOMAIN_CAP
         survivors per derived domain, deterministic hash order.

    Output: per-source accounting of what survived — documents in/out
    and the token mass the span removal dropped.  One driver row pins
    the COMPOSITION end to end (each stage is already pinned alone)."""
    from dronedb_spark.text.domains import domain_cap
    from dronedb_spark.text.gopher import gopher_quality_flags
    from dronedb_spark.text.substring import substring_dedup_rewrite

    kept = docs.join(
        gopher_quality_flags(docs).filter(F.col("keep") == 1).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    from dronedb_spark.tables import barrier_persist

    wdup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    # unique feeds the span rewrite (which references it twice more
    # internally) AND the domain cap — materialize the gopher+dedup
    # front of the pipeline once (r13; it re-ran ~4x lazily)
    unique = barrier_persist(
        kept.withColumn("_rk", F.row_number().over(wdup))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    rewritten = substring_dedup_rewrite(unique.select("doc_id", "text"))
    capped = domain_cap(unique).select("doc_id", "source")
    final = capped.join(rewritten, "doc_id")
    return final.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_kept").cast("bigint").alias("n_tokens_clean"),
        F.sum("n_dropped").cast("bigint").alias("n_tokens_removed"),
    )


# ----------------------------------------------------------- checks --


def _ccnet_oracle() -> str:
    from dronedb_spark.text.quality import _STOP_DE, _STOP_EN, _STOP_ES

    return f"""
        WITH train_toks AS (
            SELECT unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id % 2 = 0),
        lm AS (SELECT tok, COUNT(*) AS n FROM train_toks GROUP BY tok),
        totals AS (SELECT SUM(n) AS n_total, COUNT(*) AS v_total FROM lm),
        probs AS (
            SELECT tok, ln((n + 1.0) / (n_total + v_total + 1.0)) AS logp
            FROM lm, totals),
        score_toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        scored AS (
            SELECT s.doc_id,
                   COALESCE(p.logp,
                       (SELECT ln(1.0 / (n_total + v_total + 1.0)) FROM totals)) AS lp
            FROM score_toks s LEFT JOIN probs p ON s.tok = p.tok),
        ce AS (
            SELECT doc_id,
                   CAST(-SUM(CAST(lp AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS h
            FROM scored GROUP BY doc_id),
        langs AS (
            SELECT doc_id,
                   CASE WHEN {_STOP_EN} >= {_STOP_DE} AND {_STOP_EN} >= {_STOP_ES}
                        THEN 'en'
                        WHEN {_STOP_DE} >= {_STOP_ES} THEN 'de'
                        ELSE 'es' END AS lang_pred
            FROM documents),
        ranked AS (
            SELECT c.doc_id, l.lang_pred, c.h,
                   ROW_NUMBER() OVER (PARTITION BY l.lang_pred
                                      ORDER BY c.h, c.doc_id) AS rk,
                   COUNT(*) OVER (PARTITION BY l.lang_pred) AS nl
            FROM ce c JOIN langs l USING (doc_id))
        SELECT doc_id, lang_pred, ROUND(h, 9) AS cross_entropy,
               CAST((3 * (rk - 1)) // nl AS INT) AS ppl_bucket
        FROM ranked ORDER BY doc_id"""


@check("ccnet_perplexity_buckets", oracle=_ccnet_oracle())
def q_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's language tercile under the even-half unigram
    LM — head/middle/tail membership value-checked document by
    document (the CCNet training-mixture split)."""
    return ccnet_perplexity_buckets(load(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


def _pipeline_oracle() -> str:
    from dronedb_spark.text.domains import d_capped_sql
    from dronedb_spark.text.gopher import _GOPHER_SQL, MAX_WORDS, MIN_WORDS
    from dronedb_spark.text.substring import D_SPANS_CHAIN, K_TOKENS

    return f"""
        WITH gsig AS ({_GOPHER_SQL}),
        gop AS (
            SELECT doc_id FROM gsig
            WHERE n_words >= {MIN_WORDS} AND n_words <= {MAX_WORDS}
              AND word_chars >= 3 * n_words AND word_chars <= 10 * n_words
              AND 10 * symbols <= n_words
              AND 5 * alpha_words >= 4 * n_words
              AND stop_distinct >= 2),
        gdocs AS (
            SELECT d.doc_id, d.source, d.text
            FROM documents d JOIN gop USING (doc_id)),
        uniq AS (
            SELECT doc_id, source, text FROM (
                SELECT doc_id, source, text,
                       ROW_NUMBER() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rk
                FROM gdocs) u
            WHERE rk = 1),
        corpus AS (SELECT doc_id, text FROM uniq),
        {D_SPANS_CHAIN},
        positions AS (
            SELECT t.doc_id, p.pos
            FROM toks t,
                 LATERAL (SELECT unnest(range(1, len(t.t) + 1)) AS pos) p),
        kept AS (
            SELECT p.doc_id, p.pos
            FROM positions p
            LEFT JOIN spans s
              ON s.doc_id = p.doc_id
             AND p.pos BETWEEN s.span_start AND s.span_end
            WHERE s.doc_id IS NULL),
        kc AS (SELECT doc_id, COUNT(*) AS n_kept FROM kept GROUP BY doc_id),
        counts AS (
            SELECT c.doc_id,
                   len(string_split(c.text, ' ')) AS n_tokens,
                   COALESCE(kc.n_kept, 0) AS n_kept
            FROM corpus c LEFT JOIN kc USING (doc_id)),
        capped AS ({d_capped_sql('uniq')})
        SELECT cp.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(ct.n_kept) AS BIGINT) AS n_tokens_clean,
               CAST(SUM(ct.n_tokens - ct.n_kept) AS BIGINT) AS n_tokens_removed
        FROM capped cp JOIN counts ct USING (doc_id)
        GROUP BY cp.source ORDER BY cp.source"""


@check("curation_pipeline_rollup", small=True, oracle=_pipeline_oracle())
def q_curation_pipeline_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pass composed end to end — Gopher gate, exact
    dedup, substring span removal, domain cap — with per-source
    accounting value-checked against one nested-CTE restatement.  This
    is the 'run your daily corpus job' check: every stage is
    individually pinned, this row pins the composition."""
    return curation_pipeline_rollup(load(spark, sf_dir, "documents")).orderBy(
        "source"
    )


def _cluster_keep_oracle() -> str:
    from dronedb_spark.text.dedup import _DUCK_SIG_BANDS

    return f"""
        WITH RECURSIVE sig AS ({_DUCK_SIG_BANDS}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig a JOIN sig b
              ON (a.band0 = b.band0 OR a.band1 = b.band1) AND a.doc_id < b.doc_id),
        sym AS (SELECT doc_a AS node, doc_b AS peer FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(node, label) AS (
            SELECT node, node FROM (SELECT DISTINCT node FROM sym) s
            UNION
            SELECT s.node, r.label FROM sym s JOIN reach r ON r.node = s.peer),
        clusters AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM reach GROUP BY node),
        q AS (
            SELECT doc_id,
                   len(list_distinct(string_split(text, ' '))) AS n_dis
            FROM documents),
        packed AS (
            SELECT c.cluster_id,
                   lpad(CAST(999999 - q.n_dis AS VARCHAR), 6, '0')
                   || lpad(CAST(c.doc_id AS VARCHAR), 9, '0') AS p
            FROM clusters c JOIN q USING (doc_id))
        SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(substr(MIN(p), 7, 9) AS BIGINT) AS keep_id,
               CAST(999999 - CAST(substr(MIN(p), 1, 6) AS BIGINT) AS BIGINT)
                   AS keep_distinct
        FROM packed GROUP BY cluster_id ORDER BY cluster_id"""


@check("cluster_quality_keep", small=True, oracle=_cluster_keep_oracle())
def q_cluster_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection over the near-dup components: highest
    distinct-token member wins, ties to the smallest id — every
    cluster's survivor and its quality value-checked."""
    return cluster_quality_keep(load(spark, sf_dir, "documents")).orderBy(
        "cluster_id"
    )
