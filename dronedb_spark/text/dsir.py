"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023): select raw-corpus documents whose hashed-n-gram profile
looks like a TARGET distribution (the "give me 10B tokens that look
like Wikipedia" primitive of LLM data curation).

Recipe (the published one, exactly):

  1. FEATURIZE — every document becomes a bag of hashed n-grams
     (unigrams + bigrams, md5 → ``N_BUCKETS`` buckets);
  2. FIT — two bag-of-words models over the buckets: ``p`` on the
     target sample, ``q`` on the raw corpus (add-one smoothing);
  3. WEIGH — per-document importance ``log w = Σ_b c_b (ln p_b − ln q_b)``
     where ``c_b`` is the doc's bucket count;
  4. RESAMPLE — Gumbel top-k over ``log w + g_i`` (deterministic
     Gumbel noise from a salted md5, so the draw is reproducible
     across runs, engines, and cluster sizes).

Scale shape: featurization is one explode + map-side-combined
groupBy(doc_id, bucket) — the only data-sized shuffle; both bucket
models are O(N_BUCKETS)-row aggregates; the weight join broadcasts the
N_BUCKETS-row model table; the resample is a global top-k
(TakeOrderedAndProject — no full sort materializes).  At 100 TB the
corpus never moves more than once, and the model tables stay tiny no
matter how large the target/raw sets are.

Numeric parity (the ``text/lm.py`` discipline): per-bucket ``ln``
agrees across engines to ~1 ulp; per-doc sums accumulate as
DECIMAL(38,15) so partition order cannot move the 9-dp comparator;
Gumbel uniforms are exact dyadic rationals (20-bit md5 slice + 0.5
over 2^20), so ``−ln(−ln u)`` is the same double everywhere.

No reference counterpart (the C++ engine has no data-selection
surface); the algorithm cites the public DSIR paper.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

N_BUCKETS = 64
SEED = "dsir1"
TOP_K = 100


def _bucket(col: Column | str) -> Column:
    """Portable md5 bucket: first 2 hex chars (8 bits) mod N_BUCKETS —
    the ``text/sketch.py`` idiom (Spark conv == DuckDB '0x' cast)."""
    h = F.md5(F.concat(F.lit(SEED + ":"), F.col(col) if isinstance(col, str) else col))
    return F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % N_BUCKETS


def hashed_gram_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket, c) — the hashed unigram+bigram bag per document.

    Bigrams via the top-level zip_with-over-shifted-slices idiom
    (``text/substring.py``) so Catalyst never re-tokenizes per element.
    """
    from dronedb_spark.tables import spread

    # per-gram md5 is the heavy kernel — full parallelism before it
    # (the langid featurizer rule); the 10x twin otherwise hashed its
    # whole inflated corpus on the scan's single input partition
    toks = spread(docs).select("doc_id", tokens("text").alias("toks"))
    grams = toks.select(
        "doc_id",
        F.concat(
            F.col("toks"),
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1), (a, b) -> concat(a, '_', b))"
            ),
        ).alias("grams"),
    )
    g = grams.select("doc_id", F.explode("grams").alias("gram"))
    return (
        g.select("doc_id", _bucket("gram").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def dsir_bucket_model(
    docs: DataFrame,
    target: DataFrame,
    spark: SparkSession,
    raw_counts: DataFrame | None = None,
) -> DataFrame:
    """(bucket, t_n, r_n, lw) — the per-bucket importance log-ratio
    ``lw_b = ln(t_b+1) − ln(r_b+1) + ln(R+B) − ln(T+B)`` over a complete
    bucket spine (buckets no gram hit still carry the smoothed ratio).

    ``target`` is the target-sample documents (any filter of the corpus
    or an external table with the same shape); ``docs`` is the raw
    corpus.  Both collapse to N_BUCKETS rows before anything joins.
    """
    t_counts = (
        hashed_gram_counts(target).groupBy("bucket").agg(F.sum("c").alias("t_n"))
    )
    r_base = raw_counts if raw_counts is not None else hashed_gram_counts(docs)
    r_counts = r_base.groupBy("bucket").agg(F.sum("c").alias("r_n"))
    spine = spark.range(N_BUCKETS).select(F.col("id").cast("int").alias("bucket"))
    m = (
        spine.join(F.broadcast(t_counts), "bucket", "left")
        .join(F.broadcast(r_counts), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("t_n", F.lit(0)).cast("bigint").alias("t_n"),
            F.coalesce("r_n", F.lit(0)).cast("bigint").alias("r_n"),
        )
    )
    tot = F.broadcast(
        m.agg(
            F.sum("t_n").cast("bigint").alias("t_tot"),
            F.sum("r_n").cast("bigint").alias("r_tot"),
        )
    )
    return m.crossJoin(tot).select(
        "bucket",
        "t_n",
        "r_n",
        (
            F.log(F.col("t_n") + 1.0)
            - F.log(F.col("r_n") + 1.0)
            + F.log(F.col("r_tot") + float(N_BUCKETS))
            - F.log(F.col("t_tot") + float(N_BUCKETS))
        ).alias("lw"),
    )


def dsir_doc_logweights(
    docs: DataFrame, target: DataFrame, spark: SparkSession
) -> DataFrame:
    """(doc_id, n_grams, logw) — per-document importance log-weight:
    the doc's bucket counts dotted with the broadcast model table,
    summed as DECIMAL(38,15).

    The raw corpus is featurized ONCE: the per-doc bucket counts go
    through a ``barrier_persist`` CSE barrier and feed BOTH the raw
    bag-of-words model and the weight join (Spark's ReuseExchange does
    not fire across these two aggregation shapes — measured 5 scans /
    0 reuses without the barrier).  The persisted table is (doc_id,
    bucket, c) — ≤ N_BUCKETS small-int rows per document, far smaller
    than the text it summarizes."""
    from dronedb_spark.tables import barrier_persist

    cnt = barrier_persist(hashed_gram_counts(docs))
    model = dsir_bucket_model(docs, target, spark, raw_counts=cnt)
    return (
        cnt.join(F.broadcast(model.select("bucket", "lw")), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.sum((F.col("c") * F.col("lw")).cast("decimal(38,15)"))
            .cast("double")
            .alias("logw"),
        )
    )


def dsir_resample(
    docs: DataFrame, target: DataFrame, spark: SparkSession, k: int = TOP_K
) -> DataFrame:
    """(doc_id, key) — the Gumbel top-k draw: k documents sampled
    without replacement ∝ their importance weights, deterministically.

    ``u = (md5_20bits(doc_id) + 0.5) / 2^20`` is an exact dyadic
    rational, so ``g = −ln(−ln u)`` and the sort key are the same
    doubles in every engine; ties broken by doc_id (unreachable in
    practice — distinct 20-bit draws)."""
    lw = dsir_doc_logweights(docs, target, spark)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("g:" + SEED + ":"), F.col("doc_id").cast("string"))), 1, 5),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / float(1 << 20)
    key = F.col("logw") - F.log(-F.log(u))
    return (
        lw.select("doc_id", key.alias("key"))
        .orderBy(F.col("key").desc(), "doc_id")
        .limit(k)
    )


# ---------------------------------------------------------------- oracles

_GRAMS_SQL = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT doc_id, t[pos] AS gram FROM toks,
             LATERAL (SELECT unnest(range(1, len(t) + 1)) AS pos) p
        UNION ALL
        SELECT doc_id, t[pos] || '_' || t[pos + 1] AS gram FROM toks,
             LATERAL (SELECT unnest(range(1, len(t))) AS pos) p),
    buckets AS (
        SELECT doc_id,
               CAST(CAST('0x' || substr(md5('dsir1:' || gram), 1, 2) AS BIGINT)
                    % 64 AS INT) AS bucket
        FROM grams),
    doc_counts AS (
        SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM buckets GROUP BY doc_id, bucket)
"""

_MODEL_SQL = """
    spine AS (SELECT CAST(unnest(range(0, 64)) AS INT) AS bucket),
    t_counts AS (
        SELECT bucket, SUM(c) AS t_n FROM doc_counts
        WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
        GROUP BY bucket),
    r_counts AS (SELECT bucket, SUM(c) AS r_n FROM doc_counts GROUP BY bucket),
    model0 AS (
        SELECT s.bucket,
               CAST(COALESCE(t.t_n, 0) AS BIGINT) AS t_n,
               CAST(COALESCE(r.r_n, 0) AS BIGINT) AS r_n
        FROM spine s
        LEFT JOIN t_counts t ON s.bucket = t.bucket
        LEFT JOIN r_counts r ON s.bucket = r.bucket),
    totals AS (SELECT SUM(t_n) AS t_tot, SUM(r_n) AS r_tot FROM model0),
    model AS (
        SELECT bucket, t_n, r_n,
               ln(t_n + 1.0) - ln(r_n + 1.0)
                 + ln((SELECT r_tot FROM totals) + 64.0)
                 - ln((SELECT t_tot FROM totals) + 64.0) AS lw
        FROM model0)
"""

_LOGW_SQL = """
    logw AS (
        SELECT d.doc_id,
               CAST(SUM(d.c) AS BIGINT) AS n_grams,
               CAST(SUM(CAST(d.c * m.lw AS DECIMAL(38,15))) AS DOUBLE) AS logw
        FROM doc_counts d JOIN model m ON d.bucket = m.bucket
        GROUP BY d.doc_id)
"""


def _target_en(docs: DataFrame) -> DataFrame:
    """The driver checks' target sample: the corpus's English slice —
    'select documents that look like the English ones'."""
    return docs.filter(F.col("lang") == "en")


@check(
    "dsir_bucket_weights",
    oracle=f"""
        WITH {_GRAMS_SQL}, {_MODEL_SQL}
        SELECT bucket, t_n, r_n, ROUND(lw, 9) AS lw
        FROM model ORDER BY bucket""",
)
def q_dsir_bucket_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 64 hashed-n-gram buckets' target/raw counts and importance
    log-ratios, value-checked (target = the English slice)."""
    docs = load(spark, sf_dir, "documents")
    m = dsir_bucket_model(docs, _target_en(docs), spark)
    return m.select("bucket", "t_n", "r_n", F.round("lw", 9).alias("lw")).orderBy(
        "bucket"
    )


@check(
    "dsir_doc_logweights",
    oracle=f"""
        WITH {_GRAMS_SQL}, {_MODEL_SQL}, {_LOGW_SQL}
        SELECT doc_id, n_grams, ROUND(logw, 9) AS logw
        FROM logw ORDER BY doc_id""",
)
def q_dsir_doc_logweights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's DSIR importance log-weight against the English
    target, DECIMAL-summed and value-checked row by row."""
    docs = load(spark, sf_dir, "documents")
    lw = dsir_doc_logweights(docs, _target_en(docs), spark)
    return lw.select("doc_id", "n_grams", F.round("logw", 9).alias("logw")).orderBy(
        "doc_id"
    )


@check(
    "dsir_resample_topk",
    small=True,
    oracle=f"""
        WITH {_GRAMS_SQL}, {_MODEL_SQL}, {_LOGW_SQL},
        keyed AS (
            SELECT doc_id,
                   logw - ln(-ln((CAST('0x' || substr(md5('g:dsir1:' || CAST(doc_id AS VARCHAR)), 1, 5)
                                       AS BIGINT) + 0.5) / 1048576.0)) AS key
            FROM logw)
        SELECT doc_id, ROUND(key, 9) AS key
        FROM keyed ORDER BY key DESC, doc_id LIMIT {TOP_K}""",
)
def q_dsir_resample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic Gumbel top-{TOP_K} DSIR draw — the selected
    training subset, id- and key-exact."""
    docs = load(spark, sf_dir, "documents")
    sel = dsir_resample(docs, _target_en(docs), spark, TOP_K)
    return sel.select("doc_id", F.round("key", 9).alias("key"))


_GRAMS10_SQL = _GRAMS_SQL.replace(
    "FROM documents",
    "FROM (SELECT doc_id + k.k * 10000000 AS doc_id, text, lang"
    " FROM documents, (SELECT unnest(range(0, 10)) AS k) k)",
)
_MODEL10_SQL = _MODEL_SQL.replace(
    "FROM documents WHERE lang = 'en'",
    "FROM (SELECT doc_id + k.k * 10000000 AS doc_id, lang"
    " FROM documents, (SELECT unnest(range(0, 10)) AS k) k)"
    " WHERE lang = 'en'",
)


@check(
    "dsir_doc_logweights_10x",
    oracle=f"""
        WITH {_GRAMS10_SQL}, {_MODEL10_SQL}, {_LOGW_SQL}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_grams) AS BIGINT) AS total_grams,
               ROUND(MIN(logw), 9) AS min_logw,
               ROUND(MAX(logw), 9) AS max_logw,
               CAST(SUM(CAST(ROUND(logw, 9) AS DECIMAL(38,15))) AS DOUBLE)
                   AS sum_logw
        FROM logw""",
)
def q_dsir_doc_logweights_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR weights at 10× corpus mass (broadcast-inflated raw AND
    target sides): featurization is the only data-sized shuffle, the
    model tables stay 64 rows, so wall-clock must track the gram mass.
    The rounded-decimal sum is partition-order-proof."""
    docs = load(spark, sf_dir, "documents")
    ks = F.broadcast(spark.range(10).select(F.col("id").alias("k")))
    docs10 = (
        docs.select("doc_id", "text", "lang")
        .crossJoin(ks)
        .select((F.col("doc_id") + F.col("k") * 10000000).alias("doc_id"), "text", "lang")
    )
    lw = dsir_doc_logweights(docs10, _target_en(docs10), spark)
    return lw.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_grams").cast("bigint").alias("total_grams"),
        F.round(F.min("logw"), 9).alias("min_logw"),
        F.round(F.max("logw"), 9).alias("max_logw"),
        F.sum(F.round("logw", 9).cast("decimal(38,15)"))
        .cast("double")
        .alias("sum_logw"),
    )
