"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID (heuristic), document fingerprinting.

All four are pure column expressions (JVM-side, whole-stage codegen) — no
Python UDFs — so they scale linearly over a 100 TB documents table: one
narrow projection, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

# Stopword profiles for the n-gram/keyword language heuristic.  Scoring =
# total occurrences of each language's marker words; argmax with a fixed
# tie-break order (en > de > es).
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "es": [" el ", " la ", " los "],
}


def _occurrences(col: Column, needle: str) -> Column:
    return (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit("")))) / len(needle)


def quality_metrics(docs: DataFrame) -> DataFrame:
    """Per-doc quality signals: length, token count, mean token length,
    distinct-token ratio (lexical diversity), stopword ratio."""
    text = F.col("text")
    toks = tokens(text)
    n_tok = F.size(toks).cast("bigint")
    stop_hits = sum(_occurrences(text, m) for m in LANG_MARKERS["en"]).cast("bigint")
    return docs.select(
        "doc_id",
        F.length(text).cast("bigint").alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        (F.length(text) / n_tok).alias("mean_tok_len"),
        (F.size(F.array_distinct(toks)) / n_tok).alias("distinct_ratio"),
        stop_hits.alias("stop_hits"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Keyword-profile language ID.  Deterministic heuristic — the point is
    the operator shape (scored multi-way CASE over marker counts), not
    linguistic accuracy."""
    text = F.col("text")
    scores = {
        lang: sum(_occurrences(text, m) for m in markers).cast("bigint")
        for lang, markers in LANG_MARKERS.items()
    }
    pred = (
        F.when((scores["en"] >= scores["de"]) & (scores["en"] >= scores["es"]), F.lit("en"))
        .when(scores["de"] >= scores["es"], F.lit("de"))
        .otherwise(F.lit("es"))
    )
    return docs.select(
        "doc_id",
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        scores["es"].alias("score_es"),
        pred.alias("lang_pred"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    (the rolling-hash fingerprint's exact-match base case)."""
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fp"))


# ---------------------------------------------------------------- checks


def _occ_sql(needle: str) -> str:
    return f"(length(text) - length(replace(text, '{needle}', ''))) / {len(needle)}"


_STOP_EN = " + ".join(_occ_sql(m) for m in LANG_MARKERS["en"])
_STOP_DE = " + ".join(_occ_sql(m) for m in LANG_MARKERS["de"])
_STOP_ES = " + ".join(_occ_sql(m) for m in LANG_MARKERS["es"])


@check(
    "text_quality_metrics",
    oracle=f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_m,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               length(text) / len(string_split(text, ' ')) AS mean_tok_len,
               len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS distinct_ratio,
               CAST({_STOP_EN} AS BIGINT) AS stop_hits
        FROM documents""",
)
def q_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_metrics(load(spark, sf_dir, "documents"))


@check(
    "text_lang_id",
    oracle=f"""
        SELECT doc_id,
               CAST({_STOP_EN} AS BIGINT) AS score_en,
               CAST({_STOP_DE} AS BIGINT) AS score_de,
               CAST({_STOP_ES} AS BIGINT) AS score_es,
               CASE WHEN {_STOP_EN} >= {_STOP_DE} AND {_STOP_EN} >= {_STOP_ES} THEN 'en'
                    WHEN {_STOP_DE} >= {_STOP_ES} THEN 'de'
                    ELSE 'es' END AS lang_pred
        FROM documents""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load(spark, sf_dir, "documents"))


_BPE_PAT = " ?[a-zA-Z]+| ?[0-9]+|[^a-zA-Z0-9 ]+"


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace vs BPE-ish regex token counts (GPT-2-style pretokenizer
    classes: letter runs, digit runs, punctuation runs, each optionally
    space-prefixed).  Pure column expressions — the tokenizer-budget
    estimation pass of a training pipeline, no UDF."""
    return docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


@check(
    "token_counts",
    oracle=f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT) AS n_bpe_tokens
        FROM documents""",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(load(spark, sf_dir, "documents"))


@check(
    "text_fingerprint",
    oracle=r"""
        SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        FROM documents""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load(spark, sf_dir, "documents"))


def vocab_top_tokens(docs: DataFrame, k: int = 50) -> DataFrame:
    """Vocabulary building: token histogram + top-k — the tokenizer-prep
    pass of a training pipeline.  explode → map-side-combined count →
    TakeOrdered top-k."""
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(k)
    )


def stratified_sample(docs: DataFrame, rate_pct: int = 20) -> DataFrame:
    """Deterministic hash sampling: stable across runs/engines/cluster
    sizes (never ``rand()`` in a reproducible pipeline) — keep a doc iff
    the first 4 hex chars of md5(doc_id || ':' || source) fall under the
    rate threshold.  The comparison is done on the HEX STRING itself
    (fixed-width lowercase hex sorts identically to its numeric value),
    which needs no hex-parse function in either engine."""
    thresh = format(int(65536 * rate_pct / 100), "04x")
    bucket = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source"))), 1, 4
    )
    return (
        docs.filter(bucket < thresh)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("source")
    )


@check(
    "vocab_top_tokens",
    oracle="""
        SELECT tok, CAST(COUNT(1) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        GROUP BY tok ORDER BY n DESC, tok LIMIT 50""",
)
def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_top_tokens(load(spark, sf_dir, "documents"))


@check(
    "stratified_sample_counts",
    oracle=f"""
        SELECT source, CAST(COUNT(1) AS BIGINT) AS n_kept
        FROM documents
        WHERE substr(md5(CAST(doc_id AS STRING) || ':' || source), 1, 4)
              < '{format(int(65536 * 20 / 100), "04x")}'
        GROUP BY source ORDER BY source""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_sample(load(spark, sf_dir, "documents"))


def mixture_quota_sample(docs: DataFrame, base: int = 5, step: int = 7) -> DataFrame:
    """Exact per-source quotas — the training-mixture budget op.

    Mixture weights for a training run are EXACT counts ("this much of
    source s"), not rates: rate sampling (``stratified_sample``) lands
    only near the target.  Take the first ``quota(source)`` documents per
    source in deterministic hash order — reproducible across runs,
    engines, and cluster sizes, and unbiased w.r.t. any natural ordering
    of the corpus (the hash IS the shuffle).

    Scale: one shuffle on source + a per-source sort (window row_number).
    Source cardinality is tiny and fixed, so partitions are huge —
    exactly the case where rank-then-filter beats a global sort: each
    source's partition sorts independently, and AQE cannot help a
    40-source corpus at 100 TB, so for extreme per-source volume the
    two-phase refinement is documented in SCALE.md (per-partition
    pre-rank + cutoff-hash refine); the semantics here are the contract.

    The demo quota is derived from the source's numeric suffix so both
    engines compute it from data alone."""
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source")))
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    quota = base + step * (F.substring("source", 4, 10).cast("int") % 3)
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= quota)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("sum_kept_ids"),
        )
        .orderBy("source")
    )


def mixture_quota_twophase(
    docs: DataFrame, base: int = 5, step: int = 7
) -> DataFrame:
    """``mixture_quota_sample`` in the TWO-PHASE shape SCALE.md
    prescribes for extreme per-source volume — identical survivors
    (pytest + driver pin equality), no per-source global sort:

      1. bucket every row by the first 2 hex chars of its hash (256
         lexicographic buckets — bucket order IS hash order) and
         aggregate per-(source, bucket) counts: a map-side-combinable
         pass whose result is model state (sources × 256 rows to the
         driver, the centroid-rank budget);
      2. the driver walks each source's buckets cumulatively to find
         the BOUNDARY bucket where the quota lands; rows in earlier
         buckets pass with a plain filter (no sort anywhere), and only
         the boundary bucket — 1/256 of the source — is ranked for the
         remaining seats.

    At 100 TB per source the rank window therefore touches ~0.4% of
    the data; everything else is filter + aggregate."""
    spark = docs.sparkSession
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source")))
    bucketed = docs.select(
        "doc_id", "source", h.alias("h"), F.substring(h, 1, 2).alias("bkt")
    )
    counts = (
        bucketed.groupBy("source", "bkt")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per_source: dict[str, dict[str, int]] = {}
    for r in counts:
        per_source.setdefault(r["source"], {})[r["bkt"]] = r["n"]

    def quota_of(source: str) -> int:
        return base + step * (int(source[3:]) % 3)

    # (source, boundary bucket, seats remaining inside it)
    plan_rows = []
    for source, bkts in per_source.items():
        q = quota_of(source)
        acc = 0
        boundary, remaining = "zz", 0  # quota exceeds corpus: keep all
        for bkt in sorted(bkts):
            if acc + bkts[bkt] >= q:
                boundary, remaining = bkt, q - acc
                break
            acc += bkts[bkt]
        plan_rows.append((source, boundary, remaining))
    plan = spark.createDataFrame(
        plan_rows, "source string, boundary string, remaining int"
    )
    staged = bucketed.join(F.broadcast(plan), "source")
    early = staged.filter(F.col("bkt") < F.col("boundary"))
    wb = Window.partitionBy("source").orderBy("h", "doc_id")
    border = (
        staged.filter(F.col("bkt") == F.col("boundary"))
        .withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") <= F.col("remaining"))
        .drop("rk")
    )
    return (
        early.unionByName(border)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("sum_kept_ids"),
        )
        .orderBy("source")
    )


_QUOTA_ORACLE = """
        WITH ranked AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS STRING) || ':' || source), doc_id
                   ) AS rk
            FROM documents)
        SELECT source, CAST(COUNT(1) AS BIGINT) AS n_kept,
               CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
        FROM ranked
        WHERE rk <= 5 + 7 * (CAST(substr(source, 4, 10) AS INT) % 3)
        GROUP BY source ORDER BY source"""


@check("mixture_quota_twophase", small=True, oracle=_QUOTA_ORACLE)
def q_mixture_quota_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-phase scale path against the SAME oracle as the window
    formulation — survivor sets must be identical."""
    return mixture_quota_twophase(load(spark, sf_dir, "documents"))


@check(
    "mixture_quota_sample",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS STRING) || ':' || source), doc_id
                   ) AS rk
            FROM documents)
        SELECT source, CAST(COUNT(1) AS BIGINT) AS n_kept,
               CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
        FROM ranked
        WHERE rk <= 5 + 7 * (CAST(substr(source, 4, 10) AS INT) % 3)
        GROUP BY source ORDER BY source""",
)
def q_mixture_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture_quota_sample(load(spark, sf_dir, "documents"))
