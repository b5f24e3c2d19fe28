"""Domain/host-level quality aggregation and caps — the
RefinedWeb/FineWeb corpus-curation discipline (Penedo et al. 2023):
web-scale corpora are wildly skewed by HOST (a handful of domains
contribute most documents), so curation keys rollups and sampling caps
on the domain, not the document — per-domain doc/token/quality
rollups, then a deterministic per-domain survivor cap that feeds the
source-level temperature mixture budgets (``text/mixture.py``).

The fixture corpus carries no URL column, so the domain here is a
DERIVED deterministic host id (source + a quadratic-residue class of
doc_id — mildly skewed, shared verbatim with the oracle); a production
run substitutes the parsed URL host and every shape below is
unchanged.

Exactness discipline: the quality rollup exposes MEANS as ratios of
exact integer sums (never AVG over doubles — partial-aggregation order
would drift across engines/partitionings); the cap takes the first C
documents per domain in salted-md5 hash order (the
``mixture_quota_sample`` reproducible-shuffle contract); budgets on the
capped corpus reuse the integerized largest-remainder allocation.

Scale shape: rollups are one map-side-combinable groupBy(domain); the
cap is one hash partition on domain + an in-partition rank (domains
are many and bounded-size — the GOOD window case, unlike per-source
ranking); the budget stage runs on the source table (model-state
rows)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

DOMAIN_CAP = 8  # max surviving documents per domain


def _domain_sql(dialect: str) -> str:
    """Shared derivation: domain = source/'d'<quadratic residue of
    doc_id mod 10> — deterministic, mildly skewed (residues 0 and 5
    appear half as often as 1/4/6/9)."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    return f"source || '/d' || CAST((doc_id * doc_id) % 10 AS {s})"


def with_domain(docs: DataFrame) -> DataFrame:
    """Documents + their derived ``domain`` column (a real pipeline
    parses the URL host here)."""
    return docs.withColumn("domain", F.expr(_domain_sql("spark")))


def domain_quality_rollup(docs: DataFrame) -> DataFrame:
    """(domain, n_docs, n_tokens, distinct_ratio): per-domain corpus
    accounting — document count, whitespace-token mass, and lexical
    diversity as a ratio of exact sums (Σ distinct tokens / Σ tokens),
    the host-level signals FineWeb-style curation thresholds on."""
    toks = tokens("text")
    per_doc = with_domain(docs).select(
        "domain",
        F.size(toks).cast("bigint").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_dis"),
    )
    return per_doc.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        (F.sum("n_dis").cast("double") / F.sum("n_tok")).alias("distinct_ratio"),
    )


def domain_cap(docs: DataFrame, cap: int = DOMAIN_CAP) -> DataFrame:
    """The surviving documents after the per-domain cap: the first
    ``cap`` docs per domain in deterministic hash order (the hash IS
    the shuffle — reproducible across runs, engines, cluster sizes).
    Returns (doc_id, source, domain)."""
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("@"), F.col("domain")))
    w = Window.partitionBy("domain").orderBy(h, "doc_id")
    return (
        with_domain(docs)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .select("doc_id", "source", "domain")
    )


# ----------------------------------------------------------- checks --

_D_DOMAIN = _domain_sql("duckdb")

def d_capped_sql(rel: str = "documents") -> str:
    """The capped-survivor SELECT over any (doc_id, source) relation."""
    return f"""
    SELECT doc_id, source, domain FROM (
        SELECT doc_id, source, domain,
               ROW_NUMBER() OVER (
                   PARTITION BY domain
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || '@' || domain), doc_id
               ) AS rk
        FROM (SELECT doc_id, source, {_D_DOMAIN} AS domain FROM {rel}) d) r
    WHERE rk <= {DOMAIN_CAP}"""


_D_CAPPED = d_capped_sql("documents")


@check(
    "domain_quality_rollup",
    small=True,
    oracle=f"""
        SELECT domain,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(n_dis) AS DOUBLE) / SUM(n_tok) AS distinct_ratio
        FROM (
            SELECT {_D_DOMAIN} AS domain,
                   len(string_split(text, ' ')) AS n_tok,
                   len(list_distinct(string_split(text, ' '))) AS n_dis
            FROM documents) t
        GROUP BY domain ORDER BY domain""",
)
def q_domain_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level rollup over the corpus: counts, token mass, and the
    exact-sum diversity ratio per derived domain."""
    return domain_quality_rollup(load(spark, sf_dir, "documents")).orderBy("domain")


@check(
    "domain_cap_sample",
    small=True,
    oracle=f"""
        WITH capped AS ({_D_CAPPED})
        SELECT domain,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
        FROM capped GROUP BY domain ORDER BY domain""",
)
def q_domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-domain survivor set, exactly: which documents survive an
    8-per-domain cap is pinned by the deterministic hash order (sum of
    surviving doc_ids per domain against the window oracle)."""
    capped = domain_cap(load(spark, sf_dir, "documents"))
    return (
        capped.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("sum_kept_ids"),
        )
        .orderBy("domain")
    )


@check(
    "domain_capped_budgets",
    small=True,
    oracle=f"""
        WITH capped AS ({_D_CAPPED}),
        counts AS (
            SELECT source, COUNT(*) AS n_docs FROM capped GROUP BY source),
        weighted AS (
            SELECT source, n_docs,
                   CAST(FLOOR(SQRT(n_docs * 1000000.0)) AS BIGINT) AS weight
            FROM counts),
        tot AS (SELECT SUM(weight) AS w_sum FROM weighted),
        staged AS (
            SELECT source, n_docs, weight,
                   CAST((10000::BIGINT * weight) // w_sum AS BIGINT) AS base,
                   (10000::BIGINT * weight) % w_sum AS rem
            FROM weighted CROSS JOIN tot),
        lo AS (SELECT 10000 - SUM(base) AS leftover FROM staged)
        SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs, s.weight,
               CAST(s.base + CASE WHEN ROW_NUMBER() OVER
                        (ORDER BY s.rem DESC, s.source) <= lo.leftover
                    THEN 1 ELSE 0 END AS BIGINT) AS budget
        FROM staged s CROSS JOIN lo
        ORDER BY s.source""",
)
def q_domain_capped_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cap FEEDING the mixture machinery: temperature budgets
    computed over the domain-capped corpus — per-source counts change
    under the cap, and the largest-remainder allocation reflects it
    seat for seat."""
    from dronedb_spark.text.mixture import temperature_budgets

    capped = domain_cap(load(spark, sf_dir, "documents"))
    return temperature_budgets(capped.select("source")).orderBy("source")


TOP_N_DOMAINS = 8


def top_domains_with_other(docs: DataFrame, n: int = TOP_N_DOMAINS) -> DataFrame:
    """(bucket, rank, n_docs, n_tokens): the cardinality-capped
    dashboard rollup — the top-``n`` domains by document count keep
    their identity (deterministic ties by domain name), everything else
    collapses into ONE 'other' row (rank n+1) so a high-cardinality
    dimension can feed a fixed-size report.  One aggregate + one
    domains-sized rank window; the overflow regroup is a second
    domains-sized aggregate, never a data pass."""
    per = with_domain(docs).select(
        "domain", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    agg = per.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    w = Window.orderBy(F.desc("n_docs"), "domain")
    ranked = agg.withColumn("rk", F.row_number().over(w))
    return (
        ranked.select(
            F.when(F.col("rk") <= n, F.col("domain"))
            .otherwise(F.lit("other"))
            .alias("bucket"),
            F.when(F.col("rk") <= n, F.col("rk"))
            .otherwise(F.lit(n + 1))
            .cast("bigint")
            .alias("rank"),
            "n_docs",
            "n_tokens",
        )
        .groupBy("bucket", "rank")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


@check(
    "top_domains_other",
    small=True,
    oracle=f"""
        WITH per AS (
            SELECT {_domain_sql("duckdb")} AS domain,
                   len(string_split(text, ' ')) AS n_tok
            FROM documents),
        agg AS (
            SELECT domain, CAST(COUNT(1) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS n_tokens
            FROM per GROUP BY domain),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY n_docs DESC, domain) AS rk
            FROM agg)
        SELECT CASE WHEN rk <= {TOP_N_DOMAINS} THEN domain
                    ELSE 'other' END AS bucket,
               CAST(CASE WHEN rk <= {TOP_N_DOMAINS} THEN rk
                         ELSE {TOP_N_DOMAINS + 1} END AS BIGINT) AS rank,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM ranked GROUP BY 1, 2 ORDER BY rank, bucket""",
)
def q_top_domains_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 domains by document count plus the 'other' overflow row —
    identity, rank, and both mass columns value-checked."""
    return top_domains_with_other(load(spark, sf_dir, "documents")).orderBy(
        "rank", "bucket"
    )
