"""URL curation — the entry stage of a web-scale corpus pipeline
(RefinedWeb, Penedo et al. 2023 §3.1; C4, Raffel et al. 2020): before
any text-level filter runs, documents are kept or dropped by their URL
alone.  Three operators:

  1. CANONICALIZE — strip the fragment, lowercase the host, drop a
     leading ``www.``, drop the scheme's default port, strip trailing
     slashes from the path, remove tracking query parameters
     (``utm_*``/``fbclid``/``gclid``/``ref``) and sort the survivors —
     so ``HTTP://WWW.Site.example:80/p/3/?utm_source=x&b=2&a=1#frag``
     and ``https://site.example/p/3?a=1&b=2`` collapse to the same key.
     The canonical key deliberately EXCLUDES the scheme: an http/https
     pair of the same page is the single most common crawl duplicate.
  2. CANONICAL DEDUP — keep the smallest doc_id per canonical URL.
  3. BLOCKLIST — drop documents whose host matches a blocklist entry
     at any DNS-label suffix (``site.example.com`` blocks
     ``cdn.site.example.com`` but never ``notsite.example.com`` — label
     boundaries, not substring match), the UT1/RefinedWeb semantics.

Scale shape: canonicalization and blocklisting are pure column
expressions (whole-stage codegen, zero shuffle, zero UDFs); the
blocklist is a literal array folded into the plan (real deployments
broadcast-join a blocklist table — same shape, still no data shuffle).
Dedup is the only exchange: one hash shuffle on the canonical key with
a map-side-combinable min/count aggregate.  Nothing here moves the
100 TB corpus more than once.

The fixture corpus has no URL column, so the URL is DERIVED
deterministically from (doc_id, source) — shared verbatim with the
oracle (the ``text/domains.py`` discipline); a production run
substitutes the crawl's real URL column and every expression below is
unchanged.

No reference counterpart (the C++ engine has no web-curation surface);
cites the public RefinedWeb/C4 recipes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

# Tracking query-parameter prefixes dropped by canonicalization.
TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=", "ref=")

# Driver-check blocklist: one exact host, one registrable-domain entry
# that must also catch its subdomains at a label boundary.
BLOCKLIST = ("site4.example.com", "site9.example.com")


def _derived_url_sql(dialect: str) -> str:
    """Deterministic URL per (doc_id, source): exercises every
    canonicalization rule — scheme variants, WWW casing, default
    ports, a subdomain, trailing slashes, tracking params in shuffled
    order, fragments."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    q = f"CAST((doc_id * doc_id) % 10 AS {s})"
    return (
        "CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END || '://'"
        " || CASE WHEN doc_id % 8 = 0 THEN 'WWW.' WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END"
        " || CASE WHEN doc_id % 9 = 0 THEN 'cdn.' ELSE '' END"
        f" || 'site' || {q} || '.example.com'"
        " || CASE WHEN doc_id % 5 = 0 THEN (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE ':443' END) ELSE '' END"
        f" || '/' || source || '/p' || CAST(doc_id % 7 AS {s})"
        " || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END"
        " || CASE WHEN doc_id % 3 = 1 THEN '?utm_source=tr&b=2&a=1'"
        "        WHEN doc_id % 3 = 2 THEN '?a=1&b=2' ELSE '' END"
        " || CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END"
    )


def with_url(docs: DataFrame) -> DataFrame:
    """Documents + their derived ``url`` column (a real crawl carries
    the WARC-Target-URI here)."""
    return docs.withColumn("url", F.expr(_derived_url_sql("spark")))


# Spark-SQL canonical pieces over a column named ``url`` — textual
# fragments so the whole pipeline stays one codegen'd projection.
# '://' and '#' never recur past their first hit, so substring_index
# with -1 takes "everything after" without length arithmetic.
_REST = "substring_index(substring_index(url, '#', 1), '://', -1)"
_SCHEME = "lower(substring_index(substring_index(url, '#', 1), '://', 1))"
_HOSTPORT = f"substring_index({_REST}, '/', 1)"
_PORT = (
    f"CASE WHEN {_HOSTPORT} LIKE '%:%'"
    f" THEN substring_index({_HOSTPORT}, ':', -1) ELSE '' END"
)
# a non-default port is part of the origin and stays in the key
_PORTSFX = (
    f"CASE WHEN {_PORT} <> ''"
    f" AND NOT ({_SCHEME} = 'http' AND {_PORT} = '80')"
    f" AND NOT ({_SCHEME} = 'https' AND {_PORT} = '443')"
    f" THEN ':' || {_PORT} ELSE '' END"
)
_PATHQ = f"substring({_REST}, length({_HOSTPORT}) + 1)"
_HOST0 = f"lower(substring_index({_HOSTPORT}, ':', 1))"
_HOST = (
    f"CASE WHEN startswith({_HOST0}, 'www.')"
    f" THEN substring({_HOST0}, 5) ELSE {_HOST0} END"
)
_PATH0 = f"substring_index({_PATHQ}, '?', 1)"
_PATH = (
    f"CASE WHEN regexp_replace({_PATH0}, '/+$', '') = '' THEN '/'"
    f" ELSE regexp_replace({_PATH0}, '/+$', '') END"
)
_Q0 = (
    f"CASE WHEN {_PATHQ} LIKE '%?%'"
    f" THEN substring_index({_PATHQ}, '?', -1) ELSE '' END"
)
_KEEP = " AND ".join(f"NOT startswith(p, '{t}')" for t in TRACKING_PREFIXES)
_QS = (
    f"array_join(array_sort(filter(split({_Q0}, '&'),"
    f" p -> p <> '' AND {_KEEP})), '&')"
)
_CANON = (
    f"{_HOST} || {_PORTSFX} || {_PATH}"
    f" || CASE WHEN {_QS} <> '' THEN '?' || {_QS} ELSE '' END"
)


def canonicalize(docs_with_url: DataFrame) -> DataFrame:
    """+ (host, canonical_url): the scheme-free canonical key."""
    return docs_with_url.withColumn("host", F.expr(_HOST)).withColumn(
        "canonical_url", F.expr(_CANON)
    )


def canonical_dedup(docs_with_url: DataFrame) -> DataFrame:
    """(canonical_url, keeper, n_docs): smallest doc_id per canonical
    key + how many raw URLs collapsed onto it — one map-side-combined
    shuffle on the key."""
    return (
        canonicalize(docs_with_url)
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").cast("bigint").alias("keeper"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
    )


def host_suffixes(host: Column) -> Column:
    """All DNS-label suffixes of a host: ``cdn.a.com`` →
    [``cdn.a.com``, ``a.com``, ``com``] — so blocklist matching is at
    label boundaries, never substrings."""
    return F.expr(
        "transform(sequence(1, size(split(host, '[.]'))),"
        " i -> array_join(slice(split(host, '[.]'), i,"
        "        size(split(host, '[.]')) - i + 1), '.'))"
    )


def blocklist_filter(docs_with_url: DataFrame, blocklist=BLOCKLIST) -> DataFrame:
    """+ ``blocked``: true when any host-label suffix is on the
    blocklist.  The list folds into the plan as a literal array
    (arrays_overlap — JVM-side, zero shuffle)."""
    lits = F.array(*[F.lit(b) for b in blocklist])
    return canonicalize(docs_with_url).withColumn(
        "blocked", F.arrays_overlap(host_suffixes(F.col("host")), lits)
    )


# ---------------------------------------------------------------- oracles

_D_URL = _derived_url_sql("duckdb")

# DuckDB-side canonical pieces over a relation carrying ``url``.
_D_PARTS = """
    parts AS (
        SELECT *,
               split_part(url, '#', 1) AS nofrag
        FROM urls),
    parts2 AS (
        SELECT *,
               lower(split_part(nofrag, '://', 1)) AS scheme,
               substr(nofrag, strpos(nofrag, '://') + 3) AS rest
        FROM parts),
    parts3 AS (
        SELECT *,
               split_part(rest, '/', 1) AS hostport,
               substr(rest, length(split_part(rest, '/', 1)) + 1) AS pathq
        FROM parts2),
    parts4 AS (
        SELECT *,
               CASE WHEN starts_with(lower(split_part(hostport, ':', 1)), 'www.')
                    THEN substr(lower(split_part(hostport, ':', 1)), 5)
                    ELSE lower(split_part(hostport, ':', 1)) END AS host,
               CASE WHEN hostport LIKE '%:%'
                    THEN split_part(hostport, ':', 2) ELSE '' END AS port,
               split_part(pathq, '?', 1) AS path0,
               CASE WHEN pathq LIKE '%?%'
                    THEN substr(pathq, length(split_part(pathq, '?', 1)) + 2)
                    ELSE '' END AS q0
        FROM parts3),
    canon AS (
        SELECT *,
               CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
                    ELSE regexp_replace(path0, '/+$', '') END AS path,
               array_to_string(list_sort(list_filter(string_split(q0, '&'),
                   p -> p <> '' AND NOT starts_with(p, 'utm_')
                        AND NOT starts_with(p, 'fbclid=')
                        AND NOT starts_with(p, 'gclid=')
                        AND NOT starts_with(p, 'ref='))), '&') AS qs
        FROM parts4),
    final AS (
        SELECT *,
               host
               || CASE WHEN port <> ''
                       AND NOT (scheme = 'http' AND port = '80')
                       AND NOT (scheme = 'https' AND port = '443')
                       THEN ':' || port ELSE '' END
               || path
               || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END
                   AS canonical_url
        FROM canon)
"""


@check(
    "url_canonicalize",
    oracle=f"""
        WITH urls AS (SELECT doc_id, {_D_URL} AS url FROM documents),
        {_D_PARTS}
        SELECT doc_id, url, host, canonical_url
        FROM final ORDER BY doc_id""",
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's raw derived URL and its canonical key,
    value-checked row by row — schemes, WWW casing, default ports,
    trailing slashes, tracking params, and fragments all normalize."""
    docs = load(spark, sf_dir, "documents")
    return (
        canonicalize(with_url(docs))
        .select("doc_id", "url", "host", "canonical_url")
        .orderBy("doc_id")
    )


@check(
    "url_canonical_dedup",
    oracle=f"""
        WITH urls AS (SELECT doc_id, {_D_URL} AS url FROM documents),
        {_D_PARTS}
        SELECT canonical_url,
               CAST(MIN(doc_id) AS BIGINT) AS keeper,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM final GROUP BY canonical_url ORDER BY canonical_url""",
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup survivors: smallest doc_id + collapse count
    per canonical key (http/https and www/apex pairs merge)."""
    docs = load(spark, sf_dir, "documents")
    return canonical_dedup(with_url(docs)).orderBy("canonical_url")


@check(
    "url_blocklist_hosts",
    small=True,
    oracle=f"""
        WITH urls AS (SELECT doc_id, {_D_URL} AS url FROM documents),
        {_D_PARTS},
        flagged AS (
            SELECT host,
                   len(list_filter(
                       list_transform(range(1, len(string_split(host, '.')) + 1),
                           i -> array_to_string(string_split(host, '.')[i:], '.')),
                       s -> s IN ('site4.example.com', 'site9.example.com'))) > 0
                       AS blocked
            FROM final)
        SELECT host, blocked, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM flagged GROUP BY host, blocked ORDER BY host""",
)
def q_url_blocklist_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host blocklist classification: ``cdn.site4.example.com``
    must block via the label-suffix rule while ``site1.example.com``
    survives — rollup of (host, blocked, n_docs)."""
    docs = load(spark, sf_dir, "documents")
    return (
        blocklist_filter(with_url(docs))
        .groupBy("host", "blocked")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("host")
    )


@check(
    "url_canonical_dedup_10x",
    oracle=f"""
        WITH docs10 AS (
            SELECT doc_id + k.k * 10000000 AS doc_id, source
            FROM documents, (SELECT unnest(range(0, 10)) AS k) k),
        urls AS (SELECT doc_id, {_D_URL} AS url FROM docs10),
        {_D_PARTS}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(keeper) AS BIGINT) AS keeper_sum
        FROM (
            SELECT canonical_url, MIN(doc_id) AS keeper, COUNT(*) AS n_docs
            FROM final GROUP BY canonical_url) g""",
)
def q_url_canonical_dedup_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical dedup at 10× corpus mass (broadcast-inflated,
    re-keyed doc_ids → new URL variants): the pipeline is one narrow
    projection + one map-side-combined shuffle, so wall-clock must
    track row mass.  Output is the dedup accounting."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    ks = F.broadcast(
        docs.sparkSession.range(10).select(F.col("id").alias("k"))
    )
    docs10 = docs.crossJoin(ks).select(
        (F.col("doc_id") + F.col("k") * 10000000).alias("doc_id"), "source"
    )
    g = canonical_dedup(with_url(docs10))
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("keeper").cast("bigint").alias("keeper_sum"),
    )


@check(
    "crawl_entry_rollup",
    small=True,
    oracle=f"""
        WITH urls AS (SELECT doc_id, source, {_D_URL} AS url FROM documents),
        {_D_PARTS},
        unblocked AS (
            SELECT * FROM final
            WHERE len(list_filter(
                      list_transform(range(1, len(string_split(host, '.')) + 1),
                          i -> array_to_string(string_split(host, '.')[i:], '.')),
                      s -> s IN ('site4.example.com', 'site9.example.com'))) = 0),
        keep AS (
            SELECT source, doc_id,
                   row_number() OVER (PARTITION BY canonical_url
                                      ORDER BY doc_id) AS rn
            FROM unblocked)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids
        FROM keep WHERE rn = 1 GROUP BY source ORDER BY source""",
)
def q_crawl_entry_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed crawl ENTRY pipeline — blocklist gate, then
    canonical-URL dedup (first-seen by doc_id), then per-source
    survivor accounting: the 'what reaches text processing' number.
    One narrow projection + one window shuffle end-to-end."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    unblocked = blocklist_filter(with_url(docs)).filter(~F.col("blocked"))
    w = Window.partitionBy("canonical_url").orderBy("doc_id")
    kept = unblocked.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("sum_kept_ids"),
        )
        .orderBy("source")
    )
