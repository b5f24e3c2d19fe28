"""Deterministic derivation of the DroneDB catalog model from the driver's
synthetic tables.

The reference engine's single source of truth is the ``entries`` table
(SpatiaLite, ``src/library/database.cpp:36-57``) plus the ``entries_meta``
key-value store (``database.cpp:66-90``).  The driver's test environment
ships TPC-H-ish tables only, so we *derive* a faithful ``entries`` /
``entries_meta`` catalog deterministically from ``documents`` and ``events``
using a SQL dialect subset that runs VERBATIM in both Spark SQL and DuckDB.
This makes Spark-vs-oracle parity structural: both sides share one
derivation text, and only the operator under test differs.

Catalog schema mirrors SURVEY §1.1/§1.7:
  path, hash, type, mtime, size, depth,
  point_lon/point_lat/point_alt           (point_geom, always EPSG:4326 XYZ)
  bbox_minx/miny/maxx/maxy                (materialized MBR — SURVEY X9)
  capture_ms                              (properties.captureTime, epoch ms)

Variant "b" applies controlled mutations (FIXTURES.md §3) for the delta /
merge algebra: ~10% removed rows, ~10% modified hashes, ~10% renamed paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dronedb_spark.tables import register_views

# EntryType enum (reference: src/include/entry_types.h:15-34)
ENTRY_TYPES = {
    "Undefined": 0,
    "Directory": 1,
    "Generic": 2,
    "GeoImage": 3,
    "GeoRaster": 4,
    "PointCloud": 5,
    "Image": 6,
    "DroneDB": 7,
    "Markdown": 8,
    "Video": 9,
    "GeoVideo": 10,
    "Model": 11,
    "Panorama": 12,
    "GeoPanorama": 13,
    "Vector": 14,
    "GaussianSplat": 15,
    "Tiles3D": 16,
}


def _files_cte(variant: str) -> str:
    """Files portion of the entries derivation.

    variant "a": the base dataset.
    variant "b": delta fixture — doc_id%10==3 rows absent (delta adds),
    doc_id%10==4 rows re-hashed (modified → adds), doc_id%10==6 rows
    renamed (old path → add, new path → remove).
    variant "c": filesystem-state fixture for the status join (J7) — like
    "b" but with mtime semantics: %10==4 re-hashed AND touched (→
    Modified), %10==8 touched with unchanged content (→ NotModified via
    the hash check — the mtime-then-hash short-circuit path, X4).
    """
    mtime_expr = "1500000000 + doc_id * 37"
    if variant == "a":
        where = ""
        hash_expr = "md5(text)"
        path_expr = (
            "CASE WHEN doc_id % 9 = 0 THEN source || '/sub_' || CAST(doc_id % 7 AS STRING)"
            " || '/doc_' || LPAD(CAST(doc_id AS STRING), 6, '0') || '.txt'"
            " ELSE source || '/doc_' || LPAD(CAST(doc_id AS STRING), 6, '0') || '.txt' END"
        )
        depth_expr = "CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END"
    elif variant == "b":
        where = "WHERE doc_id % 10 <> 3"
        hash_expr = "CASE WHEN doc_id % 10 = 4 THEN md5(text || 'mod') ELSE md5(text) END"
        path_expr = (
            "CASE WHEN doc_id % 10 = 6 THEN source || '/renamed_'"
            " || LPAD(CAST(doc_id AS STRING), 6, '0') || '.txt'"
            " WHEN doc_id % 9 = 0 THEN source || '/sub_' || CAST(doc_id % 7 AS STRING)"
            " || '/doc_' || LPAD(CAST(doc_id AS STRING), 6, '0') || '.txt'"
            " ELSE source || '/doc_' || LPAD(CAST(doc_id AS STRING), 6, '0') || '.txt' END"
        )
        depth_expr = "CASE WHEN doc_id % 10 = 6 THEN 1 WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END"
    elif variant == "c":
        where = "WHERE doc_id % 10 <> 3"
        hash_expr = "CASE WHEN doc_id % 10 = 4 THEN md5(text || 'mod') ELSE md5(text) END"
        path_expr = (
            "CASE WHEN doc_id % 10 = 6 THEN source || '/renamed_'"
            " || LPAD(CAST(doc_id AS STRING), 6, '0') || '.txt'"
            " WHEN doc_id % 9 = 0 THEN source || '/sub_' || CAST(doc_id % 7 AS STRING)"
            " || '/doc_' || LPAD(CAST(doc_id AS STRING), 6, '0') || '.txt'"
            " ELSE source || '/doc_' || LPAD(CAST(doc_id AS STRING), 6, '0') || '.txt' END"
        )
        depth_expr = "CASE WHEN doc_id % 10 = 6 THEN 1 WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END"
        mtime_expr = (
            "1500000000 + doc_id * 37 + CASE WHEN doc_id % 10 IN (4, 8) THEN 1 ELSE 0 END"
        )
    else:  # pragma: no cover
        raise ValueError(f"unknown variant {variant!r}")

    return f"""
    SELECT
        {path_expr} AS path,
        {hash_expr} AS hash,
        CAST(CASE (doc_id % 7) WHEN 0 THEN 2 WHEN 1 THEN 3 WHEN 2 THEN 6
             WHEN 3 THEN 4 WHEN 4 THEN 5 WHEN 5 THEN 14 ELSE 8 END AS INT) AS type,
        CAST({mtime_expr} AS BIGINT) AS mtime,
        CAST(n_chars AS BIGINT) AS size,
        CAST({depth_expr} AS INT) AS depth,
        CASE WHEN doc_id % 5 = 0 THEN CAST(NULL AS DOUBLE)
             ELSE CAST(-180.0 + ((doc_id * 7919) % 36000) / 100.0 AS DOUBLE) END AS point_lon,
        CASE WHEN doc_id % 5 = 0 THEN CAST(NULL AS DOUBLE)
             ELSE CAST(-90.0 + ((doc_id * 104729) % 18000) / 100.0 AS DOUBLE) END AS point_lat,
        CASE WHEN doc_id % 5 = 0 THEN CAST(NULL AS DOUBLE)
             ELSE CAST(doc_id % 500 AS DOUBLE) END AS point_alt,
        CAST(CASE WHEN doc_id % 4 = 0 THEN 0
             ELSE (1500000000 + doc_id * 36) * 1000 END AS BIGINT) AS capture_ms,
        CAST(1 + doc_id % 10 AS DOUBLE) / 1000.0 AS halfw
    FROM documents
    {where}
    """


def entries_sql(variant: str = "a") -> str:
    """Full SELECT (usable as a CTE body) producing the entries catalog."""
    return f"""
    SELECT path, hash, type, mtime, size, depth,
           point_lon, point_lat, point_alt,
           point_lon - halfw AS bbox_minx,
           point_lat - halfw AS bbox_miny,
           point_lon + halfw AS bbox_maxx,
           point_lat + halfw AS bbox_maxy,
           capture_ms
    FROM ({_files_cte(variant)}) files
    UNION ALL
    SELECT path, '' AS hash, CAST(1 AS INT) AS type, CAST(1500000000 AS BIGINT) AS mtime,
           CAST(0 AS BIGINT) AS size, CAST(0 AS INT) AS depth,
           CAST(NULL AS DOUBLE) AS point_lon, CAST(NULL AS DOUBLE) AS point_lat,
           CAST(NULL AS DOUBLE) AS point_alt,
           CAST(NULL AS DOUBLE) AS bbox_minx, CAST(NULL AS DOUBLE) AS bbox_miny,
           CAST(NULL AS DOUBLE) AS bbox_maxx, CAST(NULL AS DOUBLE) AS bbox_maxy,
           CAST(0 AS BIGINT) AS capture_ms
    FROM (SELECT DISTINCT source AS path FROM documents) dirs
    """


# entries_meta mirrors database.cpp:66-90; plural-key convention (key ends in
# 's' ⇒ list semantics) per metamanager.cpp:30-45,101-104. path='' rows are
# dataset-level metadata.
META_SQL = """
    SELECT md5(CAST(event_id AS STRING)) AS id,
           CASE WHEN event_id % 11 = 0 THEN ''
                ELSE 'src' || CAST(user_id % 5 AS STRING) || '/doc_'
                     || LPAD(CAST(event_id % 500 AS STRING), 6, '0') || '.txt' END AS path,
           CASE WHEN event_type = 'error' THEN 'annotations'
                WHEN event_type = 'click' THEN 'tags'
                WHEN event_type = 'purchase' THEN 'rating'
                WHEN event_type = 'signup' THEN 'name'
                ELSE 'visibility' END AS key,
           props AS data,
           CAST(1600000000 + event_id * 13 AS BIGINT) AS mtime
    FROM events
"""


def with_catalog(query_sql: str, variants: tuple[str, ...] = ("a",), meta: bool = False) -> str:
    """Wrap an operator's SQL with the shared catalog CTEs.

    ``entries`` is variant "a"; ``entries_b`` is added when requested;
    ``entries_meta`` when ``meta``.  The returned text runs identically in
    Spark SQL and DuckDB (this is the oracle-parity contract).
    """
    ctes = []
    if "a" in variants:
        ctes.append(f"entries AS ({entries_sql('a')})")
    if "b" in variants:
        ctes.append(f"entries_b AS ({entries_sql('b')})")
    if "c" in variants:
        ctes.append(f"entries_c AS ({entries_sql('c')})")
    if meta:
        ctes.append(f"entries_meta AS ({META_SQL})")
    q = query_sql.lstrip()
    if q.upper().startswith("WITH"):
        # merge the query's own CTE list into ours
        q = "," + q[4:]
        return "WITH " + ",\n".join(ctes) + q
    return "WITH " + ",\n".join(ctes) + "\n" + query_sql


# (applicationId, sf_dir, variant) -> derived catalog.  ~25 driver checks
# derive the same entries table; the memo hands them one DataFrame, and a
# hit saves the view registration and analysis a fresh derivation costs
# (about 60 ms for entries, 23 ms for entries_meta; sf0.001, 4 vCPU,
# median of 8).  Deliberately NOT .persist()ed:
# ``reset_run_cache`` clears the block-manager cache before every timed
# run and every parity check, so a persist would put an InMemoryTableScan
# only into the first deriving check of a session, and a check's plan
# would depend on which checks ran before it.
_DERIVE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def entries_df(spark: SparkSession, sf_dir: str, variant: str = "a") -> DataFrame:
    """The entries catalog as a DataFrame (derivation shared with the oracle)."""
    key = (spark.sparkContext.applicationId, sf_dir, f"entries_{variant}")
    hit = _DERIVE_CACHE.get(key)
    if hit is None:
        register_views(spark, sf_dir, ["documents"])
        hit = spark.sql(entries_sql(variant))
        _DERIVE_CACHE[key] = hit
    return hit


def entries_meta_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, "meta")
    hit = _DERIVE_CACHE.get(key)
    if hit is None:
        register_views(spark, sf_dir, ["events"])
        hit = spark.sql(META_SQL)
        _DERIVE_CACHE[key] = hit
    return hit
