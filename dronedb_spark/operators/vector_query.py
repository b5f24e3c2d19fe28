"""Vector feature query & describe (SURVEY R14, R15, P8, K2, A16).

Reference: ``queryVector`` (vector_query.cpp:121-292): open layer →
optional bbox spatial filter (reprojected rect) → LIMIT/OFFSET paging →
GeoJSON features; ``describeVector`` (vector_query.cpp:296-332): layers
with geometry type, feature count, extent, fields.

Our engine's representation is a ``features`` table (FIXTURES.md §5):
one row per feature with materialized envelope columns — the MBR-only
predicate discipline of the reference (SURVEY X9) means bbox filtering is
4 pushable comparisons, paging is ORDER BY fid LIMIT/OFFSET, and describe
is a groupBy.  The driver environment has no vector fixture, so the table
is derived deterministically from ``part`` via shared-dialect SQL (same
contract as catalog.derive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import register_views

# two datasets; vec1 has two layers (parcels MultiPolygon, roads LineString)
FEATURES_SQL = """
    SELECT CASE WHEN p_partkey % 4 = 0 THEN 'vec2' ELSE 'vec1' END AS dataset_id,
           CASE WHEN p_partkey % 4 = 0 THEN 'pois'
                WHEN p_partkey % 2 = 0 THEN 'roads' ELSE 'parcels' END AS layer,
           CAST(p_partkey AS BIGINT) AS fid,
           CASE WHEN p_partkey % 4 = 0 THEN 'Point'
                WHEN p_partkey % 2 = 0 THEN 'LineString' ELSE 'MultiPolygon' END AS geom_type,
           CAST(-120.0 + ((p_partkey * 733) % 4000) / 100.0 AS DOUBLE) AS bbox_minx,
           CAST(30.0 + ((p_partkey * 389) % 1500) / 100.0 AS DOUBLE) AS bbox_miny,
           CAST(-120.0 + ((p_partkey * 733) % 4000) / 100.0
                + (1 + p_partkey % 7) / 100.0 AS DOUBLE) AS bbox_maxx,
           CAST(30.0 + ((p_partkey * 389) % 1500) / 100.0
                + (1 + p_partkey % 5) / 100.0 AS DOUBLE) AS bbox_maxy,
           p_size AS n_vertices
    FROM part
"""


def features_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ["part"])
    return spark.sql(FEATURES_SQL)


def query_vector(
    features: DataFrame,
    dataset_id: str,
    layer: str,
    bbox: tuple[float, float, float, float] | None = None,
    max_features: int = 0,
    start_index: int = 0,
) -> DataFrame:
    """R14: layer select + bbox intersection + ORDER BY fid paging
    (vector_query.cpp:227-253 uses OGR SQL LIMIT/OFFSET)."""
    df = features.filter(
        (F.col("dataset_id") == dataset_id) & (F.col("layer") == layer)
    )
    if bbox is not None:
        minx, miny, maxx, maxy = bbox
        df = df.filter(
            ~(
                (F.col("bbox_maxx") < minx)
                | (F.col("bbox_minx") > maxx)
                | (F.col("bbox_maxy") < miny)
                | (F.col("bbox_miny") > maxy)
            )
        )
    df = df.orderBy("fid")
    if start_index > 0:
        df = df.offset(start_index)
    if max_features > 0:
        df = df.limit(max_features)
    return df


def describe_vector(features: DataFrame, dataset_id: str) -> DataFrame:
    """R15/A16: per-layer featureCount + union envelope + geometry type
    (layerToJson, vector_query.cpp:81-115; vector.cpp:52-139)."""
    return (
        features.filter(F.col("dataset_id") == dataset_id)
        .groupBy("layer", "geom_type")
        .agg(
            F.count(F.lit(1)).alias("feature_count"),
            F.min("bbox_minx").alias("ext_minx"),
            F.min("bbox_miny").alias("ext_miny"),
            F.max("bbox_maxx").alias("ext_maxx"),
            F.max("bbox_maxy").alias("ext_maxy"),
        )
        .orderBy("layer")
    )


# ---------------------------------------------------------------- checks

_BBOX = (-110.0, 32.0, -95.0, 42.0)


@check(
    "vector_query_page",
    small=True,
    oracle=f"""
        WITH features AS ({FEATURES_SQL})
        SELECT dataset_id, layer, fid, geom_type,
               bbox_minx, bbox_miny, bbox_maxx, bbox_maxy, n_vertices
        FROM features
        WHERE dataset_id = 'vec1' AND layer = 'parcels'
          AND NOT (bbox_maxx < {_BBOX[0]} OR bbox_minx > {_BBOX[2]}
                   OR bbox_maxy < {_BBOX[1]} OR bbox_miny > {_BBOX[3]})
        ORDER BY fid LIMIT 20 OFFSET 5""",
)
def q_vector_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return query_vector(
        features_df(spark, sf_dir), "vec1", "parcels", _BBOX, max_features=20, start_index=5
    )


@check(
    "vector_describe",
    oracle=f"""
        WITH features AS ({FEATURES_SQL})
        SELECT layer, geom_type, CAST(COUNT(1) AS BIGINT) AS feature_count,
               MIN(bbox_minx) AS ext_minx, MIN(bbox_miny) AS ext_miny,
               MAX(bbox_maxx) AS ext_maxx, MAX(bbox_maxy) AS ext_maxy
        FROM features WHERE dataset_id = 'vec1'
        GROUP BY layer, geom_type ORDER BY layer""",
)
def q_vector_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return describe_vector(features_df(spark, sf_dir), "vec1")
