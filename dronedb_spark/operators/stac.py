"""STAC ItemCollection query — the reference's richest read path
(SURVEY §3.2: generateStacItemCollection, stac.cpp:597-713).

Semantics: geometry-presence predicate (P5) + MBR bbox intersection (P6,
``MbrIntersects`` folded to 4 comparisons on materialized bbox columns —
SURVEY X9: no geometry library, fully Catalyst-pushable) + temporal
instant predicate (P7: captureTime ms → s when > 0 else mtime) + COUNT for
``numberMatched`` (A2) + ORDER BY path LIMIT/OFFSET paging (O5, default
limit 10, stac.cpp:610-613).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.catalog.derive import entries_df, with_catalog
from dronedb_spark.suite import check


def _instant() -> Column:
    return F.when(
        F.col("capture_ms") > 0,
        ((F.col("capture_ms") - F.col("capture_ms") % 1000) / 1000).cast("bigint"),
    ).otherwise(F.col("mtime"))


def _bbox_intersects(minx: float, miny: float, maxx: float, maxy: float) -> Column:
    """MBR intersection (stac.cpp:629-636) as pure column arithmetic:
    NOT (disjoint on either axis)."""
    return ~(
        (F.col("bbox_maxx") < F.lit(minx))
        | (F.col("bbox_minx") > F.lit(maxx))
        | (F.col("bbox_maxy") < F.lit(miny))
        | (F.col("bbox_miny") > F.lit(maxy))
    )


def stac_item_filter(
    entries: DataFrame,
    bbox: tuple[float, float, float, float] | None = None,
    t_start: int | None = None,
    t_end: int | None = None,
) -> DataFrame:
    df = entries.filter(F.col("type") != 1).filter(
        F.col("point_lon").isNotNull() | F.col("bbox_minx").isNotNull()
    )
    if bbox is not None:
        df = df.filter(_bbox_intersects(*bbox))
    inst = _instant()
    if t_start is not None:
        df = df.filter(inst >= F.lit(t_start))
    if t_end is not None:
        df = df.filter(inst <= F.lit(t_end))
    return df


def stac_items(
    entries: DataFrame,
    bbox: tuple[float, float, float, float] | None = None,
    t_start: int | None = None,
    t_end: int | None = None,
    limit: int = 10,
    offset: int = 0,
) -> DataFrame:
    if limit <= 0:
        limit = 10  # stac.cpp:610-613
    df = stac_item_filter(entries, bbox, t_start, t_end)
    return (
        df.select(
            "path",
            "type",
            _instant().alias("datetime_s"),
            "bbox_minx",
            "bbox_miny",
            "bbox_maxx",
            "bbox_maxy",
        )
        .orderBy("path")
        .offset(offset)
        .limit(limit)
    )


def stac_number_matched(
    entries: DataFrame,
    bbox: tuple[float, float, float, float] | None = None,
    t_start: int | None = None,
    t_end: int | None = None,
) -> DataFrame:
    return stac_item_filter(entries, bbox, t_start, t_end).agg(
        F.count(F.lit(1)).alias("number_matched")
    )


# ---------------------------------------------------------------- checks

_BBOX = (-60.0, -45.0, 90.0, 45.0)
_T0, _T1 = 1500001000, 1500090000

_ORACLE_FILTER = f"""
    type <> 1 AND (point_lon IS NOT NULL OR bbox_minx IS NOT NULL)
    AND NOT (bbox_maxx < {_BBOX[0]} OR bbox_minx > {_BBOX[2]}
             OR bbox_maxy < {_BBOX[1]} OR bbox_miny > {_BBOX[3]})
    AND (CASE WHEN capture_ms > 0
              THEN CAST((capture_ms - capture_ms % 1000) / 1000 AS BIGINT)
              ELSE mtime END) >= {_T0}
    AND (CASE WHEN capture_ms > 0
              THEN CAST((capture_ms - capture_ms % 1000) / 1000 AS BIGINT)
              ELSE mtime END) <= {_T1}
"""


@check(
    "stac_items_page",
    small=True,
    oracle=with_catalog(
        f"""SELECT path, type,
                   CASE WHEN capture_ms > 0
                        THEN CAST((capture_ms - capture_ms % 1000) / 1000 AS BIGINT)
                        ELSE mtime END AS datetime_s,
                   bbox_minx, bbox_miny, bbox_maxx, bbox_maxy
            FROM entries WHERE {_ORACLE_FILTER}
            ORDER BY path LIMIT 25 OFFSET 5"""
    ),
)
def q_stac_items_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stac_items(entries_df(spark, sf_dir), _BBOX, _T0, _T1, limit=25, offset=5)


@check(
    "stac_number_matched",
    oracle=with_catalog(
        f"SELECT CAST(COUNT(1) AS BIGINT) AS number_matched FROM entries WHERE {_ORACLE_FILTER}"
    ),
)
def q_stac_number_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stac_number_matched(entries_df(spark, sf_dir), _BBOX, _T0, _T1)


def stac_items_keyset(
    entries: DataFrame,
    bbox: tuple[float, float, float, float] | None,
    t_start: int | None,
    t_end: int | None,
    after_path: str,
    limit: int = 10,
) -> DataFrame:
    """Keyset pagination — the deep-paging scale path (SCALE.md): instead
    of ORDER BY + OFFSET (which must produce and discard `offset` rows on
    every page), continue from the last seen key with a pushable
    range predicate `path > after`.  Page cost is O(limit) at any depth."""
    df = stac_item_filter(entries, bbox, t_start, t_end)
    return (
        df.filter(F.col("path") > F.lit(after_path))
        .select(
            "path",
            "type",
            _instant().alias("datetime_s"),
            "bbox_minx",
            "bbox_miny",
            "bbox_maxx",
            "bbox_maxy",
        )
        .orderBy("path")
        .limit(limit)
    )


@check(
    "stac_items_keyset",
    small=True,
    oracle=with_catalog(
        f"""SELECT path, type,
                   CASE WHEN capture_ms > 0
                        THEN CAST((capture_ms - capture_ms % 1000) / 1000 AS BIGINT)
                        ELSE mtime END AS datetime_s,
                   bbox_minx, bbox_miny, bbox_maxx, bbox_maxy
            FROM entries WHERE {_ORACLE_FILTER} AND path > 'src4'
            ORDER BY path LIMIT 10"""
    ),
)
def q_stac_items_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stac_items_keyset(entries_df(spark, sf_dir), _BBOX, _T0, _T1, "src4", limit=10)


def stac_datetime_iso(entries: DataFrame) -> DataFrame:
    """Epoch→ISO8601 'Z' assembly (stac.cpp:25-51): the `datetime` field
    of a STAC Item, from the capture-instant coalesce.  TZ-SAFE: the
    instant is converted to a UTC wall-clock TIMESTAMP_NTZ before
    formatting, so the output is identical under ANY session/driver
    timezone (date_format alone renders in session TZ)."""
    inst = _instant()
    iso = F.expr(
        "date_format(convert_timezone('UTC', timestamp_seconds("
        "CASE WHEN capture_ms > 0 THEN CAST((capture_ms - capture_ms % 1000) / 1000 AS BIGINT)"
        " ELSE mtime END)), \"yyyy-MM-dd'T'HH:mm:ss'Z'\")"
    )
    return (
        entries.filter(F.col("type") != 1)
        .select("path", inst.alias("instant_s"), iso.alias("datetime_iso"))
        .orderBy("path")
    )


@check(
    "stac_datetime_iso",
    oracle=with_catalog(
        """SELECT path,
                  CASE WHEN capture_ms > 0
                       THEN CAST((capture_ms - capture_ms % 1000) / 1000 AS BIGINT)
                       ELSE mtime END AS instant_s,
                  strftime(make_timestamp(
                      (CASE WHEN capture_ms > 0
                            THEN CAST((capture_ms - capture_ms % 1000) / 1000 AS BIGINT)
                            ELSE mtime END) * 1000000), '%Y-%m-%dT%H:%M:%SZ') AS datetime_iso
           FROM entries WHERE type <> 1 ORDER BY path"""
    ),
)
def q_stac_datetime_iso(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stac_datetime_iso(entries_df(spark, sf_dir))


# ------------------------------------------------- Collection document

_STAC_VERSION = "1.0.0"


def stac_collection_rollup(entries: DataFrame) -> DataFrame:
    """The distributed portion of the Collection document assembly
    (stac.cpp:528-595): ONE aggregation pass producing every dynamic
    field — item-link path list (geometry entries, ordered by path,
    stac.cpp:563-574), asset path list (no geometry, type ∉ {1 Directory,
    7 DroneDB}, stac.cpp:580-591), the spatial extent rollup
    (database.cpp:370-384 Extent(GUnion(...)) → min/max over the
    materialized MBR/point columns), and the temporal extent
    (captureTime ms > 0 → ISO Z, database.cpp:391-420).

    Scale shape: counts/min/max are map-side partial aggregates; the two
    path lists are the only driver-sized payload (a Collection document
    enumerates its members by design — same output the reference emits).
    """
    has_geom = F.col("point_lon").isNotNull() | F.col("bbox_minx").isNotNull()
    is_asset = (~has_geom) & ~F.col("type").isin(1, 7)
    minx = F.coalesce(F.col("bbox_minx"), F.col("point_lon"))
    miny = F.coalesce(F.col("bbox_miny"), F.col("point_lat"))
    maxx = F.coalesce(F.col("bbox_maxx"), F.col("point_lon"))
    maxy = F.coalesce(F.col("bbox_maxy"), F.col("point_lat"))
    cap_s = F.when(
        F.col("capture_ms") > 0,
        ((F.col("capture_ms") - F.col("capture_ms") % 1000) / 1000).cast("bigint"),
    )
    return entries.agg(
        F.sort_array(F.collect_list(F.when(has_geom, F.col("path")))).alias("item_paths"),
        F.sort_array(F.collect_list(F.when(is_asset, F.col("path")))).alias("asset_paths"),
        F.min(F.when(has_geom, minx)).alias("ext_minx"),
        F.min(F.when(has_geom, miny)).alias("ext_miny"),
        F.max(F.when(has_geom, maxx)).alias("ext_maxx"),
        F.max(F.when(has_geom, maxy)).alias("ext_maxy"),
        F.min(cap_s).alias("t_start_s"),
        F.max(cap_s).alias("t_end_s"),
    )


def stac_collection_doc(
    entries: DataFrame,
    collection_id: str,
    title: str | None = None,
    description: str | None = None,
    license: str = "proprietary",
    collection_root: str = ".",
    catalog_root: str = "",
) -> DataFrame:
    """The full STAC Collection JSON as a one-row (doc STRING) DataFrame —
    field-for-field the reference's generateStac collection branch
    (stac.cpp:528-595): id/type/title/description/license, root+parent
    links when a catalog root exists, self link when served, one
    rel:item link per geometry entry (href = /stac/<base64(path)>,
    type application/geo+json), assets keyed by path, and the
    spatial+temporal extent object.  TZ-safe ISO instants (NTZ convert,
    same discipline as ``stac_datetime_iso``)."""
    title = title or collection_id
    iso = (
        "date_format(convert_timezone('UTC', timestamp_seconds(%s)),"
        " \"yyyy-MM-dd'T'HH:mm:ss'Z'\")"
    )
    r = stac_collection_rollup(entries).select(
        "*",
        F.expr(iso % "t_start_s").alias("t_start_iso"),
        F.expr(iso % "t_end_s").alias("t_end_iso"),
    )
    static_links = []
    if catalog_root:
        static_links.append(
            '{"rel":"root","href":"%s/stac","type":"application/json"}' % catalog_root
        )
        static_links.append(
            '{"rel":"parent","href":"%s/stac","type":"application/json"}' % catalog_root
        )
    if collection_root != ".":
        static_links.append(
            '{"rel":"self","href":"%s/stac","type":"application/json"}' % collection_root
        )
    item_links = F.transform(
        F.col("item_paths"),
        lambda p: F.concat(
            F.lit('{"rel":"item","href":"%s/stac/' % collection_root),
            F.base64(p.cast("binary")),
            F.lit('","type":"application/geo+json","title":"'),
            p,
            F.lit('"}'),
        ),
    )
    all_links = item_links
    if static_links:
        all_links = F.concat(F.array(*[F.lit(s) for s in static_links]), item_links)
    assets = F.concat_ws(
        ",",
        F.transform(
            F.col("asset_paths"),
            lambda p: F.concat(
                F.lit('"'), p,
                F.lit('":{"href":"%s/download?path=' % collection_root),
                p, F.lit('","title":"'), p, F.lit('"}'),
            ),
        ),
    )
    bbox = F.when(
        F.col("ext_minx").isNotNull(),
        F.concat_ws(
            ",",
            F.col("ext_minx").cast("string"), F.col("ext_miny").cast("string"),
            F.col("ext_maxx").cast("string"), F.col("ext_maxy").cast("string"),
        ),
    ).otherwise(F.lit("0,0,0,0,0,0"))
    interval = F.concat(
        F.when(F.col("t_start_iso").isNotNull(),
               F.concat(F.lit('"'), F.col("t_start_iso"), F.lit('"'))).otherwise(F.lit("null")),
        F.lit(","),
        F.when(F.col("t_end_iso").isNotNull(),
               F.concat(F.lit('"'), F.col("t_end_iso"), F.lit('"'))).otherwise(F.lit("null")),
    )
    doc = F.concat(
        F.lit('{"stac_version":"%s","id":"%s","type":"Collection","title":"%s",'
              '"description":"%s","license":"%s","links":[' %
              (_STAC_VERSION, collection_id, title, description or title, license)),
        F.concat_ws(",", all_links),
        F.lit('],"extent":{"spatial":{"bbox":[['),
        bbox,
        F.lit(']]},"temporal":{"interval":[['),
        interval,
        F.lit(']]}},"assets":{'),
        assets,
        F.lit("}}"),
    )
    return r.select(doc.alias("doc"))


@check(
    "stac_collection_doc",
    small=True,
    oracle=with_catalog(
        """SELECT 'ds' AS collection_id,
                  CAST(n_items AS BIGINT) AS n_items,
                  CAST(n_assets AS BIGINT) AS n_assets,
                  md5(item_b64_csv) AS items_md5,
                  md5(asset_csv) AS assets_md5,
                  ext_minx, ext_miny, ext_maxx, ext_maxy,
                  strftime(make_timestamp(t_start_s * 1000000), '%Y-%m-%dT%H:%M:%SZ')
                      AS t_start_iso,
                  strftime(make_timestamp(t_end_s * 1000000), '%Y-%m-%dT%H:%M:%SZ')
                      AS t_end_iso
           FROM (
             SELECT
               COUNT(CASE WHEN point_lon IS NOT NULL OR bbox_minx IS NOT NULL
                          THEN 1 END) AS n_items,
               COUNT(CASE WHEN point_lon IS NULL AND bbox_minx IS NULL
                          AND type NOT IN (1, 7) THEN 1 END) AS n_assets,
               string_agg(CASE WHEN point_lon IS NOT NULL OR bbox_minx IS NOT NULL
                               THEN to_base64(CAST(path AS BLOB)) END, ','
                          ORDER BY path) AS item_b64_csv,
               string_agg(CASE WHEN point_lon IS NULL AND bbox_minx IS NULL
                               AND type NOT IN (1, 7) THEN path END, ','
                          ORDER BY path) AS asset_csv,
               MIN(CASE WHEN point_lon IS NOT NULL OR bbox_minx IS NOT NULL
                        THEN COALESCE(bbox_minx, point_lon) END) AS ext_minx,
               MIN(CASE WHEN point_lon IS NOT NULL OR bbox_minx IS NOT NULL
                        THEN COALESCE(bbox_miny, point_lat) END) AS ext_miny,
               MAX(CASE WHEN point_lon IS NOT NULL OR bbox_minx IS NOT NULL
                        THEN COALESCE(bbox_maxx, point_lon) END) AS ext_maxx,
               MAX(CASE WHEN point_lon IS NOT NULL OR bbox_minx IS NOT NULL
                        THEN COALESCE(bbox_maxy, point_lat) END) AS ext_maxy,
               MIN(CASE WHEN capture_ms > 0
                        THEN CAST((capture_ms - capture_ms % 1000) / 1000 AS BIGINT)
                   END) AS t_start_s,
               MAX(CASE WHEN capture_ms > 0
                        THEN CAST((capture_ms - capture_ms % 1000) / 1000 AS BIGINT)
                   END) AS t_end_s
             FROM entries) roll"""
    ),
)
def q_stac_collection_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level check of the Collection rollup: link lists are pinned
    by md5 over the ordered base64(path) CSV (the exact href payload the
    document embeds), extent by the min/max rollup, temporal by the ISO
    instants — every dynamic field of the document, scalar-projected."""
    r = stac_collection_rollup(entries_df(spark, sf_dir))
    iso = (
        "date_format(convert_timezone('UTC', timestamp_seconds(%s)),"
        " \"yyyy-MM-dd'T'HH:mm:ss'Z'\")"
    )
    return r.select(
        F.lit("ds").alias("collection_id"),
        F.size("item_paths").cast("bigint").alias("n_items"),
        F.size("asset_paths").cast("bigint").alias("n_assets"),
        F.md5(
            F.concat_ws(",", F.transform(F.col("item_paths"), lambda p: F.base64(p.cast("binary"))))
        ).alias("items_md5"),
        F.md5(F.concat_ws(",", F.col("asset_paths"))).alias("assets_md5"),
        "ext_minx", "ext_miny", "ext_maxx", "ext_maxy",
        F.expr(iso % "t_start_s").alias("t_start_iso"),
        F.expr(iso % "t_end_s").alias("t_end_iso"),
    )


# ------------------------------------------ Projection STAC extension

PROJ_EXT_URL = "https://stac-extensions.github.io/projection/v2.0.0/schema.json"
_EPSG_RE = r'AUTHORITY\["EPSG","([0-9]+)"\]'

# from_json schema for the property keys the extension consumes
_PROJ_PROPS_SCHEMA = (
    "geotransform array<double>, projection string, width int, height int"
)


def stac_item_proj(props: DataFrame, props_col: str = "properties") -> DataFrame:
    """Projection STAC extension fields for item assembly
    (buildStacItem, stac.cpp:384-417; extractEpsgFromWkt stac.cpp:174-197).

    Input: (path, <props_col> JSON string) entry rows.  Rows carrying
    BOTH ``geotransform`` and ``projection`` properties (GeoRaster
    ingests, entry.cpp:305-317) emit one row each with

      * ``stac_extension``  — the projection v2.0.0 schema URL the item's
        ``stac_extensions`` array gains;
      * ``gt0..gt5``        — ``proj:transform`` (the geotransform,
        verbatim, stac.cpp:395);
      * ``shape_h, shape_w``— ``proj:shape`` = [height, width] (rows,
        cols) when both present, else -1 sentinels (stac.cpp:398-405);
      * ``proj_wkt2``       — the stored WKT (stac.cpp:407-409);
      * ``proj_code``       — ``EPSG:<n>`` from the LAST
        ``AUTHORITY["EPSG","n"]`` marker in the WKT (``rfind`` in the
        reference — the outermost authority of a compound PROJCS), ''
        when the WKT names no EPSG authority (local/engineering CRS:
        v2.0.0 emits no proj:code, stac.cpp:412-416).

    All pure column work — JSON field extraction + a regexp over an
    already-ingested property string; no shuffle, fully codegen'd."""
    p = F.from_json(F.col(props_col), _PROJ_PROPS_SCHEMA)
    df = props.withColumn("_p", p).filter(
        F.col("_p.geotransform").isNotNull() & F.col("_p.projection").isNotNull()
    )
    epsg = F.try_element_at(
        F.regexp_extract_all(F.col("_p.projection"), F.lit(_EPSG_RE), F.lit(1)),
        F.lit(-1),
    )
    has_shape = F.col("_p.width").isNotNull() & F.col("_p.height").isNotNull()
    return df.select(
        "path",
        F.lit(PROJ_EXT_URL).alias("stac_extension"),
        *[F.col("_p.geotransform")[i].alias(f"gt{i}") for i in range(6)],
        F.when(has_shape, F.col("_p.height")).otherwise(F.lit(-1)).alias("shape_h"),
        F.when(has_shape, F.col("_p.width")).otherwise(F.lit(-1)).alias("shape_w"),
        F.col("_p.projection").alias("proj_wkt2"),
        F.when(
            epsg.cast("int") > 0, F.concat(F.lit("EPSG:"), epsg)
        ).otherwise(F.lit("")).alias("proj_code"),
    )


def stac_item_props_rewrite(props: DataFrame, props_col: str = "properties") -> DataFrame:
    """The in-place property REWRITE buildStacItem performs
    (stac.cpp:394-416): for rows with both geotransform+projection, the
    SOURCE keys (geotransform, projection, and width/height only when
    proj:shape is emitted) are erased and the proj:* keys added — every
    OTHER property (datetime, captureTime, bands, make/model, ... —
    real entries always carry siblings, entry.cpp:140-196) survives
    verbatim.  Returns (path, properties) with the rewritten JSON,
    entries in sorted-key order (the nlohmann::json object order the
    reference serializes); untouched rows pass through byte-identical.

    Mechanics: the properties parse once as ``map<string, variant>``
    (typed values of any shape), surviving entries re-serialize via
    ``to_json`` on the variant (numbers canonicalize, nested structure
    is preserved), and the proj:* entries assemble from the typed
    extraction — all column work, no shuffle."""
    p = F.from_json(F.col(props_col), _PROJ_PROPS_SCHEMA)
    has = p["geotransform"].isNotNull() & p["projection"].isNotNull()
    has_shape = has & p["width"].isNotNull() & p["height"].isNotNull()
    epsg = F.try_element_at(
        F.regexp_extract_all(p["projection"], F.lit(_EPSG_RE), F.lit(1)), F.lit(-1)
    )
    gt_json = F.concat(
        F.lit('"proj:transform":['),
        F.concat_ws(",", *[p["geotransform"][i].cast("string") for i in range(6)]),
        F.lit("]"),
    )
    shape_json = F.concat(
        F.lit('"proj:shape":['),
        p["height"].cast("string"), F.lit(","), p["width"].cast("string"),
        F.lit("]"),
    )
    # JSON string-escape the WKT (backslash first, then quote — the only
    # JSON-special characters a WKT can carry)
    wkt_escaped = F.replace(
        F.replace(p["projection"], F.lit("\\"), F.lit("\\\\")),
        F.lit('"'),
        F.lit('\\"'),
    )
    wkt_json = F.concat(F.lit('"proj:wkt2":"'), wkt_escaped, F.lit('"'))
    code_json = F.when(
        epsg.cast("int") > 0,
        F.concat(F.lit('"proj:code":"EPSG:'), epsg, F.lit('"')),
    ).otherwise(F.lit(None).cast("string"))
    staged = props.withColumn("_hs", has_shape).withColumn(
        "_entries", F.map_entries(F.from_json(F.col(props_col), "map<string, variant>"))
    )
    survivors = F.transform(
        F.filter(
            F.col("_entries"),
            lambda e: ~(
                e["key"].isin("geotransform", "projection")
                | (F.col("_hs") & e["key"].isin("width", "height"))
            ),
        ),
        lambda e: F.concat(
            F.lit('"'), e["key"], F.lit('":'), F.to_json(e["value"])
        ),
    )
    proj_entries = F.array_compact(
        F.array(
            gt_json,
            F.when(has_shape, shape_json).otherwise(F.lit(None).cast("string")),
            wkt_json,
            code_json,
        )
    )
    rewritten = F.concat(
        F.lit("{"),
        F.array_join(F.array_sort(F.concat(proj_entries, survivors)), ","),
        F.lit("}"),
    )
    return staged.select(
        "path",
        F.when(has, rewritten).otherwise(F.col(props_col)).alias("properties"),
    )


# Deterministic GeoRaster property source for the parity check: the
# doc_id%7==3 rows ARE the catalog's GeoRaster entries (type 4 in
# _files_cte); this fragment runs VERBATIM in Spark SQL and DuckDB so
# both sides derive identical scalars, and only the Spark side
# round-trips them through a real properties JSON string.
_GEORASTER_PROPS_SQL = """
    SELECT
        CASE WHEN doc_id % 9 = 0 THEN source || '/sub_' || CAST(doc_id % 7 AS STRING)
             || '/doc_' || LPAD(CAST(doc_id AS STRING), 6, '0') || '.txt'
             ELSE source || '/doc_' || LPAD(CAST(doc_id AS STRING), 6, '0') || '.txt' END AS path,
        CAST(500000 + (doc_id % 100) * 10 AS DOUBLE) AS gt0,
        CAST((1 + doc_id % 4) * 0.25 AS DOUBLE) AS gt1,
        CAST(0 AS DOUBLE) AS gt2,
        CAST(6000000 - (doc_id % 50) * 10 AS DOUBLE) AS gt3,
        CAST(0 AS DOUBLE) AS gt4,
        CAST(-((1 + doc_id % 4) * 0.25) AS DOUBLE) AS gt5,
        CASE WHEN doc_id % 13 = 0 THEN CAST(NULL AS INT)
             ELSE CAST(512 + (doc_id % 4) * 256 AS INT) END AS width,
        CASE WHEN doc_id % 13 = 0 THEN CAST(NULL AS INT)
             ELSE CAST(384 + (doc_id % 3) * 128 AS INT) END AS height,
        CASE WHEN doc_id % 11 = 0
             THEN 'LOCAL_CS["Engineering CRS",LOCAL_DATUM["Local",0],UNIT["metre",1]]'
             ELSE 'PROJCS["WGS 84 / UTM zone ' || CAST(1 + doc_id % 60 AS STRING)
                  || 'N",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
                  || '298.257223563,AUTHORITY["EPSG","7030"]],AUTHORITY["EPSG","6326"]],'
                  || 'AUTHORITY["EPSG","4326"]],PROJECTION["Transverse_Mercator"],'
                  || 'AUTHORITY["EPSG","' || CAST(32600 + 1 + doc_id % 60 AS STRING)
                  || '"]]'
        END AS projection
    FROM documents WHERE doc_id % 7 = 3
"""


@check(
    "stac_item_proj_fields",
    oracle=f"""
        WITH gr AS ({_GEORASTER_PROPS_SQL})
        SELECT path,
               '{PROJ_EXT_URL}' AS stac_extension,
               gt0, gt1, gt2, gt3, gt4, gt5,
               COALESCE(height, -1) AS shape_h,
               COALESCE(width, -1) AS shape_w,
               projection AS proj_wkt2,
               COALESCE('EPSG:' ||
                   (regexp_extract_all(projection,
                       'AUTHORITY\\["EPSG","([0-9]+)"\\]', 1))[-1], '') AS proj_code
        FROM gr
        ORDER BY path""",
)
def q_stac_item_proj_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoRaster entries → real properties JSON → projection-extension
    fields.  The Spark side assembles each entry's properties STRING
    (to_json: geotransform array, WKT, width/height — width/height
    absent for the doc_id%13 rows, engineering-CRS WKT without an EPSG
    authority for the doc_id%11 rows) and extracts through the JSON
    path the item assembler uses; non-georeferenced Image rows are fed
    in too and must be filtered out (no geotransform ⇒ no extension).
    The oracle computes the same fields from the shared scalars."""
    from dronedb_spark.tables import register_views

    register_views(spark, sf_dir, ["documents"])
    gr = spark.sql(_GEORASTER_PROPS_SQL)
    props = gr.select(
        "path",
        F.to_json(
            F.struct(
                F.array(*[F.col(f"gt{i}") for i in range(6)]).alias("geotransform"),
                F.col("projection"),
                F.col("width"),
                F.col("height"),
            )
        ).alias("properties"),
    )
    # plain Image entries: properties with neither geotransform nor
    # projection — the extension must skip them (stac.cpp:386-388)
    plain = spark.sql(
        "SELECT source || '/img_' || LPAD(CAST(doc_id AS STRING), 6, '0')"
        " || '.jpg' AS path, '{\"width\": 640, \"height\": 480}' AS properties"
        " FROM documents WHERE doc_id % 7 = 2"
    )
    return stac_item_proj(props.unionByName(plain)).orderBy("path")


# Sibling properties real entries always carry (set during ingest just
# like datetime in buildStacItem, stac.cpp:389-393): the rewrite must
# preserve them.  Shared-dialect fragment over the GeoRaster scalars.
_GEORASTER_SIBLINGS_SQL = f"""
    SELECT g.*,
           '2021-0' || CAST(1 + CAST(g.gt0 AS BIGINT) % 9 AS STRING)
               || '-15T08:30:00Z' AS dt,
           CAST(1600000000000 + CAST(g.gt0 AS BIGINT) * 1000 AS BIGINT) AS ct,
           CASE WHEN CAST(g.gt0 AS BIGINT) % 20 = 0 THEN 'DJI'
                ELSE 'Parrot' END AS mk
    FROM ({_GEORASTER_PROPS_SQL}) g
"""


@check(
    "stac_props_rewrite_siblings",
    oracle=f"""
        WITH gr AS ({_GEORASTER_SIBLINGS_SQL})
        SELECT path,
               '{{' || array_to_string(list_sort([x FOR x IN [
                   '"proj:transform":[' || CAST(gt0 AS VARCHAR) || ',' ||
                       CAST(gt1 AS VARCHAR) || ',' || CAST(gt2 AS VARCHAR) || ',' ||
                       CAST(gt3 AS VARCHAR) || ',' || CAST(gt4 AS VARCHAR) || ',' ||
                       CAST(gt5 AS VARCHAR) || ']',
                   CASE WHEN width IS NOT NULL AND height IS NOT NULL
                        THEN '"proj:shape":[' || CAST(height AS VARCHAR) || ','
                             || CAST(width AS VARCHAR) || ']' END,
                   '"proj:wkt2":"' ||
                       replace(replace(projection, '\\', '\\\\'), '"', '\\"') || '"',
                   CASE WHEN (regexp_extract_all(projection,
                                 'AUTHORITY\\["EPSG","([0-9]+)"\\]', 1))[-1] IS NOT NULL
                        THEN '"proj:code":"EPSG:' ||
                             (regexp_extract_all(projection,
                                 'AUTHORITY\\["EPSG","([0-9]+)"\\]', 1))[-1] || '"' END,
                   '"captureTime":' || CAST(ct AS VARCHAR),
                   '"datetime":"' || dt || '"',
                   '"make":"' || mk || '"'
               ] IF x IS NOT NULL]), ',') || '}}' AS properties
        FROM gr ORDER BY path""",
)
def q_stac_props_rewrite_siblings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property REWRITE with realistic entries: every GeoRaster row
    carries datetime, captureTime, and make alongside the projection
    sources.  The rewrite must erase exactly the source keys, add the
    proj:* keys, and pass every sibling through — the oracle assembles
    the full expected JSON (sorted-entry canonical form) from the same
    scalars."""
    from dronedb_spark.tables import register_views

    register_views(spark, sf_dir, ["documents"])
    gr = spark.sql(_GEORASTER_SIBLINGS_SQL)
    props = gr.select(
        "path",
        F.to_json(
            F.struct(
                F.array(*[F.col(f"gt{i}") for i in range(6)]).alias("geotransform"),
                F.col("projection"),
                F.col("width"),
                F.col("height"),
                F.col("dt").alias("datetime"),
                F.col("ct").alias("captureTime"),
                F.col("mk").alias("make"),
            )
        ).alias("properties"),
    )
    return stac_item_props_rewrite(props).orderBy("path")
