"""Filesystem ingest — scan + fingerprint + parse into the entries schema.

Reference: ``getPathList``/``getIndexPathList`` (dbops.cpp:88-275),
``parseEntry`` (entry.cpp:34-489), SHA256 hashing (dbops.cpp:461).

Spark-first design: the file LISTING is the distributed ``binaryFile``
scan (``list_files_df``, content column pruned — no bytes read); the
changed-set selection is an mtime join; and the CONTENT work (read +
sha256 + header sniff + per-type property extraction) runs in the Arrow
kernel of the worker that owns each file (``ingest_listing``) — a 100 TB
ingest parallelizes per file with no driver-materialized path list.
Directory rows (metadata-only, orders of magnitude fewer) come from a
driver stat walk.

Metadata extraction defaults to the REAL pure-Python EXIF parser
(sources/exif.py): capture time, GPS point (upgrading Image→GeoImage,
Panorama→GeoPanorama), orientation, focal length, make/model, pixel
dimensions.  ``register_parser`` remains the seam for plugging a full
GDAL/PDAL-class decoder for the formats EXIF does not cover
(entry.cpp:226-462).
"""

from __future__ import annotations

import json
import os
import posixpath
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dronedb_spark.catalog.derive import ENTRY_TYPES
from dronedb_spark.sources.fingerprint import fingerprint

ENTRIES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("hash", T.StringType(), True),
        T.StructField("type", T.IntegerType(), True),
        T.StructField("properties", T.StringType(), True),
        T.StructField("mtime", T.LongType(), True),
        T.StructField("size", T.LongType(), True),
        T.StructField("depth", T.IntegerType(), True),
        T.StructField("point_lon", T.DoubleType(), True),
        T.StructField("point_lat", T.DoubleType(), True),
        T.StructField("point_alt", T.DoubleType(), True),
        T.StructField("bbox_minx", T.DoubleType(), True),
        T.StructField("bbox_miny", T.DoubleType(), True),
        T.StructField("bbox_maxx", T.DoubleType(), True),
        T.StructField("bbox_maxy", T.DoubleType(), True),
        T.StructField("capture_ms", T.LongType(), True),
    ]
)

META_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("data", T.StringType(), False),
        T.StructField("mtime", T.LongType(), False),
    ]
)

# pluggable decode hook: (rel_path, header_bytes) -> properties dict.
# DEFAULT is the pure-Python multi-format parser (sources/parse.py):
# JPEG/TIFF EXIF, PNG IHDR, LAS header, PLY header, WAV fmt, GeoTIFF tags —
# real metadata extraction with no image libraries; register_parser(fn)
# swaps in a full decoder, register_parser(None) restores the default.
_PARSER: Callable[[str, bytes], dict] | None = None


def register_parser(fn: Callable[[str, bytes], dict] | None) -> None:
    global _PARSER
    _PARSER = fn


def _active_parser() -> Callable[[str, bytes], dict]:
    if _PARSER is not None:
        return _PARSER
    from dronedb_spark.sources.parse import parse_entry

    return parse_entry


def scan_paths(
    root: str,
    include_dirs: bool = True,
    max_depth: int = 0,
    skip_hidden: bool = True,
) -> list[tuple[str, bool]]:
    """S1: enumerate (relative_path, is_dir) under root, skipping the
    catalog dir itself (reference skips '.ddb', dbops.cpp:219-233)."""
    out: list[tuple[str, bool]] = []
    root = os.path.abspath(root)
    for dirpath, dirnames, filenames in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        dirnames[:] = [
            d
            for d in dirnames
            if d != ".ddb_spark" and d != ".ddb" and not (skip_hidden and d.startswith("."))
        ]
        if rel != ".":
            relp = rel.replace(os.sep, "/")
            depth = relp.count("/") + 1
            if max_depth and depth > max_depth:
                dirnames[:] = []
                continue
            if include_dirs:
                out.append((relp, True))
        for f in filenames:
            if skip_hidden and f.startswith("."):
                continue
            relf = posixpath.join("" if rel == "." else rel.replace(os.sep, "/"), f)
            if max_depth and relf.count("/") + 1 > max_depth + 1:
                continue
            out.append((relf, False))
    return sorted(out)


def _entry_row(rel: str, data: bytes, mtime: int, parser, full_path: str | None = None) -> dict:
    """One file's bytes → one entries-schema row (shared by every ingest
    path).  Hashing is hashlib.sha256 — identical output to F.sha2 — so
    the worker that LISTED a changed file also reads and hashes it without
    a second scan."""
    import hashlib

    # 64 KiB covers EXIF + XMP APP1 segments (embedded thumbnails can push
    # the XMP packet past the first 4 KiB on real drone JPEGs)
    header = data[:65536]
    t = fingerprint(rel, header)
    props: dict = {}
    geo = {}
    try:
        if t == ENTRY_TYPES["Model"]:
            # Model properties need the WHOLE mesh (bounds) plus sidecar
            # georef probes next to it (entry.cpp:656-709) — the worker
            # owning the file reads both from shared storage in-kernel
            from dronedb_spark.sources.model3d import parse_model_entry

            props = parse_model_entry(rel, data, full_path)
        else:
            props = parser(rel, header) or {}
    except NotImplementedError:
        props = {}
    for k in ("point_lon", "point_lat", "point_alt"):
        if k in props:
            geo[k] = float(props.pop(k))
    # decode-dependent refinements (entry.cpp:1081-1098): an image with
    # integer aspect ratio w//h >= 2 is a Panorama; EXIF GPS then upgrades
    # Image → GeoImage and Panorama → GeoPanorama
    if t == ENTRY_TYPES["Image"]:
        w, h = props.get("width"), props.get("height")
        if w and h and w // h >= 2:
            t = ENTRY_TYPES["Panorama"]
    if "point_lon" in geo:
        if t == ENTRY_TYPES["Image"]:
            t = ENTRY_TYPES["GeoImage"]
        elif t == ENTRY_TYPES["Panorama"]:
            t = ENTRY_TYPES["GeoPanorama"]
        elif t == ENTRY_TYPES["Video"]:
            t = ENTRY_TYPES["GeoVideo"]  # XMP GPSCoordinates (entry.cpp:93,243)
    capture_ms = int(props.get("captureTime", 0))
    # GeoImage ground footprint at ingest (entry.cpp:246-258): geotagged
    # non-pano image + XMP relative altitude + resolved sensor size +
    # focal ⇒ polygon_geom; the catalog materializes its MBR (SURVEY X9)
    bbox = None
    if "_bbox" in props:
        # parser-computed footprint MBR (Model equirectangular ring,
        # entry.cpp:682-700): lift into the bbox columns, keep it out of
        # the serialized properties JSON
        w, s, e, n = props.pop("_bbox")
        bbox = (w, s, e, n)
    if t == ENTRY_TYPES["GeoImage"]:
        ra = props.get("relativeAltitude")
        sw, sh = props.get("sensorWidth"), props.get("sensorHeight")
        fl = props.get("focalLengthComputed") or props.get("focalLength")
        if ra and sw and sh and fl:
            from dronedb_spark.functions.footprint import calculate_footprint

            try:
                ring = calculate_footprint(
                    sw, sh, fl,
                    geo["point_lat"], geo["point_lon"], geo.get("point_alt", 0.0),
                    ra,
                    props.get("cameraYaw", 0.0),
                    props.get("cameraPitch", -90.0),
                    props.get("cameraRoll", 0.0),
                )
                lons = [p[0] for p in ring]
                lats = [p[1] for p in ring]
                bbox = (min(lons), min(lats), max(lons), max(lats))
            except (ValueError, ZeroDivisionError, OverflowError):
                bbox = None
    return {
        "path": rel,
        "hash": hashlib.sha256(data).hexdigest(),
        "type": t,
        "properties": json.dumps(props, sort_keys=True) if props else "null",
        "mtime": int(mtime),
        "size": len(data),
        "depth": rel.count("/"),
        "point_lon": geo.get("point_lon"),
        "point_lat": geo.get("point_lat"),
        "point_alt": geo.get("point_alt"),
        "bbox_minx": bbox[0] if bbox else geo.get("point_lon"),
        "bbox_miny": bbox[1] if bbox else geo.get("point_lat"),
        "bbox_maxx": bbox[2] if bbox else geo.get("point_lon"),
        "bbox_maxy": bbox[3] if bbox else geo.get("point_lat"),
        "capture_ms": capture_ms,
    }


def list_files_df(spark: SparkSession, root: str) -> DataFrame:
    """S1/S2 at scale: the file LISTING as a distributed binaryFile scan —
    (path, fs_mtime, size) with the content column pruned, so no bytes are
    read.  Spark's file index parallelizes directory discovery across the
    cluster above the parallel-discovery threshold; nothing about the tree
    is materialized on the driver (the round-1 os.walk + collect() listing
    was flagged as the 100M-file bottleneck).  Hidden files/dirs and the
    catalog dir itself are excluded (reference skips '.ddb',
    dbops.cpp:219-233)."""
    from pyspark.sql.utils import AnalysisException

    root = os.path.abspath(root)
    try:
        listing = (
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(root)
            .select(
                F.col("path").alias("uri"),
                F.unix_timestamp("modificationTime").cast("long").alias("fs_mtime"),
                F.col("length").alias("size"),
            )
        )
    except AnalysisException:  # empty tree
        return spark.createDataFrame(
            [], schema="path string, fs_mtime long, size long"
        )
    # binaryFile URIs render as file:/..., file://... or file:///...; slice
    # off everything through "<root>/".  The root travels as a literal
    # Column (never interpolated into SQL text — quote-safe).
    rel = F.substring(
        F.col("uri"),
        F.instr(F.col("uri"), F.lit(root + "/")) + F.lit(len(root) + 1),
        F.lit(2**30),
    )
    return (
        listing.withColumn("path", rel)
        .drop("uri")
        .filter(~F.exists(F.split("path", "/"), lambda s: s.startswith(".")))
        .select("path", "fs_mtime", "size")
    )


def ingest_listing(listing: DataFrame, root: str) -> DataFrame:
    """Hash+fingerprint+parse the files named by ``listing`` (path,
    fs_mtime): each worker OPENS its partition's files from shared storage
    inside the Arrow kernel — the changed-set selection stays a DataFrame
    (mtime join), no path list ever rides through the driver.

    The kernel runs on at most ``defaultParallelism`` partitions: a
    Python task costs a worker round-trip (~100 ms on four cores)
    whatever its row count, and a binaryFile scan charges every file
    ``openCostInBytes`` (4 MB), so small files pack only ~32 to a split —
    uncapped, a 500-file tree runs 16 kernel tasks, most of them near
    empty, and an empty change set pays for all of them.  ``coalesce``
    never adds partitions and never shuffles."""
    root = os.path.abspath(root)
    parser = _active_parser()

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in ENTRIES_SCHEMA.fields]
        for pdf in it:
            rows = []
            for rel, fs_mtime in zip(pdf["path"], pdf["fs_mtime"]):
                full = os.path.join(root, rel)
                try:
                    with open(full, "rb") as f:
                        data = f.read()
                except OSError:
                    continue  # raced deletion — sync picks it up
                rows.append(_entry_row(rel, data, fs_mtime, parser, full_path=full))
            yield pd.DataFrame(rows, columns=cols)

    cores = listing.sparkSession.sparkContext.defaultParallelism
    return (
        listing.select("path", "fs_mtime")
        .coalesce(cores)
        .mapInPandas(run, schema=ENTRIES_SCHEMA)
    )


def dir_rows_df(spark: SparkSession, root: str, rel_paths: list[str] | None = None) -> DataFrame:
    """Directory rows (metadata-only, no content): a driver-side stat walk
    like the reference's — the directory count is orders of magnitude
    below the file count, so this is not the scaling term."""
    root = os.path.abspath(root)
    dirs = [p for p, is_dir in scan_paths(root) if is_dir]
    if rel_paths is not None:
        keep = set(rel_paths)
        dirs = [p for p in dirs if p in keep]
    def _dir_type(p: str) -> int:
        # a directory holding its own catalog is a nested dataset —
        # EntryType DroneDB (entry.cpp:70-77 checks <dir>/.ddb/dbase.sqlite;
        # here the marker is our catalog dir, or a reference-format .ddb)
        full = os.path.join(root, p)
        if os.path.isdir(os.path.join(full, ".ddb_spark")) or os.path.exists(
            os.path.join(full, ".ddb", "dbase.sqlite")
        ):
            return ENTRY_TYPES["DroneDB"]
        return ENTRY_TYPES["Directory"]

    rows = [
        (
            p,
            "",
            _dir_type(p),
            "null",
            int(os.path.getmtime(os.path.join(root, p))),
            0,
            p.count("/"),
            None,
            None,
            None,
            None,
            None,
            None,
            None,
            0,
        )
        for p in dirs
    ]
    return spark.createDataFrame(rows, schema=ENTRIES_SCHEMA)


def ingest(spark: SparkSession, root: str, rel_paths: list[str] | None = None) -> DataFrame:
    """S4+S5+S6: distributed fingerprint+hash+parse of files under root
    into the entries schema.  File discovery is the distributed
    ``list_files_df`` scan; directory rows are appended driver-side."""
    root = os.path.abspath(root)
    files = list_files_df(spark, root)
    if rel_paths is not None:
        files = files.filter(F.col("path").isin(list(rel_paths)))
    entries = ingest_listing(files, root)
    return entries.unionByName(dir_rows_df(spark, root, rel_paths))
