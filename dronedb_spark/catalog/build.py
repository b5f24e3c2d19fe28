"""Build pipeline — derived artifacts keyed by content hash (SURVEY W9,
X11; reference build.cpp:39-66,161-330).

Reference semantics: per entry type, materialize a derivative
(PointCloud→COPC, GeoRaster→COG, Vector→vec/MVT, Image→thumbnails),
keyed by the entry's content hash, with completeness checks so re-builds
are idempotent and interrupted builds re-run.

Spark shape: the artifact is a Parquet dataset per (hash, kind) under
``<root>/.ddb_spark/build/``; the work list is an anti-join of the
catalog against already-complete artifacts (the reference's per-file
``isBuildComplete`` check, done as one set difference); each artifact
materializes through the engine's own operators (tile pyramid for
rasters, z-order pages for point clouds, thumbnails for images).
Spark's atomic Parquet job commit plays the role of the reference's
advisory build locks (build.cpp:243-250).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dronedb_spark.catalog.derive import ENTRY_TYPES

# Driver-side cap on the collected build queue — see pending_builds().
MAX_PENDING_BUILDS = 100_000

# type → artifact kind (build.cpp:39-66; Model→nxs build.cpp:51-53)
BUILD_KINDS = {
    ENTRY_TYPES["PointCloud"]: "copc",
    ENTRY_TYPES["GeoRaster"]: "cog",
    ENTRY_TYPES["Vector"]: "vec",
    ENTRY_TYPES["Image"]: "thumb",
    ENTRY_TYPES["GeoImage"]: "thumb",
    ENTRY_TYPES["GaussianSplat"]: "gsplat",
    ENTRY_TYPES["Tiles3D"]: "3dtiles",
    ENTRY_TYPES["Model"]: "nxs",
}


def _artifact_dir(root: str, hash_: str, kind: str) -> str:
    return os.path.join(root, ".ddb_spark", "build", hash_, kind)


def _escape_hadoop_glob(path: str) -> str:
    """Neutralize Hadoop glob metacharacters in a literal path with the
    backslash escape GlobPattern defines (``a*b`` → ``a\\*b``) — class
    wrapping ``[*]`` is NOT safe there because ``[`` itself then has no
    in-class escape re2j accepts."""
    import re

    return re.sub(r"([*?{}\[\]\\])", r"\\\1", path)


def _is_complete(root: str, hash_: str, kind: str) -> bool:
    """Complete = _SUCCESS marker AND the artifact's primary file both
    exist (build.cpp:171's fileExistsAndNonEmpty).  Checking the file
    too means an artifact-contract change (e.g. 3dtiles' marker.json →
    extracted tileset.json) invalidates stale directories instead of
    skipping them forever behind an old _SUCCESS.  Vector builds
    co-produce the ``mvt/`` sibling, so their completeness requires
    BOTH vec/features.parquet and mvt/metadata.json (build.cpp:148's
    "vec/source.gpkg AND mvt/metadata.json") — a partial build (vec/
    present, mvt/ missing) rebuilds instead of being silently accepted."""
    d = _artifact_dir(root, hash_, kind)
    ok = os.path.exists(os.path.join(d, "_SUCCESS")) and os.path.exists(
        os.path.join(d, ARTIFACT_FILES[kind])
    )
    if ok and kind == "vec":
        ok = os.path.exists(
            os.path.join(_artifact_dir(root, hash_, "mvt"), "metadata.json")
        )
    return ok


def _candidates_df(catalog):
    """Every buildable entry as (path, hash, kind) — stays a DataFrame."""
    kind_map = F.create_map(
        *[lit for k, v in BUILD_KINDS.items() for lit in (F.lit(k), F.lit(v))]
    )
    return (
        catalog.entries()
        .filter(F.col("type").isin(list(BUILD_KINDS)))
        .select("path", "hash", kind_map[F.col("type")].alias("kind"))
    )


def pending_builds_df(catalog):
    """Entries whose artifact is missing/incomplete, as a DataFrame.

    The completeness probe (a ``_SUCCESS`` stat per candidate,
    build.cpp:161's isBuildComplete) is per-file filesystem work, so it
    runs on the executors that own each candidate row — for a 10M-entry
    catalog no candidate list ever materializes on the driver; only the
    genuinely-pending rows flow downstream."""
    import pandas as pd  # noqa: F401  (mapInPandas batches)

    root = catalog.root

    def probe(it):
        for pdf in it:
            mask = [
                not _is_complete(root, h, k)
                for h, k in zip(pdf["hash"], pdf["kind"])
            ]
            yield pdf[mask]

    return _candidates_df(catalog).mapInPandas(
        probe, schema="path string, hash string, kind string"
    )


def pending_builds(catalog) -> list[tuple[str, str, str]]:
    """(path, hash, kind) for entries whose artifact is missing/incomplete.
    Collect is bounded by the actual pending work, not the catalog size —
    the driver-side build loop processes each entry anyway, so the list
    is inherently driver-sized; the cap makes a runaway backlog fail
    loudly instead of OOMing the driver."""
    rows = [
        (r["path"], r["hash"], r["kind"]) for r in pending_builds_df(catalog).collect()
    ]
    assert len(rows) <= MAX_PENDING_BUILDS, (
        f"pending-build backlog {len(rows)} exceeds {MAX_PENDING_BUILDS}; "
        "batch the build queue instead of collecting it whole"
    )
    return rows


ARTIFACT_FILES = {
    "copc": "data.copc.laz",
    "cog": "data.tif",
    "thumb": "thumb.png",
    "vec": "features.parquet",
    "gsplat": "splats.parquet",
    "3dtiles": "tileset.json",
    "nxs": "mesh.parquet",
}

THUMB_SIZE = 512  # thumbs.cpp default


def _bb(row: dict, pts) -> dict:
    """Attach the feature's WGS84 bbox when its vertices are known —
    the coordinates the co-produced mvt/ artifact tiles from."""
    pts = [p for p in pts if p is not None]
    if pts:
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        row.update(minx=min(xs), miny=min(ys), maxx=max(xs), maxy=max(ys))
    else:
        row.update(minx=None, miny=None, maxx=None, maxy=None)
    return row


def _features_from_bytes(rel: str, data: bytes) -> list[dict]:
    """Dispatch a vector file's bytes to its format parser → feature
    rows (the normalized ``vec`` artifact payload, with per-feature
    bboxes feeding the mvt/ sibling)."""
    import gzip
    import json as _json

    ext = os.path.splitext(rel.lower())[1]
    if ext == ".geojson":
        from dronedb_spark.sources.geojson import _walk_coords

        doc = _json.loads(data)
        feats = doc.get("features", []) if doc.get("type") == "FeatureCollection" else [doc]
        out = []
        for i, feat in enumerate(feats):
            geom = feat.get("geometry") or {}
            pts = list(_walk_coords(geom.get("coordinates", [])))
            out.append(_bb(
                {"fid": i, "geom_type": geom.get("type"), "n_vertices": len(pts)},
                pts,
            ))
        return out
    if ext == ".topojson":
        from dronedb_spark.sources.topojson import _decode_arcs, decode_geometry

        doc = _json.loads(data)
        arcs = _decode_arcs(doc)
        out = []
        for layer, obj in (doc.get("objects") or {}).items():
            geoms = obj.get("geometries", []) if obj.get("type") == "GeometryCollection" else [obj]
            for i, g in enumerate(geoms):
                gt, pts = decode_geometry(doc, g, arcs)
                out.append(_bb({"fid": i, "geom_type": gt, "n_vertices": len(pts)}, pts))
        return out
    if ext in (".shp", ".shz"):
        from dronedb_spark.sources.shapefile import parse_shp

        shp = gzip.decompress(data) if ext == ".shz" else data
        return [
            _bb({"fid": s["fid"], "geom_type": s["geom_type"],
                 "n_vertices": len(s["points"])}, s["points"])
            for s in parse_shp(shp)
        ]
    if ext in (".kml", ".kmz"):
        from dronedb_spark.sources.kml import parse_kml

        return [
            _bb({"fid": s.get("fid", i), "geom_type": s["geom_type"],
                 "n_vertices": s.get("n_vertices", len(s.get("points", [])))},
                s.get("points", []))
            for i, s in enumerate(parse_kml(data))
        ]
    if ext == ".dxf":
        from dronedb_spark.sources.dxf import parse_dxf

        return [
            _bb({"fid": i, "geom_type": s["geom_type"],
                 "n_vertices": len(s.get("points", []))}, s.get("points", []))
            for i, s in enumerate(parse_dxf(data.decode("ascii", errors="replace")))
        ]
    if ext == ".fgb":
        from dronedb_spark.sources.fgb import parse_fgb

        d = parse_fgb(data)
        return [
            _bb({"fid": i, "geom_type": f.get("geom_type", d.get("geom_type")),
                 "n_vertices": f.get("n_vertices", 0)}, f.get("points", []))
            for i, f in enumerate(d.get("features", []))
        ]
    raise NotImplementedError(f"vector format {ext}")


def _build_mvt_dir(mvt_dir: str, feats: list[dict]) -> None:
    """The mvt/ sibling of a vector build (vector.cpp:227-360 via GDAL's
    MVT DIRECTORY writer): ``{z}/{x}/{y}.pbf`` tiles for z in
    [0, MAXZOOM] plus ``metadata.json`` — MAXZOOM from the reference's
    tile-budget heuristic (mvt.cpp:12-54) over the layer envelope.
    Quantization matches ``functions/mvt.py:mvt_encode`` exactly (the
    driver-gated formula); the pbf framing is the same hand-rolled
    spec-2.1 encoder ``mvt_pbf_roundtrip`` gates byte-level."""
    import math as _math

    from dronedb_spark.functions.geo import mvt_max_zoom
    from dronedb_spark.functions.mvt import EXTENT, encode_tile_pbf

    boxed = [f for f in feats if f.get("minx") is not None]
    if boxed:
        x0 = min(f["minx"] for f in boxed)
        y0 = min(f["miny"] for f in boxed)
        x1 = max(f["maxx"] for f in boxed)
        y1 = max(f["maxy"] for f in boxed)
        area = max(0.0, x1 - x0) * max(0.0, y1 - y0)
    else:
        area = 0.0
    maxzoom = mvt_max_zoom(area, feature_count=len(boxed))
    tiles: dict[tuple[int, int, int], list[dict]] = {}
    for f in boxed:
        cx = (f["minx"] + f["maxx"]) / 2.0
        cy = (f["miny"] + f["maxy"]) / 2.0
        xn = (cx + 180.0) / 360.0
        lat = _math.radians(cy)
        yn = (1.0 - _math.log(_math.tan(lat) + 1.0 / _math.cos(lat)) / _math.pi) / 2.0
        for z in range(maxzoom + 1):
            n = float(2**z)
            tx = _math.floor(xn * n)
            ty = _math.floor(yn * n)
            tiles.setdefault((z, int(tx), int(ty)), []).append(
                {
                    "fid": f["fid"],
                    "geom_type": f["geom_type"],
                    "u": int(_math.floor((xn * n - tx) * EXTENT)),
                    "v": int(_math.floor((yn * n - ty) * EXTENT)),
                }
            )
    for (z, tx, ty), members in tiles.items():
        d = os.path.join(mvt_dir, str(z), str(tx))
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{ty}.pbf")
        with open(p + ".tmp", "wb") as fh:
            fh.write(encode_tile_pbf("layer", members))
        os.replace(p + ".tmp", p)
    import json as _json

    meta = {
        "name": "layer",
        "format": "pbf",
        "minzoom": 0,
        "maxzoom": maxzoom,
        "tiles": len(tiles),
        "features": len(boxed),
    }
    mp = os.path.join(mvt_dir, "metadata.json")
    os.makedirs(mvt_dir, exist_ok=True)
    with open(mp + ".tmp", "w") as fh:
        _json.dump(meta, fh, sort_keys=True)
    os.replace(mp + ".tmp", mp)


def _nearest_resize(arr, max_dim: int):
    import numpy as np

    h, w = arr.shape[:2]
    s = max(h, w) / float(max_dim)
    if s <= 1.0:
        return arr
    nh, nw = max(1, int(h / s)), max(1, int(w / s))
    ri = (np.arange(nh) * (h / nh)).astype(int)
    ci = (np.arange(nw) * (w / nw)).astype(int)
    return arr[ri][:, ci]


def build_one(root: str, rel: str, hash_: str, kind: str, data: bytes) -> str:
    """Materialize ONE real derivative (build.cpp:199-330 per-type
    dispatch) under the hash-keyed artifact dir; returns a status.
    Atomic: artifact writes to a tmp name, renames, then drops
    ``_SUCCESS`` — the completeness marker ``_is_complete`` checks."""
    import numpy as np

    target = _artifact_dir(root, hash_, kind)
    os.makedirs(target, exist_ok=True)
    out_path = os.path.join(target, ARTIFACT_FILES[kind])
    from dronedb_spark.catalog.buildlock import BuildLock

    # serialize per-artifact across processes/speculative duplicates
    # (buildlock.cpp); re-check completeness once the lock is ours — the
    # previous holder may have just finished this same artifact
    with BuildLock(os.path.join(target, ".buildlock")):
        if _is_complete(root, hash_, kind):
            return "already_built"
        return _build_one_locked(root, rel, hash_, kind, data, target, out_path)


def _build_one_locked(root: str, rel: str, hash_: str, kind: str,
                      data: bytes, target: str, out_path: str) -> str:
    import numpy as np

    try:
        if kind == "copc":
            from dronedb_spark.sources.copc import encode_copc
            from dronedb_spark.sources.las import decode_las
            from dronedb_spark.sources.laz import decode_laz, is_laz

            d = decode_laz(data) if is_laz(data) else decode_las(data)
            payload = encode_copc(
                d["x"], d["y"], d["z"],
                classification=d.get("classification"),
                intensity=d.get("intensity"),
            )
        elif kind == "cog":
            from dronedb_spark.sources.cog import encode_cog, is_optimized_cog
            from dronedb_spark.sources.tiff import decode_tiff

            if is_optimized_cog(data):
                # already an optimized COG: copy, never re-encode
                # (cog.cpp:81-95 via isOptimizedCog, cog_utils.cpp:11)
                payload = data
            else:
                arr, geo = decode_tiff(data)
                payload = encode_cog(
                    arr,
                    pixel_scale=geo.get("pixel_scale"),
                    tiepoint=geo.get("tiepoint"),
                    nodata=geo.get("nodata"),
                    compression="deflate",
                )
        elif kind == "thumb":
            from dronedb_spark.sources.gif import decode_gif
            from dronedb_spark.sources.jpeg import decode_jpeg
            from dronedb_spark.sources.png import decode_png, encode_png

            if data[:4] == b"\x89PNG":
                arr = decode_png(data)
            elif data[:4] == b"GIF8":
                arr = decode_gif(data)
            else:
                arr = decode_jpeg(data)
            payload = encode_png(_nearest_resize(np.asarray(arr), THUMB_SIZE))
        elif kind == "vec":
            import pyarrow as pa
            import pyarrow.parquet as pq

            rows = _features_from_bytes(rel, data)
            table = pa.Table.from_pylist(rows) if rows else pa.table(
                {"fid": pa.array([], pa.int64())}
            )
            pq.write_table(table, out_path + ".tmp")
            os.replace(out_path + ".tmp", out_path)
            # co-produce the mvt/ sibling (vector.cpp:227-360: a vector
            # build writes vec/ AND mvt/; completeness requires both)
            _build_mvt_dir(_artifact_dir(root, hash_, "mvt"), rows)
            open(os.path.join(target, "_SUCCESS"), "w").close()
            return "built"
        elif kind == "nxs":
            # role-equivalent of the vendored nexus build (build.cpp:51-53,
            # 3d.cpp:289-325): the mesh as a queryable triangle table —
            # one row per face with its three root-frame corners — which
            # downstream LOD/tiling stages partition and simplify.  True
            # .nxs multiresolution encoding is the vendored C++ codec and
            # raises NotImplementedError inside model_mesh (log-and-skip).
            import pyarrow as pa
            import pyarrow.parquet as pq

            from dronedb_spark.sources.model3d import model_mesh

            mesh = model_mesh(rel, data)
            verts, faces = mesh["vertices"], mesh["faces"]
            names = ["face_id"] + [
                f"{n}{ax}" for n in "abc" for ax in "xyz"
            ]
            cols: dict[str, pa.Array] = {
                "face_id": pa.array(range(len(faces)), pa.int64())
            }
            for ci, n in enumerate("abc"):
                for di, ax in enumerate("xyz"):
                    cols[f"{n}{ax}"] = pa.array(
                        [float(verts[f[ci]][di]) for f in faces], pa.float64()
                    )
            pq.write_table(pa.table({k: cols[k] for k in names}), out_path + ".tmp")
            os.replace(out_path + ".tmp", out_path)
            open(os.path.join(target, "_SUCCESS"), "w").close()
            return "built"
        elif kind == "gsplat":
            import pyarrow as pa
            import pyarrow.parquet as pq

            from dronedb_spark.sources.gsplat import (
                decode_gsplat_ply,
                decode_splat_binary,
            )

            recs = (
                decode_gsplat_ply(data) if data.startswith(b"ply")
                else decode_splat_binary(data)
            )
            pq.write_table(pa.Table.from_pylist(recs), out_path + ".tmp")
            os.replace(out_path + ".tmp", out_path)
            # the LOD delivery artifact build.cpp:169 checks for
            # (gsplat/model.rad): coarse-to-fine RAD container, preview =
            # leading chunks only
            from dronedb_spark.sources.rad import build_rad

            rad_path = os.path.join(target, "model.rad")
            with open(rad_path + ".tmp", "wb") as f:
                f.write(build_rad(recs))
            os.replace(rad_path + ".tmp", rad_path)
            open(os.path.join(target, "_SUCCESS"), "w").close()
            return "built"
        else:  # 3dtiles: extract the .3tz archive (build.cpp:324-340); the
            # artifact is the unpacked tile tree with tileset.json at its
            # root — the same completeness marker the reference checks
            # (build.cpp:171-172).  Mesh→tiles conversion (obj2tiles/NXS
            # external binaries) stays out of scope (SURVEY §3.3).
            from dronedb_spark.sources.tiles3d import extract_3tz

            members = extract_3tz(data, target)
            if "tileset.json" not in members:
                raise ValueError("3tz archive has no root tileset.json")
            open(os.path.join(target, "_SUCCESS"), "w").close()
            return "built"
        with open(out_path + ".tmp", "wb") as f:
            f.write(payload)
        os.replace(out_path + ".tmp", out_path)
        open(os.path.join(target, "_SUCCESS"), "w").close()
        return "built"
    except Exception as ex:  # log-and-skip; artifact stays incomplete → retried
        import logging

        logging.getLogger(__name__).warning("build %s (%s): %s", rel, kind, ex)
        return "decode_failed"


def build_all(catalog, force: bool = False) -> dict[str, int]:
    """Materialize every pending artifact as a REAL derivative —
    PointCloud→`.copc.laz` (LASzip v3 octree container), GeoRaster→tiled
    deflate COG with overview IFDs, Image/GeoImage→PNG thumbnail,
    Vector→normalized features Parquet, GaussianSplat→splat-table
    Parquet, Tiles3D→extracted tile tree (tileset.json at root); only
    mesh→tiles conversion (obj2tiles/NXS binaries) stays out of scope.

    Fully distributed: the pending list joins the binaryFile content
    scan and each worker builds the artifacts of the files it owns —
    one task per file, write-side atomic tmp+rename (the reference's
    advisory-lock role), no bytes through the driver.  Returns per-kind
    counts of artifacts that completed this call."""
    import pandas as pd

    from dronedb_spark.sources.bridge import scan_binaries

    spark = catalog.spark
    root = catalog.root
    todo_df = _candidates_df(catalog) if force else pending_builds_df(catalog)
    # the pending set is work-sized (usually tiny); checkpoint it so the
    # emptiness guard and the join share one probe pass — an idempotent
    # re-run with nothing pending must NOT launch the binaryFile content
    # scan of the whole tree just to inner-join with zero rows
    todo_df = todo_df.localCheckpoint(eager=True)
    n_pending = todo_df.count()
    if n_pending == 0:
        return {}
    # incremental builds are the common case: when the pending set is
    # small, read EXACTLY those files instead of scanning the whole
    # tree's bytes and throwing away the join misses (binaryFile has no
    # join-key pushdown).  The path collect is the work list itself —
    # work-sized by definition.  Large pending sets (initial build)
    # keep the one-pass recursive scan.
    files = None
    if n_pending <= 10_000:
        sep = root.rstrip("/") + "/"
        # binaryFile.load() glob-expands every path and aborts the whole
        # job with PATH_NOT_FOUND on the first miss — a stale index row
        # (file deleted since the last sync) or a filename containing
        # glob metacharacters must degrade to "skipped", matching the
        # full-scan branch which simply never joins such rows.  The
        # os.path.exists pre-filter is only meaningful when the root is a
        # driver-visible local path; for any scheme'd root (hdfs://,
        # s3a://, ...) it would discard EVERY path and silently no-op the
        # build, so there we keep all paths and rely on the load-time
        # fallback below.  ignoreMissingFiles closes the remaining TOCTOU
        # window (a file deleted between listing and read).
        # pending-artifact path list: same driver-sized build-queue grain
        # as pending_builds() (≤ MAX_PENDING_BUILDS)
        rows = [r["path"] for r in todo_df.select("path").collect()]
        assert len(rows) <= MAX_PENDING_BUILDS, (
            f"pending-build backlog {len(rows)} exceeds {MAX_PENDING_BUILDS}"
        )
        if "://" not in root:
            rows = [p for p in rows if os.path.exists(sep + p)]
            if not rows:
                return {}
        if rows:
            try:
                files = (
                    spark.read.format("binaryFile")
                    .option("ignoreMissingFiles", "true")
                    .load([_escape_hadoop_glob(sep + p) for p in rows])
                    .select(
                        F.substring_index("path", sep, -1).alias("path"), "content"
                    )
                )
            except Exception:
                # PATH_NOT_FOUND at resolution time (stale rows on a
                # non-local root): degrade to the full scan, whose inner
                # join simply never matches the stale entries
                files = None
    if files is None:
        files = scan_binaries(spark, root, "*").withColumnRenamed("file_name", "path")

    def run(it):
        for pdf in it:
            rows = [
                {"kind": k, "status": build_one(root, p, h, k, bytes(c))}
                for p, h, k, c in zip(pdf["path"], pdf["hash"], pdf["kind"], pdf["content"])
            ]
            yield pd.DataFrame(rows, columns=["kind", "status"])

    res = (
        todo_df.join(files, "path")
        .mapInPandas(run, schema="kind string, status string")
        .collect()
    )  # (kind, status) per pending build: build-queue grain, ≤ MAX_PENDING_BUILDS
    assert len(res) <= MAX_PENDING_BUILDS, (
        f"build result set {len(res)} exceeds {MAX_PENDING_BUILDS}"
    )
    counts: dict[str, int] = {}
    for r in res:
        if r["status"] == "built":
            counts[r["kind"]] = counts.get(r["kind"], 0) + 1
    return counts


def cleanup(catalog) -> dict[str, int]:
    """`ddb cleanup` (apps/cmd/cleanup.cpp): drop index entries whose
    files no longer exist and delete ORPHANED build artifacts — hash
    directories under the build tree whose content hash no longer
    appears in the index (the file was removed or its content changed,
    so the derivative can never be served again).

    Relational shape: the vanished-entry drop reuses sync's left-semi
    against the listing scan; orphan detection broadcasts the on-disk
    artifact name set (one name per directory — thousands, not data)
    into a left-semi over the index hashes.  Only artifact-count-bounded
    name sets ever reach the driver — never the index's hash column;
    deletion is local fs work per orphan."""
    import shutil

    from pyspark.sql import functions as F

    from dronedb_spark.sources.fs import dir_rows_df, list_files_df

    spark, root = catalog.spark, catalog.root
    # 1. entries whose file vanished (sync's delete branch, alone)
    cur = catalog.entries()
    fs_paths = list_files_df(spark, root).select("path").unionByName(
        dir_rows_df(spark, root).select("path")
    )
    kept = cur.join(fs_paths, "path", "left_semi").localCheckpoint(eager=True)
    removed_entries = cur.count() - kept.count()
    catalog._entries.write(kept)

    # 2. orphaned artifacts: on-disk hash dirs minus live hashes.  The
    # disk-name set (one name per artifact dir — thousands) broadcasts
    # into a left-semi over the index hashes, so the collect is bounded
    # by the artifact count, never the catalog: live∩disk comes back,
    # orphans = on_disk − that set.
    build_root = os.path.join(root, ".ddb_spark", "build")
    on_disk = []
    if os.path.isdir(build_root):
        on_disk = [h for h in os.listdir(build_root)
                   if os.path.isdir(os.path.join(build_root, h))]
    removed_artifacts = 0
    if on_disk:
        disk_df = spark.createDataFrame([(h,) for h in on_disk], "hash string")
        present = {
            r["hash"]
            for r in kept.select("hash")
            .filter(F.col("hash") != "")
            .join(F.broadcast(disk_df), "hash", "left_semi")
            .distinct()
            .collect()
        }  # semi-joined against on_disk: ≤ len(on_disk) rows by construction
        assert len(present) <= len(on_disk)
        for h in on_disk:
            if h not in present:
                shutil.rmtree(os.path.join(build_root, h), ignore_errors=True)
                removed_artifacts += 1
    return {"removed_entries": removed_entries,
            "removed_artifacts": removed_artifacts}
