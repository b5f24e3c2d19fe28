"""Parquet-backed dataset catalog — the reference's SpatiaLite database
re-expressed as immutable DataFrame snapshots.

Reference lifecycle (SURVEY §2.9 W1-W8): init/add/remove/move/sync/rescan
+ the meta manager.  Storage here is a pair of snapshot tables under
``<root>/.ddb_spark/``: every write produces a new versioned Parquet dir
and atomically flips a CURRENT pointer file — the Spark analog of the
reference's EXCLUSIVE-transaction batches (dbops.cpp:644,714) with
WAL-style concurrent readers (database.cpp:27-33): readers keep the old
snapshot, writers never mutate in place (SURVEY X6/X7).

Scale notes: every operation is DataFrame algebra — upserts are
anti-join + union (no per-row SQL), subtree ops are prefix-predicate
rewrites pushed to the Parquet scan, and the mtime-then-hash short-circuit
(checkUpdate, dbops.cpp:441-472 — SURVEY X4) is staged so content hashing
only runs for files whose mtime actually changed.

Per-operation budget: on a catalog of hundreds of entries the cost of an
operation is its Spark jobs and Python tasks, not its rows, so each
operation pays only for the work it does:

* a snapshot read starts no job — the schema is pinned (``write``
  conforms every frame to it), so there is no Parquet inference job;
* ``sync`` lists the tree once (the ``binaryFile`` listing plus the
  directory walk) and uses that listing for the status counts, the
  change set and the prune of vanished paths, then writes ONE snapshot
  (syncIndex is one walk too, dbops.cpp:989-1032);
* the read+hash+parse kernel runs on at most one Python task per core
  (``ingest_listing``) — a Python task costs a worker round-trip
  whatever its row count;
* a frame that only feeds a snapshot write is not checkpointed first:
  the write target is always a new version dir, so it never reads what
  it overwrites.  Only a frame read by two branches (the ingest output,
  which feeds both the anti-join and the union) is checkpointed.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.catalog.derive import ENTRY_TYPES
from dronedb_spark.functions.like import folder_pattern, like_col, sanitize_query_param
from dronedb_spark.operators.delta import (
    apply_delta_classify,
    delta_adds,
    delta_removes,
    stamp_checksum,
)
from dronedb_spark.sources.fs import (
    ENTRIES_SCHEMA,
    META_SCHEMA,
    dir_rows_df,
    ingest_listing,
    list_files_df,
)

CATALOG_DIR = ".ddb_spark"


class SnapshotTable:
    """Versioned immutable Parquet snapshots with an atomic CURRENT pointer."""

    def __init__(self, spark: SparkSession, base: str, schema):
        self.spark = spark
        self.base = base
        self.schema = schema
        os.makedirs(base, exist_ok=True)

    def _current_path(self) -> str | None:
        ptr = os.path.join(self.base, "CURRENT")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return os.path.join(self.base, f.read().strip())

    def read(self, version: str | None = None) -> DataFrame:
        """CURRENT snapshot, or a retained older version by name — time
        travel over the immutable version chain (any reader can pin a
        version while writers race ahead; vacuum() bounds retention)."""
        if version is not None:
            p = os.path.join(self.base, version)
            if version not in self.versions() or not os.path.isdir(p):
                raise ValueError(f"unknown or vacuumed snapshot version {version!r}")
            return self._scan(p)
        p = self._current_path()
        if p is None:
            return self.spark.createDataFrame([], schema=self.schema)
        return self._scan(p)

    def _scan(self, p: str) -> DataFrame:
        # schema pinned, not inferred: inference is a one-task Spark job
        # per read, and write() conforms every snapshot to this schema
        return self.spark.read.schema(self.schema).parquet(p)

    def write(self, df: DataFrame) -> None:
        """Write ``df`` as the next version and flip CURRENT to it.  The
        frame is conformed to the table schema (column order and types)
        so that the pinned-schema read can never misread a snapshot."""
        p = self._current_path()
        n = 0 if p is None else int(os.path.basename(p).lstrip("v")) + 1
        target = os.path.join(self.base, f"v{n:06d}")
        df.select(
            [F.col(f.name).cast(f.dataType) for f in self.schema.fields]
        ).write.mode("overwrite").parquet(target)
        tmp = os.path.join(self.base, f".CURRENT.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(f"v{n:06d}")
        os.replace(tmp, os.path.join(self.base, "CURRENT"))

    def versions(self) -> list[str]:
        """Snapshot version names, oldest first."""
        return sorted(
            d for d in os.listdir(self.base) if d.startswith("v") and d[1:].isdigit()
        )

    def vacuum(self, keep: int = 2) -> list[str]:
        """Delete snapshot dirs older than the newest ``keep`` (the CURRENT
        snapshot is always retained).  The WAL analog's checkpoint-truncate:
        readers pinned to a vacuumed snapshot would fail, so ``keep`` ≥ 2
        leaves one superseded version as a grace window — the same contract
        as any table format's retention-based VACUUM."""
        keep = max(keep, 1)
        cur = self._current_path()
        cur_name = os.path.basename(cur) if cur else None
        vs = self.versions()
        victims = [v for v in vs[:-keep] if v != cur_name]
        import shutil

        for v in victims:
            shutil.rmtree(os.path.join(self.base, v), ignore_errors=True)
        return victims


class DatasetCatalog:
    """The engine API over one dataset directory (≈ one .ddb database)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        base = os.path.join(self.root, CATALOG_DIR)
        self._entries = SnapshotTable(spark, os.path.join(base, "entries"), ENTRIES_SCHEMA)
        self._meta = SnapshotTable(spark, os.path.join(base, "entries_meta"), META_SCHEMA)

    # ------------------------------------------------------------ lifecycle

    @classmethod
    def init(cls, spark: SparkSession, root: str) -> "DatasetCatalog":
        """W1 (dbops.cpp:1176-1272): create the empty catalog tables."""
        cat = cls(spark, root)
        if cat._entries._current_path() is None:
            cat._entries.write(spark.createDataFrame([], schema=ENTRIES_SCHEMA))
            cat._meta.write(spark.createDataFrame([], schema=META_SCHEMA))
        return cat

    def entries(self, version: str | None = None) -> DataFrame:
        return self._entries.read(version)

    def meta(self, version: str | None = None) -> DataFrame:
        return self._meta.read(version)

    def diff_versions(self, old: str, new: str | None = None) -> dict[str, DataFrame]:
        """What changed between two retained snapshots — the same
        adds/removes/classify algebra as a cross-catalog delta (J2-J5),
        applied to the local version chain (time travel audit)."""
        a, b = self.entries(new), self.entries(old)
        return {
            "adds": delta_adds(a, b),
            "removes": delta_removes(a, b),
            "classify": apply_delta_classify(b, a),
        }

    # ------------------------------------------------------------ write path

    def add(self, rel_paths: list[str] | None = None) -> DataFrame:
        """W2 upsert (addToIndex, dbops.cpp:629-715) with the mtime-then-
        hash short-circuit (SURVEY X4): rows whose (path, mtime) already
        match the index are never re-read, re-hashed, or re-parsed — the
        expensive ingest only runs for new or mtime-changed paths.

        Like the reference's addToIndex, add NEVER deletes: every indexed
        entry outside the re-ingested set is kept verbatim (a partial
        ``add(rel_paths)`` must not drop the rest of the index; removing
        rows for files gone from disk is sync()'s job).

        Fully distributed: the file listing is the ``list_files_df``
        binaryFile scan, the changed set is an mtime join, and the
        workers that own a changed file read+hash+parse it in place — no
        path list is ever collect()ed to the driver (round 1's os.walk +
        collect() was flagged as the 100M-file bottleneck)."""
        files = list_files_df(self.spark, self.root)
        if rel_paths is not None:
            files = files.filter(F.col("path").isin(list(rel_paths)))
        dirs = dir_rows_df(self.spark, self.root, rel_paths)
        self._upsert(self.entries(), files, dirs, prune=False)
        return self.entries()

    def _upsert(self, cur: DataFrame, files: DataFrame, dirs: DataFrame, prune: bool) -> None:
        """Write one entries snapshot: ``cur`` with every new or
        mtime-changed file of the listing ``files`` re-ingested and the
        directory rows ``dirs`` replaced.  With ``prune``, rows whose path
        is in neither listing are dropped (sync's Deleted class)."""
        # one pass over the listing: a small index broadcasts, so the
        # listing scan, the mtime test and the ingest kernel share a stage
        changed = files.join(cur.select("path", "mtime"), "path", "left").filter(
            F.col("mtime").isNull() | (F.col("fs_mtime") != F.col("mtime"))
        )
        # checkpoint: fresh feeds both the anti-join and the union — without
        # a barrier Catalyst would run the read+hash kernel twice (no CSE)
        fresh = (
            ingest_listing(changed, self.root)
            .unionByName(dirs)
            .localCheckpoint(eager=True)
        )
        keep = cur.join(fresh.select("path"), "path", "left_anti")
        if prune:
            # every live directory is in fresh, so a kept row is live
            # exactly when its file is still listed
            keep = keep.join(files.select("path"), "path", "left_semi")
        self._entries.write(keep.unionByName(fresh))

    def remove(self, pattern: str) -> int:
        """W3 (removeFromIndex, dbops.cpp:717-914): LIKE-match delete of
        entries (file pattern + folder subtree) and their metadata."""
        cur = self.entries()
        p = sanitize_query_param(pattern)
        fp = folder_pattern(pattern)
        cond = like_col("path", p) | like_col("path", fp)
        removed = cur.filter(cond).count()
        self._entries.write(cur.filter(~cond))
        self._meta.write(self.meta().filter(~cond))
        return removed

    def move(self, src: str, dest: str) -> None:
        """W6 (moveEntry, dbops.cpp:1361-1473): subtree path rewrite with
        depth recomputation — a pure expression rewrite, no re-parse.

        EXACT-path semantics like the reference's moveEntry: ``src`` names
        one entry or one folder subtree, never a wildcard pattern — a
        LIKE-based match would pair variable-length matches with the
        fixed ``len(src)`` suffix offset and corrupt rewritten paths."""
        for ch in ("*", "%"):
            if ch in src or ch in dest:
                raise ValueError(
                    f"move uses exact paths; wildcard {ch!r} not allowed"
                )
        cur = self.entries()
        is_hit = (F.col("path") == src) | F.col("path").startswith(src + "/")
        new_path = F.concat(F.lit(dest), F.substring(F.col("path"), len(src) + 1, 2**30))
        moved = cur.withColumn("path", F.when(is_hit, new_path).otherwise(F.col("path")))
        moved = moved.withColumn(
            "depth", (F.length("path") - F.length(F.replace("path", F.lit("/"), F.lit("")))).cast("int")
        )
        self._entries.write(moved)
        self._meta.write(
            self.meta().withColumn("path", F.when(is_hit, new_path).otherwise(F.col("path")))
        )

    def sync(self) -> dict:
        """W4 (syncIndex, dbops.cpp:989-1032): reconcile the index against
        the filesystem — Deleted rows dropped, Modified and NotIndexed
        re-parsed, NotModified kept.  One listing of the tree feeds the
        status counts, the change set and the prune; one snapshot is
        written.  Returns the status class counts before the sync."""
        cur = self.entries()
        files = list_files_df(self.spark, self.root)
        dirs = dir_rows_df(self.spark, self.root)
        st = _status(cur, files, dirs)
        classes = {r["status"]: r["count"] for r in st.groupBy("status").count().collect()}
        self._upsert(cur, files, dirs, prune=True)
        return classes

    def rescan(self, types: list[int] | None = None) -> None:
        """W5 (rescanIndex, dbops.cpp:1034-1140): re-parse properties for
        selected types (never Directory).  The target set stays a
        DataFrame: listing left-semi-joined to the selected index rows —
        no path collect()."""
        cur = self.entries()
        sel = F.col("type") != ENTRY_TYPES["Directory"]
        if types:
            sel = sel & F.col("type").isin(types)
        targets = cur.filter(sel).select("path")
        files = list_files_df(self.spark, self.root).join(targets, "path", "left_semi")
        fresh = ingest_listing(files, self.root).localCheckpoint(eager=True)
        keep = cur.join(fresh.select("path"), "path", "left_anti")
        self._entries.write(keep.unionByName(fresh))

    # ------------------------------------------------------------ status/sync algebra

    def status(self) -> DataFrame:
        """J7 (statusIndex, status.cpp:16-77): full-outer join of index vs
        filesystem; NotModified / Modified / Deleted / NotIndexed."""
        files = list_files_df(self.spark, self.root)
        return _status(self.entries(), files, dir_rows_df(self.spark, self.root))

    def stamp(self) -> str:
        """§1.6 content-addressed identity."""
        return stamp_checksum(self.entries(), self.meta()).collect()[0]["checksum"]

    def delta(self, other: "DatasetCatalog") -> dict[str, DataFrame]:
        """J2-J4 against another catalog (self = source, other = target)."""
        return {
            "adds": delta_adds(self.entries(), other.entries()),
            "removes": delta_removes(self.entries(), other.entries()),
            "classify": apply_delta_classify(other.entries(), self.entries()),
        }

    # ------------------------------------------------------------ meta manager (W7)

    def meta_set(self, key: str, data: str, path: str = "", mtime: int | None = None) -> None:
        """Singular set = delete-then-insert (metamanager.cpp:125-146)."""
        if key != key.lower():
            raise ValueError("meta keys are lowercase")
        if key.endswith("s"):
            raise ValueError(f"'{key}' is a plural (list) key — use meta_add")
        self._meta_insert(key, data, path, mtime, replace=True)

    def meta_add(self, key: str, data: str, path: str = "", mtime: int | None = None) -> None:
        """Plural add = append (metamanager.cpp:106-123)."""
        if not key.endswith("s"):
            raise ValueError(f"'{key}' is a singular key — use meta_set")
        self._meta_insert(key, data, path, mtime, replace=False)

    def _meta_insert(self, key, data, path, mtime, replace):
        import time as _t

        meta = self.meta()
        if replace:
            meta = meta.filter(~((F.col("path") == path) & (F.col("key") == key)))
        row = self.spark.createDataFrame(
            [(uuid.uuid4().hex, path, key, data, int(mtime if mtime is not None else _t.time()))],
            schema=META_SCHEMA,
        )
        self._meta.write(meta.unionByName(row))

    def meta_get(self, key: str, path: str = "") -> list[str]:
        rows = (
            self.meta()
            .filter((F.col("path") == path) & (F.col("key") == key))
            .orderBy("id")
            .collect()
        )
        return [r["data"] for r in rows]

    def meta_unset(self, key: str, path: str = "") -> int:
        meta = self.meta()
        hit = (F.col("path") == path) & (F.col("key") == key)
        n = meta.filter(hit).count()
        self._meta.write(meta.filter(~hit))
        return n

    def chattr(self, key: str, value: str) -> None:
        """W8: dataset attributes are dataset-level meta rows (path='')."""
        self.meta_set(key, value, path="")

    def setexif(
        self,
        pattern: str,
        lat: float | None = None,
        lon: float | None = None,
        alt: float | None = None,
    ) -> int:
        """W12 (exifeditor.cpp SetGPS*, apps/cmd/setexif.cpp): rewrite the
        EXIF GPS block of every matching indexed image, then re-index.

        Distributed write-back: the matched paths stay a DataFrame and each
        worker rewrites its partition's files in place (atomic tmp+rename),
        exactly the shape a shared-storage fleet edit needs; the follow-up
        add() re-ingests the rewritten files (their mtime changed) so
        hashes, point geometry, and the Image→GeoImage upgrade all refresh.
        Returns the number of files rewritten."""
        import pandas as pd

        from dronedb_spark.sources.exif import set_gps

        cur = self.entries()
        p = sanitize_query_param(pattern)
        fp = folder_pattern(pattern)
        editable = F.col("type").isin(ENTRY_TYPES["Image"], ENTRY_TYPES["GeoImage"])
        matches = cur.filter((like_col("path", p) | like_col("path", fp)) & editable).select(
            "path"
        )
        root = self.root

        def run(it):
            for pdf in it:
                out = []
                for rel in pdf["path"]:
                    full = os.path.join(root, rel)
                    try:
                        with open(full, "rb") as f:
                            data = f.read()
                        new = set_gps(data, lat, lon, alt)
                        tmp = full + ".exif_tmp"
                        with open(tmp, "wb") as f:
                            f.write(new)
                        os.replace(tmp, full)
                        out.append({"path": rel, "ok": True})
                    except (OSError, ValueError):
                        out.append({"path": rel, "ok": False})
                yield pd.DataFrame(out, columns=["path", "ok"])

        res = matches.mapInPandas(run, schema="path string, ok boolean")
        n = res.filter(F.col("ok")).count()
        self.add()
        return n

    def history(self) -> dict[str, list[str]]:
        """Retained snapshot versions per table (oldest first)."""
        return {"entries": self._entries.versions(), "meta": self._meta.versions()}

    def vacuum(self, keep: int = 2) -> dict[str, list[str]]:
        """Drop superseded snapshots beyond the newest ``keep`` per table."""
        return {
            "entries": self._entries.vacuum(keep),
            "meta": self._meta.vacuum(keep),
        }


def _status(cur: DataFrame, files: DataFrame, dirs: DataFrame) -> DataFrame:
    """(path, status) of the index ``cur`` against the listing: ``files``
    (``list_files_df``) and ``dirs`` (``dir_rows_df``).  The mtimes are
    the ones add() compares, so a NotModified path is one add() skips."""
    fs = files.select("path", "fs_mtime").unionByName(
        dirs.select("path", F.col("mtime").alias("fs_mtime"))
    )
    j = cur.select("path", "mtime").join(fs, "path", "full_outer")
    status = (
        F.when(F.col("fs_mtime").isNull(), "Deleted")
        .when(F.col("mtime").isNull(), "NotIndexed")
        .when(F.col("fs_mtime") != F.col("mtime"), "Modified")
        .otherwise("NotModified")
    )
    return j.select("path", status.alias("status"))
