"""End-to-end tests for the Parquet-backed DatasetCatalog write path
(SURVEY W1-W8, J7) over a real temp directory tree."""

from __future__ import annotations

import os
import time

import pytest

from dronedb_spark.catalog.derive import ENTRY_TYPES
from dronedb_spark.catalog.store import DatasetCatalog
from dronedb_spark.sources.fingerprint import fingerprint


@pytest.fixture()
def tree(tmp_path):
    (tmp_path / "images").mkdir()
    (tmp_path / "docs").mkdir()
    (tmp_path / "README.md").write_text("# dataset\n")
    (tmp_path / "docs" / "notes.txt").write_text("hello world\n")
    # fake JPEG: correct magic so the sniffer accepts it
    (tmp_path / "images" / "a.jpg").write_bytes(b"\xff\xd8\xff\xe0" + b"\x00" * 64)
    (tmp_path / "images" / "b.jpg").write_bytes(b"\xff\xd8\xff\xe0" + b"\x01" * 64)
    # fake LAS point cloud
    (tmp_path / "cloud.las").write_bytes(b"LASF" + b"\x00" * 128)
    return tmp_path


def test_fingerprint_unit():
    assert fingerprint("x/a.jpg", b"\xff\xd8\xff\xe0") == ENTRY_TYPES["Image"]
    assert fingerprint("a.jpg", b"NOTJPEG") == ENTRY_TYPES["Generic"]
    assert fingerprint("r.tif") == ENTRY_TYPES["GeoRaster"]
    assert fingerprint("c.las", b"LASF") == ENTRY_TYPES["PointCloud"]
    assert fingerprint("m.md") == ENTRY_TYPES["Markdown"]
    assert fingerprint("v.geojson") == ENTRY_TYPES["Vector"]
    assert fingerprint("s.ply", b"ply\nformat ascii\nelement vertex 5\nproperty float f_dc_0\n") == ENTRY_TYPES["GaussianSplat"]
    assert fingerprint("p.ply", b"ply\nformat ascii\nelement vertex 5\n") == ENTRY_TYPES["PointCloud"]
    assert fingerprint("d", is_dir=True) == ENTRY_TYPES["Directory"]
    assert fingerprint("x.unknownext") == ENTRY_TYPES["Generic"]


def test_init_add_search(spark, tree):
    cat = DatasetCatalog.init(spark, str(tree))
    cat.add()
    e = cat.entries()
    by_path = {r["path"]: r for r in e.collect()}
    assert set(by_path) == {
        "README.md", "docs", "docs/notes.txt", "images", "images/a.jpg",
        "images/b.jpg", "cloud.las",
    }
    assert by_path["README.md"]["type"] == ENTRY_TYPES["Markdown"]
    assert by_path["images/a.jpg"]["type"] == ENTRY_TYPES["Image"]
    assert by_path["cloud.las"]["type"] == ENTRY_TYPES["PointCloud"]
    assert by_path["images"]["type"] == ENTRY_TYPES["Directory"]
    assert by_path["images"]["hash"] == ""
    assert by_path["docs/notes.txt"]["depth"] == 1
    # sha256 of content is present and stable
    import hashlib

    assert by_path["docs/notes.txt"]["hash"] == hashlib.sha256(b"hello world\n").hexdigest()


def test_add_mtime_shortcircuit(spark, tree):
    cat = DatasetCatalog.init(spark, str(tree))
    cat.add()
    h0 = {r["path"]: r["hash"] for r in cat.entries().collect()}
    # touch with same mtime → content NOT re-read even though bytes changed
    p = tree / "docs" / "notes.txt"
    st = p.stat()
    p.write_text("changed!\n")
    os.utime(p, (st.st_atime, st.st_mtime))
    cat.add()
    h1 = {r["path"]: r["hash"] for r in cat.entries().collect()}
    assert h1["docs/notes.txt"] == h0["docs/notes.txt"]  # short-circuited
    # now bump mtime → re-hashed
    os.utime(p, (st.st_atime, st.st_mtime + 10))
    cat.add()
    h2 = {r["path"]: r["hash"] for r in cat.entries().collect()}
    assert h2["docs/notes.txt"] != h0["docs/notes.txt"]


def test_remove_subtree(spark, tree):
    cat = DatasetCatalog.init(spark, str(tree))
    cat.add()
    n = cat.remove("images")
    assert n == 3  # the folder row + 2 jpgs
    paths = {r["path"] for r in cat.entries().collect()}
    assert paths == {"README.md", "docs", "docs/notes.txt", "cloud.las"}


def test_move_subtree(spark, tree):
    cat = DatasetCatalog.init(spark, str(tree))
    cat.add()
    cat.move("images", "archive/img")
    paths = {r["path"]: r["depth"] for r in cat.entries().collect()}
    assert "archive/img/a.jpg" in paths
    assert paths["archive/img/a.jpg"] == 2
    assert "images/a.jpg" not in paths


def test_status_and_sync(spark, tree):
    cat = DatasetCatalog.init(spark, str(tree))
    cat.add()
    (tree / "new.txt").write_text("new\n")
    os.remove(tree / "cloud.las")
    p = tree / "README.md"
    os.utime(p, (time.time(), time.time() + 99))
    st = {r["path"]: r["status"] for r in cat.status().collect()}
    assert st["new.txt"] == "NotIndexed"
    assert st["cloud.las"] == "Deleted"
    assert st["README.md"] == "Modified"
    assert st["docs/notes.txt"] == "NotModified"
    cat.sync()
    paths = {r["path"] for r in cat.entries().collect()}
    assert "new.txt" in paths and "cloud.las" not in paths


def test_meta_manager(spark, tree):
    cat = DatasetCatalog.init(spark, str(tree))
    cat.add()
    cat.meta_set("name", '"my dataset"')
    cat.meta_set("name", '"renamed"')  # singular: replace
    assert cat.meta_get("name") == ['"renamed"']
    cat.meta_add("tags", '"aerial"')
    cat.meta_add("tags", '"2026"')  # plural: append
    assert len(cat.meta_get("tags")) == 2
    with pytest.raises(ValueError):
        cat.meta_set("tags", "x")
    with pytest.raises(ValueError):
        cat.meta_add("name", "x")
    assert cat.meta_unset("tags") == 2
    assert cat.meta_get("tags") == []


def test_stamp_and_delta(spark, tree, tmp_path_factory):
    cat = DatasetCatalog.init(spark, str(tree))
    cat.add()
    s1 = cat.stamp()
    assert len(s1) == 64
    # identical tree → identical stamp (content-addressed)
    other_root = tmp_path_factory.mktemp("other")
    import shutil

    for item in os.listdir(tree):
        if item == ".ddb_spark":
            continue
        src = tree / item
        dst = other_root / item
        if src.is_dir():
            shutil.copytree(src, dst)
        else:
            shutil.copy2(src, dst)
    cat2 = DatasetCatalog.init(spark, str(other_root))
    cat2.add()
    # same paths+hashes and no meta on either side → identical stamps
    assert cat2.stamp() == s1
    # mutate other: delta must see it
    (other_root / "extra.txt").write_text("x")
    cat2.add()
    d = cat2.delta(cat)
    adds = {r["path"] for r in d["adds"].collect()}
    assert adds == {"extra.txt"}


def test_snapshot_history_and_vacuum(spark, tmp_path):
    from dronedb_spark.catalog.store import DatasetCatalog

    root = tmp_path / "vacds"
    root.mkdir()
    (root / "a.txt").write_text("a")
    cat = DatasetCatalog.init(spark, str(root))
    cat.add()
    (root / "b.txt").write_text("b")
    cat.add()
    (root / "c.txt").write_text("c")
    cat.add()
    hist = cat.history()
    assert len(hist["entries"]) >= 4  # init + 3 adds
    victims = cat.vacuum(keep=2)
    assert victims["entries"], "expected old snapshots to be removed"
    hist2 = cat.history()
    assert len(hist2["entries"]) == 2
    # CURRENT still readable after vacuum
    paths = {r["path"] for r in cat.entries().collect()}
    assert {"a.txt", "b.txt", "c.txt"} <= paths


def test_partial_add_keeps_rest_of_index(spark, tree):
    """ADVICE r1 (high): add(rel_paths) must upsert ONLY those paths and
    keep every other indexed entry — the reference's addToIndex never
    deletes (deletion is sync's job)."""
    cat = DatasetCatalog.init(spark, str(tree))
    cat.add()
    before = {r["path"] for r in cat.entries().collect()}
    (tree / "docs" / "late.txt").write_text("late\n")
    cat.add(rel_paths=["docs/late.txt"])
    after = {r["path"] for r in cat.entries().collect()}
    assert after == before | {"docs/late.txt"}
    # add() with files deleted from disk also keeps them (sync removes)
    os.remove(tree / "cloud.las")
    cat.add()
    assert "cloud.las" in {r["path"] for r in cat.entries().collect()}
    cat.sync()
    assert "cloud.las" not in {r["path"] for r in cat.entries().collect()}


def test_move_rejects_wildcards(spark, tree):
    """ADVICE r1 (medium): move is exact-path; a wildcard src would match
    variable-length paths and corrupt the fixed-offset suffix rewrite."""
    cat = DatasetCatalog.init(spark, str(tree))
    cat.add()
    with pytest.raises(ValueError):
        cat.move("ima*", "archive")
    with pytest.raises(ValueError):
        cat.move("images", "arch%ive")


def test_remove_quote_bearing_pattern(spark, tmp_path):
    """ADVICE r1 (medium): patterns containing single quotes must neither
    crash nor inject SQL (predicates are built via the DSL, not f-string
    interpolation)."""
    root = tmp_path / "quoted"
    root.mkdir()
    (root / "o'brien.jpg").write_bytes(b"\xff\xd8\xff\xe0" + b"\x00" * 16)
    (root / "plain.txt").write_text("x")
    cat = DatasetCatalog.init(spark, str(root))
    cat.add()
    assert cat.remove("o'brien.jpg") == 1
    assert {r["path"] for r in cat.entries().collect()} == {"plain.txt"}


def test_add_empty_directory(spark, tmp_path):
    """ADVICE r1 (low): add() on an empty dataset dir must not throw on
    empty-schema inference."""
    root = tmp_path / "emptyds"
    root.mkdir()
    cat = DatasetCatalog.init(spark, str(root))
    cat.add()
    assert cat.entries().count() == 0


def test_snapshot_time_travel_and_diff(spark, tmp_path):
    root = tmp_path / "ttds"
    root.mkdir()
    (root / "a.txt").write_text("a")
    cat = DatasetCatalog.init(spark, str(root))
    cat.add()
    v_old = cat.history()["entries"][-1]
    (root / "b.txt").write_text("b")
    cat.add()
    # pinned read sees the old state; current sees both
    assert {r["path"] for r in cat.entries(version=v_old).collect()} == {"a.txt"}
    assert {r["path"] for r in cat.entries().collect()} == {"a.txt", "b.txt"}
    d = cat.diff_versions(v_old)
    assert {r["path"] for r in d["adds"].collect()} == {"b.txt"}
    assert d["removes"].count() == 0
    with pytest.raises(ValueError):
        cat.entries(version="v999999")


def test_nested_dataset_dir_typed_dronedb(spark, tmp_path):
    """A directory carrying its own catalog indexes as EntryType DroneDB
    (entry.cpp:70-77), both for our .ddb_spark marker and a
    reference-format .ddb/dbase.sqlite."""
    (tmp_path / "plain").mkdir()
    (tmp_path / "plain" / "x.txt").write_text("x\n")
    (tmp_path / "ours").mkdir()
    (tmp_path / "ours" / ".ddb_spark").mkdir()
    (tmp_path / "theirs").mkdir()
    (tmp_path / "theirs" / ".ddb").mkdir()
    (tmp_path / "theirs" / ".ddb" / "dbase.sqlite").write_bytes(b"")
    cat = DatasetCatalog.init(spark, str(tmp_path))
    cat.add()
    types = {r["path"]: r["type"] for r in cat.entries().collect()}
    assert types["plain"] == ENTRY_TYPES["Directory"]
    assert types["ours"] == ENTRY_TYPES["DroneDB"]
    assert types["theirs"] == ENTRY_TYPES["DroneDB"]


def test_compact_plan_invariants(spark):
    """Groups are path-contiguous within a folder, never split a file,
    and only the file that CROSSES the target boundary can push a
    group past target bytes (the FilePartition-packing contract)."""
    from dronedb_spark.catalog.compact import TARGET_BYTES, compact_plan
    from dronedb_spark.catalog.derive import entries_df

    rows = compact_plan(entries_df(spark, "/root/testdata/sf0.001")).collect()
    by_folder: dict[str, list] = {}
    for r in rows:
        by_folder.setdefault(r["folder"], []).append(r)
    assert by_folder
    for folder, fr in by_folder.items():
        fr.sort(key=lambda r: r["path"])
        groups = [r["group_no"] for r in fr]
        assert groups == sorted(groups)  # contiguous in path order
        acc: dict[int, int] = {}
        for r in fr:
            acc[r["group_no"]] = acc.get(r["group_no"], 0) + r["size"]
        for g, total in acc.items():
            members = [r for r in fr if r["group_no"] == g]
            # removing the last member must bring the group under target
            assert total - members[-1]["size"] < TARGET_BYTES


def test_dataset_diff_statuses(spark):
    from dronedb_spark.catalog.datadiff import dataset_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "goes away")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed now"), (4, "brand new")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in dataset_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


# ------------------------------------------------------------ per-operation budget


def _jobs_in_group(spark, group: str, fn) -> list[int]:
    """Spark job ids started by ``fn`` under a fresh job group.  The
    listener bus is drained before the status tracker is read."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_reads_start_no_job(spark, tree):
    """entries()/meta() pin the table schema: opening a snapshot runs no
    Parquet schema-inference job."""
    cat = DatasetCatalog.init(spark, str(tree))
    cat.add()
    cat.meta_set("name", '"x"')
    assert _jobs_in_group(spark, "reads_no_job", lambda: (cat.entries().schema, cat.meta().schema)) == []
    # the group really records jobs when there are some
    assert _jobs_in_group(spark, "reads_count", lambda: cat.entries().count())


def test_snapshot_write_conforms_to_schema(spark, tmp_path):
    """write() selects and casts to the table schema, so a reordered
    frame or a widened column still reads back under the pinned schema."""
    from pyspark.sql import functions as F

    from dronedb_spark.catalog.store import SnapshotTable
    from dronedb_spark.sources.fs import ENTRIES_SCHEMA

    t = SnapshotTable(spark, str(tmp_path / "snap"), ENTRIES_SCHEMA)
    row = ("a/b.jpg", "ab" * 32, 3, "null", 7, 11, 1, 1.5, 2.5, 3.5, 1.5, 2.5, 1.5, 2.5, 9)
    want = spark.createDataFrame([row], schema=ENTRIES_SCHEMA).collect()
    base = spark.createDataFrame([row], schema=ENTRIES_SCHEMA)
    for df in (
        base.select(list(reversed(base.columns))),
        base.withColumn("type", F.col("type").cast("long")),
    ):
        t.write(df)
        assert t.read().collect() == want
        on_disk = spark.read.parquet(t._current_path()).schema
        assert [(f.name, f.dataType) for f in on_disk] == [
            (f.name, f.dataType) for f in ENTRIES_SCHEMA
        ]


def test_ingest_listing_runs_at_most_one_task_per_core(spark, tmp_path):
    """A listing of small files scans into more partitions than cores
    (openCostInBytes per file); the Python ingest is coalesced to at
    most defaultParallelism tasks and still ingests every file."""
    from dronedb_spark.sources.fs import ingest_listing, list_files_df

    root = tmp_path / "many"
    root.mkdir()
    for i in range(300):
        (root / f"f{i:03d}.txt").write_text(f"{i}\n")
    cores = spark.sparkContext.defaultParallelism
    listing = list_files_df(spark, str(root))
    assert listing.rdd.getNumPartitions() > cores  # the precondition
    out = ingest_listing(listing, str(root))
    assert out.rdd.getNumPartitions() <= cores
    assert out.count() == 300


def _mutate(tree):
    """A modify, a delete, a create and a folder rename."""
    p = tree / "docs" / "notes.txt"
    st = p.stat()
    p.write_text("edited\n")
    os.utime(p, (st.st_atime, st.st_mtime + 10))
    os.remove(tree / "cloud.las")
    (tree / "new.txt").write_text("new\n")
    os.rename(tree / "images", tree / "pics")


def test_sync_writes_one_version_and_matches_fresh_index(spark, tree, tmp_path_factory):
    import shutil

    cat = DatasetCatalog.init(spark, str(tree))
    cat.add()
    _mutate(tree)
    before = len(cat.history()["entries"])
    cat.sync()
    assert len(cat.history()["entries"]) == before + 1

    fresh_root = tmp_path_factory.mktemp("fresh")
    shutil.copytree(tree, fresh_root, dirs_exist_ok=True,
                    ignore=shutil.ignore_patterns(".ddb_spark"))
    fresh = DatasetCatalog.init(spark, str(fresh_root))
    fresh.add()
    cols = ["path", "hash", "type", "size", "depth"]
    got = sorted(tuple(r) for r in cat.entries().select(cols).collect())
    want = sorted(tuple(r) for r in fresh.entries().select(cols).collect())
    assert got == want
    assert {"pics/a.jpg", "new.txt"} <= {r[0] for r in got}


def test_status_classes_match_hand_computed(spark, tree):
    cat = DatasetCatalog.init(spark, str(tree))
    cat.add()
    p = tree / "README.md"
    os.utime(p, (time.time(), time.time() + 99))
    os.remove(tree / "cloud.las")
    (tree / "new.txt").write_text("new\n")
    (tree / "extra").mkdir()
    (tree / "extra" / "x.txt").write_text("x\n")
    want = {
        "README.md": "Modified",
        "cloud.las": "Deleted",
        "new.txt": "NotIndexed",
        "extra": "NotIndexed",
        "extra/x.txt": "NotIndexed",
        "docs": "NotModified",
        "docs/notes.txt": "NotModified",
        "images": "NotModified",
        "images/a.jpg": "NotModified",
        "images/b.jpg": "NotModified",
    }
    assert {r["path"]: r["status"] for r in cat.status().collect()} == want
    counts: dict[str, int] = {}
    for s in want.values():
        counts[s] = counts.get(s, 0) + 1
    assert cat.sync() == counts


def test_stamp_checksum_matches_hashlib_on_20k_entries(spark):
    """The stamp is sha256 over path+hash in path order, then the meta
    ids in order — checked against hashlib on a catalog large enough
    that a per-entry string-copying fold would show."""
    import hashlib
    import random

    from dronedb_spark.operators.delta import stamp_checksum

    rows = [
        (f"d{i % 97}/f{i:05d}.jpg", hashlib.sha256(str(i).encode()).hexdigest())
        for i in range(20_000)
    ]
    random.Random(7).shuffle(rows)
    ent = spark.createDataFrame(rows, "path string, hash string")
    meta = spark.createDataFrame([("id3",), ("id1",), ("id2",)], "id string")
    body = "".join(p + h for p, h in sorted(rows))
    assert stamp_checksum(ent).collect()[0]["checksum"] == hashlib.sha256(
        body.encode()
    ).hexdigest()
    assert stamp_checksum(ent, meta).collect()[0]["checksum"] == hashlib.sha256(
        (body + "id1id2id3").encode()
    ).hexdigest()
    empty = spark.createDataFrame([], "path string, hash string")
    assert stamp_checksum(empty).collect()[0]["checksum"] == hashlib.sha256(b"").hexdigest()
    # a NULL hash makes the whole body NULL, as the string fold did
    with_null = ent.unionByName(spark.createDataFrame([("z", None)], "path string, hash string"))
    assert stamp_checksum(with_null, meta).collect()[0]["checksum"] is None
