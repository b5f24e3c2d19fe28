"""Seeded input generators with ground truth.

Every input of every workload is made here from the workload seed, and
the program under test only ever sees the files and tables written out.
The same seed gives byte-identical inputs; ``tree_digest`` and
``tables_digest`` prove it.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field

import numpy as np

from dronedb_spark.sources.exif import build_jpeg_with_exif

# EntryType ids the ingest must assign (DroneDB's entry types).
DIRECTORY, GENERIC, GEOIMAGE = 1, 2, 3

_BASE_MTIME = 1_600_000_000
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


# --------------------------------------------------------------- drone tree


@dataclass
class TreeFile:
    sha256: str
    type: int
    size: int
    mtime: int
    data: bytes = field(repr=False)


@dataclass
class Mutation:
    """A seeded edit of about 5% of a tree, plus one folder rename."""

    modified: dict[str, TreeFile]
    deleted: list[str]
    created: dict[str, TreeFile]
    rename: tuple[str, str]


@dataclass
class Tree:
    files: dict[str, TreeFile]
    mutation: Mutation

    @property
    def total_bytes(self) -> int:
        return sum(f.size for f in self.files.values())

    def final_files(self) -> dict[str, TreeFile]:
        """Ground truth after the mutation and the folder rename."""
        out = dict(self.files)
        for p in self.mutation.deleted:
            del out[p]
        out.update(self.mutation.modified)
        out.update(self.mutation.created)
        src, dest = self.mutation.rename
        return {
            (dest + p[len(src):] if p.startswith(src + "/") else p): f
            for p, f in out.items()
        }


def _dirs_of(paths) -> set[str]:
    dirs = set()
    for p in paths:
        parts = p.split("/")[:-1]
        for i in range(1, len(parts) + 1):
            dirs.add("/".join(parts[:i]))
    return dirs


def expected_entries(files: dict[str, TreeFile]) -> dict[str, tuple[str, int, int]]:
    """path -> (hash, type, size) for every entry the catalog must hold:
    each file plus each folder above one (folders hash to '' and size 0)."""
    out = {p: (f.sha256, f.type, f.size) for p, f in files.items()}
    for d in _dirs_of(files):
        out[d] = ("", DIRECTORY, 0)
    return out


def expected_stamp(entries: dict[str, tuple[str, int, int]], meta_ids=()) -> str:
    """DroneDB's dataset stamp by its reference definition: sha256 over
    path+hash concatenated in path order, then the meta ids in id order."""
    body = "".join(p + entries[p][0] for p in sorted(entries)) + "".join(sorted(meta_ids))
    return hashlib.sha256(body.encode()).hexdigest()


def _dms(value: float) -> tuple[int, int, tuple[int, int]]:
    v = abs(value)
    d = int(v)
    m = int((v - d) * 60)
    s = round((v - d - m / 60) * 3600 * 100)
    return d, m, (s, 100)


def _jpeg(rng: random.Random, pad: int) -> bytes:
    lat = rng.uniform(-60.0, 60.0)
    lon = rng.uniform(-170.0, 170.0)
    day = rng.randrange(1, 28)
    sec = rng.randrange(86400)
    jpeg = build_jpeg_with_exif(
        lat_dms=_dms(lat),
        lat_ref="N" if lat >= 0 else "S",
        lon_dms=_dms(lon),
        lon_ref="E" if lon >= 0 else "W",
        alt=(rng.randrange(1000, 200000), 100),
        datetime_original=f"2021:06:{day:02d} {sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}",
        focal=(rng.randrange(30, 90), 10),
    )
    # a COM segment carries the padded payload between the EXIF and EOI
    body = rng.randbytes(pad)
    com = b"\xff\xfe" + (len(body) + 2).to_bytes(2, "big") + body
    return jpeg[:-2] + com + jpeg[-2:]


def _text(rng: random.Random, n_words: int) -> bytes:
    return (" ".join(rng.choice(_WORDS) for _ in range(n_words)) + "\n").encode()


def _file(data: bytes, type_: int, mtime: int) -> TreeFile:
    return TreeFile(hashlib.sha256(data).hexdigest(), type_, len(data), mtime, data)


def _content(rng: random.Random, name: str, mtime: int, avg_bytes: int) -> TreeFile:
    if name.endswith(".JPG"):
        return _file(_jpeg(rng, rng.randrange(avg_bytes // 2, avg_bytes * 3 // 2)), GEOIMAGE, mtime)
    return _file(_text(rng, rng.randrange(avg_bytes // 12, avg_bytes // 4)), GENERIC, mtime)


def make_tree(seed: int, n_files: int, n_folders: int, avg_bytes: int = 2300) -> Tree:
    """A drone survey tree: ``n_folders`` flight folders under a few
    areas, 80% geotagged JPEGs (varied GPS and capture time, padded
    payload) and 20% text notes, each with a seeded mtime."""
    rng = random.Random(seed)
    areas = max(1, n_folders // 8)
    folders = [f"area{a:02d}/flight{f:03d}" for f in range(n_folders) for a in [f % areas]]
    files: dict[str, TreeFile] = {}
    for i in range(n_files):
        folder = folders[i % n_folders]
        name = f"IMG_{i:06d}.JPG" if rng.random() < 0.8 else f"notes_{i:06d}.txt"
        files[f"{folder}/{name}"] = _content(rng, name, _BASE_MTIME + i, avg_bytes)

    paths = sorted(files)
    k = max(1, n_files // 50)  # 2% modified, 1.5% deleted, 1.5% created
    picked = rng.sample(paths, k + k * 3 // 4)
    modified = {
        p: _content(rng, p, files[p].mtime + 1000, avg_bytes) for p in picked[:k]
    }
    deleted = picked[k:]
    created = {}
    for j in range(k * 3 // 4):
        name = f"IMG_{n_files + j:06d}.JPG" if j % 5 else f"notes_{n_files + j:06d}.txt"
        created[f"{rng.choice(folders)}/{name}"] = _content(
            rng, name, _BASE_MTIME + 2_000_000 + j, avg_bytes
        )
    src = rng.choice(folders)
    return Tree(files, Mutation(modified, deleted, created, (src, src + "_renamed")))


def _write(root: str, rel: str, f: TreeFile) -> None:
    full = os.path.join(root, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    with open(full, "wb") as fh:
        fh.write(f.data)
    os.utime(full, (f.mtime, f.mtime))


def write_tree(tree: Tree, root: str) -> None:
    for rel, f in tree.files.items():
        _write(root, rel, f)


def copy_tree(template: str, root: str) -> None:
    """A fresh session copy of a written tree; mtimes are preserved."""
    shutil.copytree(template, root, copy_function=shutil.copy2)


def apply_mutation(tree: Tree, root: str) -> None:
    """Edit the files on disk (the user's edits between two syncs)."""
    m = tree.mutation
    for rel in m.deleted:
        os.remove(os.path.join(root, rel))
    for rel, f in {**m.modified, **m.created}.items():
        _write(root, rel, f)
    os.rename(os.path.join(root, m.rename[0]), os.path.join(root, m.rename[1]))


def tree_digest(root: str) -> str:
    """sha256 over (path, content hash, mtime) of every file under root."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(filenames):
            full = os.path.join(dirpath, name)
            with open(full, "rb") as fh:
                data = fh.read()
            rel = os.path.relpath(full, root)
            h.update(f"{rel}\0{hashlib.sha256(data).hexdigest()}\0{int(os.path.getmtime(full))}\n".encode())
    return h.hexdigest()


# --------------------------------------------------------- synthetic tables


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """The ten TPC-H-like tables the registry checks read, at scale
    factor ``sf``, with the column names and types of the registry's
    reference data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(100, min(2000, int(20_000 * sf)))

    def ts(lo: str, hi: str, n: int, unit: str = "D") -> np.ndarray:
        a, b = np.datetime64(lo, unit), np.datetime64(hi, unit)
        return (a + g.integers(0, (b - a).astype(np.int64), n)).astype("datetime64[us]")

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(g.uniform(lo, hi, n), 2)

    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(g.integers(0, 25, n_cust), i32),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": g.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(g.integers(0, 25, n_supp), i32),
            "s_acctbal": money(-999, 9999, n_supp),
        },
        "part": {
            "p_partkey": pa.array(range(n_part), i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    g.choice(["small", "large", "red", "blue", "hot", "cold", "shiny", "old"], n_part),
                    g.choice(["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"], n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
            "p_type": g.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(g.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": pa.array(range(n_ord), i64),
            "o_custkey": pa.array(g.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": g.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 400000, n_ord),
            "o_orderdate": ts("1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": g.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        },
        "lineitem": {
            "l_orderkey": pa.array(g.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(g.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(g.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(g.integers(1, 8, n_line), i32),
            "l_quantity": g.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": money(900, 105000, n_line),
            "l_discount": g.integers(0, 11, n_line) / 100.0,
            "l_tax": g.integers(0, 9, n_line) / 100.0,
            "l_returnflag": g.choice(["A", "N", "R"], n_line),
            "l_linestatus": g.choice(["F", "O"], n_line),
            "l_shipdate": ts("1995-01-02", "2001-11-04", n_line),
        },
        "events": {
            "event_id": pa.array(range(n_ev), i64),
            "ts": np.sort(ts("2024-01-01", "2024-01-31", n_ev, "us")),
            "user_id": pa.array(g.integers(0, max(10, n_ev // 60), n_ev), i64),
            "event_type": g.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": money(0, 50, n_ev),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
        },
        "documents": _documents(g, n_doc),
        "embeddings": _embeddings(g, n_emb),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(g: np.random.Generator, n: int) -> dict:
    texts = []
    for i in range(n):
        if i > 10 and g.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(g.integers(0, i))].split(" ")
            words[int(g.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(g.choice(_WORDS, int(g.integers(10, 100)))))
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": g.choice(["en", "en", "en", "zh", "es", "de", "fr"], n),
        "source": [f"src{s}" for s in g.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(g: np.random.Generator, n: int, dim: int = 64) -> dict:
    import pyarrow as pa

    labels = g.integers(0, 10, n)
    centers = g.normal(size=(10, dim))
    v = centers[labels] + g.normal(scale=0.8, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def tables_digest(out_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as fh:
            h.update(name.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


# -------------------------------------------------------------- browse mix

QUERY_TYPES = ("search", "list_folder", "stac_items", "stac_items_keyset", "stac_number_matched")

# capture times of the generated JPEGs: June 1-27, 2021 (UTC)
CAPTURE_T0, CAPTURE_SPAN = 1_622_505_600, 27 * 86_400


def browse_mix(seed: int, n: int, folders: list[str]) -> list[tuple[str, dict]]:
    """A seeded sequence of catalog reads over a drone tree, the query
    types in turn: path searches with ``*`` wildcards, folder listings,
    and STAC pages and counts for a random bbox and capture-time window."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        kind = QUERY_TYPES[i % len(QUERY_TYPES)]
        folder = rng.choice(folders)
        area = folder.split("/")[0]
        w, h = rng.uniform(20, 140), rng.uniform(10, 70)
        x, y = rng.uniform(-180, 180 - w), rng.uniform(-90, 90 - h)
        t0 = CAPTURE_T0 + rng.randrange(0, CAPTURE_SPAN * 3 // 4)
        p = {"bbox": (round(x, 3), round(y, 3), round(x + w, 3), round(y + h, 3)),
             "t_start": t0, "t_end": t0 + rng.randrange(CAPTURE_SPAN // 8, CAPTURE_SPAN // 2)}
        if kind == "search":
            p = {"pattern": f"{area}/*{rng.randrange(10)}.JPG"}
        elif kind == "list_folder":
            p = {"folder": rng.choice((folder, area))}
        elif kind == "stac_items":
            p.update(limit=rng.choice((10, 25)), offset=rng.randrange(0, 60))
        elif kind == "stac_items_keyset":
            p.update(after_path=folder, limit=rng.choice((10, 25)))
        out.append((kind, p))
    return out
