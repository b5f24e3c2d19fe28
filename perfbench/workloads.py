"""The benchmark workloads.

Each workload is one closed-loop client: it sends its next operation
only after the previous one returned, as a CLI or Hub user does.  A
workload has a set-up (``prepare`` repeated into fresh directories, then
one ``warm``) and a unit of timed work (``unit``) that returns the
operations it ran.  Every operation is called through the public API of
``dronedb_spark``; with tracing on, the same calls run inside spans.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

from perfbench import gen
from perfbench.trace import Span, Tracer


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool


def corrupted(value):
    """A wrong copy of an output, for the self-test: the last character
    of a string, or the first value of the first row, changed."""
    if isinstance(value, str):
        return value[:-1] + ("0" if value[-1:] != "0" else "1")
    rows = list(value)
    if rows:
        rows[0] = (corrupted(str(rows[0][0])),) + tuple(rows[0])[1:]
    return rows


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    name = ""
    reps = 3  # input set-ups per run; setup_s takes their median
    min_units = 2  # timed units a run at least, so medians sit at fixed positions

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, tiny: bool, corrupt: bool):
        self.spark = spark
        self.tracer = tracer
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.tiny = tiny
        self.corrupt = corrupt
        self.notes: dict[str, float] = {}

    def prepare(self, rep: int) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def unit(self) -> list[Op]:
        raise NotImplementedError

    def trace_targets(self) -> list:
        return []

    def layer_metrics(self, spans: list[Span], units: int) -> dict[str, float]:
        return {}

    def _timed(self, kind: str, fn, check, span: str | None = None) -> Op:
        """One operation: ``fn()`` is timed (inside ``span`` of the
        catalog layer, when given), ``check(result)`` is not.  A raised
        exception or a failed check marks the operation failed."""
        self.tracer.op = (self.tracer.op or 0) + 1
        t0 = time.perf_counter()
        try:
            if span is None:
                out = fn()
            else:
                with self.tracer.span(span, "catalog"):
                    out = fn()
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            return Op(kind, time.perf_counter() - t0, False)
        dt = time.perf_counter() - t0
        try:
            with self.tracer.suspended():
                ok = check(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"[perfbench] wrong output: {self.name}/{kind}", file=sys.stderr)
        return Op(kind, dt, ok)


# ------------------------------------------------------------ lifecycle


class CatalogLifecycle(Workload):
    """One user session on a seeded drone tree:
    init → add → add (nothing changed) → [edit ~5% of files, rename one
    folder] → move → sync → browse (seeded searches, folder listings and
    STAC reads) → stamp → diff_versions(first) → vacuum.  Each step is
    checked against the generator's ground truth; each read against
    DuckDB over the same snapshot Parquet."""

    name = "catalog_lifecycle"
    browse = 5  # catalog reads per session, one of each type

    def prepare(self, rep: int) -> None:
        n_files, n_folders = (120, 6) if self.tiny else (500, 20)
        self.tree = gen.make_tree(self.seed, n_files, n_folders)
        self.template = os.path.join(self.work, f"template{rep}")
        gen.write_tree(self.tree, self.template)
        first = gen.expected_entries(self.tree.files)
        final = gen.expected_entries(self.tree.final_files())
        self.first, self.final = first, final
        self.stamp_want = gen.expected_stamp(final)
        src, dest = self.tree.mutation.rename
        self.rename = (src, dest)
        self.diff_want = {
            "adds": {p for p, e in final.items() if first.get(p, (None,))[0] != e[0]},
            "removes": {
                p for p, e in first.items()
                if p not in final or (final[p][1] == gen.DIRECTORY) != (e[1] == gen.DIRECTORY)
            },
            "classify": _classify(first, final),
        }
        folders = sorted({p.rsplit("/", 1)[0] for p in self.tree.final_files()})
        self.queries = gen.browse_mix(self.seed, 20 * self.browse, folders)
        self.n_sessions = 0

    def warm(self) -> None:
        # One cold session on a small tree of the same seed runs every
        # code path of the timed sessions, at a fraction of their cost.
        small = CatalogLifecycle(self.spark, self.tracer, os.path.join(self.work, "warm"),
                                 self.seed, True, False)
        small.prepare(0)
        small.unit()

    def unit(self) -> list[Op]:
        from dronedb_spark.catalog.store import DatasetCatalog
        from dronedb_spark.operators.delta import stamp_checksum

        tr = self.tracer
        root = os.path.join(self.work, f"session{self.n_sessions}")
        self.n_sessions += 1
        gen.copy_tree(self.template, root)
        ops: list[Op] = []
        cat = None

        def step(kind, fn, check=lambda out: True):
            ops.append(self._timed(kind, fn, check, span=f"catalog.{kind}"))

        def init():
            nonlocal cat
            cat = DatasetCatalog.init(self.spark, root)

        step("init", init)
        n_files = len(self.tree.files)
        step("add_full", lambda: cat.add(), lambda out: self._check_entries(cat, self.first))
        first_version = cat.history()["entries"][-1]
        step("add_noop", lambda: cat.add(), lambda out: self._check_entries(cat, self.first))
        gen.apply_mutation(self.tree, root)  # the user's edits on disk
        step("move", lambda: cat.move(*self.rename))
        step("sync", lambda: cat.sync(), lambda out: self._check_entries(cat, self.final))
        self._browse(cat, root, ops)
        step(
            "stamp",
            lambda: tr.run(
                "operators.stamp_checksum", "operators",
                lambda: stamp_checksum(cat.entries(), cat.meta()),
            )[0]["checksum"],
            lambda got: (corrupted(got) if self.corrupt else got) == self.stamp_want,
        )

        def delta():
            d = cat.diff_versions(first_version)
            return {
                k: tr.run(f"operators.{fn}", "operators", lambda k=k: d[k])
                for k, fn in (
                    ("adds", "delta_adds"),
                    ("removes", "delta_removes"),
                    ("classify", "apply_delta_classify"),
                )
            }

        step("diff_versions", delta, self._check_delta)
        step("vacuum", lambda: cat.vacuum(), lambda out: len(cat.history()["entries"]) == 2)
        self.notes["files"] = n_files
        self.notes["tree_mb"] = self.tree.total_bytes / 1e6
        self.notes["changed_files"] = (
            len(self.tree.mutation.modified) + len(self.tree.mutation.created)
        )
        self.notes["live_bytes"] = _dir_bytes(
            os.path.join(root, ".ddb_spark", "entries", cat.history()["entries"][-1])
        )
        self.notes["entries"] = len(self.final)
        shutil.rmtree(root, ignore_errors=True)
        return ops

    def _browse(self, cat, root: str, ops: list[Op]) -> None:
        import duckdb

        snap = os.path.join(root, ".ddb_spark", "entries", cat.history()["entries"][-1])
        duck = duckdb.connect()
        duck.execute(f"CREATE VIEW entries AS SELECT * FROM read_parquet('{snap}/*.parquet')")
        first = (self.n_sessions - 1) * self.browse
        for i in range(first, first + self.browse):
            kind, p = self.queries[i % len(self.queries)]
            def check(rows, kind=kind, p=p):
                got = query_rows(kind, rows)
                if self.corrupt:
                    got = corrupted(got)
                return got == [tuple(r) for r in duck.execute(*oracle_query(kind, p)).fetchall()]

            ops.append(self._timed(
                kind,
                lambda kind=kind, p=p: self.tracer.run(
                    f"operators.{kind}", "operators", lambda: build_query(cat.entries(), kind, p)),
                check,
            ))
        duck.close()

    def _check_entries(self, cat, want) -> bool:
        rows = cat.entries().select("path", "hash", "type", "size").collect()
        return {r["path"]: (r["hash"], r["type"], r["size"]) for r in rows} == want

    def _check_delta(self, d) -> bool:
        adds = {r["path"] for r in d["adds"]}
        removes = {r["path"] for r in d["removes"]}
        classify = {r["path"]: r["class"] for r in d["classify"]}
        want = self.diff_want
        return adds == want["adds"] and removes == want["removes"] and classify == want["classify"]

    def trace_targets(self) -> list:
        from dronedb_spark.catalog.store import DatasetCatalog, SnapshotTable
        from dronedb_spark.sources import fs

        def written(s, args, out):
            snap = args[0]
            s.extra["bytes"] = _dir_bytes(os.path.join(snap.base, snap.versions()[-1]))

        return [
            (fs, "list_files_df", "sources.list_files_df", "sources", True, None),
            (fs, "ingest_listing", "sources.ingest_listing", "sources", True, None),
            (fs, "dir_rows_df", "sources.dir_rows_df", "sources", False, None),
            (DatasetCatalog, "add", "catalog.add", "catalog", False, None),
            (DatasetCatalog, "status", "catalog.status", "catalog", True, None),
            (DatasetCatalog, "entries", "catalog.entries", "catalog", False, None),
            (SnapshotTable, "write", "catalog.snapshot_write", "catalog", False, written),
        ]

    def layer_metrics(self, spans, units):
        out: dict[str, float] = {}
        per = _per_unit(spans, units)
        for name in ("sources.list_files_df", "sources.ingest_listing", "sources.dir_rows_df",
                     "catalog.add_full", "catalog.add_noop", "catalog.move", "catalog.sync",
                     "catalog.status", "catalog.snapshot_write", "catalog.vacuum"):
            out[f"{name}.ms"] = per(name, "ms")
        ingest = [s for s in spans if s.name == "sources.ingest_listing"]
        # the first ingest of a session reads the whole tree
        first_ingest = [s for s in ingest if _ancestor(s, spans, "catalog.add_full")]
        if first_ingest:
            ms = sum(s.ms for s in first_ingest) / len(first_ingest)
            out["sources.ingest_listing.mb_per_s"] = self.notes["tree_mb"] / (ms / 1000.0)
        adds = [s for s in spans if s.name == "catalog.add"]
        sync_adds = [s for s in adds if _ancestor(s, spans, "catalog.sync")]
        tasks = _tasks_under(spans)
        out["catalog.add.tasks"] = sum(tasks[s.id] for s in adds) / max(len(adds), 1)
        out["catalog.add.tasks_per_changed_file"] = (
            sum(tasks[s.id] for s in sync_adds) / max(len(sync_adds), 1)
        ) / self.notes["changed_files"]
        out["catalog.add.changed_files"] = self.notes["changed_files"]
        written = sum(s.extra.get("bytes", 0) for s in spans if s.name == "catalog.snapshot_write")
        out["catalog.snapshot_bytes_written"] = written / units
        out["catalog.write_amplification"] = (written / units) / self.notes["live_bytes"]
        out["catalog.bytes_per_entry"] = self.notes["live_bytes"] / self.notes["entries"]
        for fn in ("stamp_checksum", "delta_adds", "delta_removes", "apply_delta_classify"):
            for ph in ("build_ms", "plan_ms", "exec_ms"):
                out[f"operators.{fn}.{ph}"] = per(f"operators.{fn}", ph)
        # the browse phase: p50 per read type
        for kind in gen.QUERY_TYPES:
            mine = [s for s in spans if s.name == f"operators.{kind}"]
            for ph in ("build_ms", "plan_ms", "exec_ms"):
                out[f"operators.{kind}.{ph}"] = _median([getattr(s, ph) for s in mine])
        reads = [s for s in spans if s.name in {f"operators.{k}" for k in gen.QUERY_TYPES}]
        entries = [s for s in spans if s.name == "catalog.entries" and _ancestor_in(s, spans, reads)]
        out["catalog.entries.ms"] = _median([s.ms for s in entries])
        scanned = sum(s.spark.get("input_records", 0.0) for s in reads + entries)
        returned = sum(s.extra.get("rows", 0) for s in reads)
        out["operators.rows_scanned_per_row_returned"] = scanned / max(returned, 1)
        return out


def _classify(first: dict, final: dict) -> dict[str, str]:
    """apply_delta_classify(ours=first, theirs=final) by its definition."""
    out = {}
    for p in set(first) | set(final):
        o, t = first.get(p), final.get(p)
        if o is None:
            out[p] = "add"
        elif t is None:
            out[p] = "remove"
        elif (o[1] == gen.DIRECTORY) != (t[1] == gen.DIRECTORY):
            out[p] = "typechange"
        elif o[0] != t[0]:
            out[p] = "modified"
        else:
            out[p] = "unchanged"
    return out


# ------------------------------------------------------------ browsing

_INSTANT = ("CASE WHEN capture_ms > 0 THEN CAST((capture_ms - capture_ms % 1000) / 1000"
            " AS BIGINT) ELSE mtime END")
_ENTRY_COLS = ("path", "hash", "type", "size", "mtime", "depth")


def build_query(entries, kind: str, p: dict):
    """The DataFrame of one catalog read, built by the operators layer."""
    from dronedb_spark.operators import search as S
    from dronedb_spark.operators import stac as C

    if kind == "search":
        return S.search(entries, p["pattern"])
    if kind == "list_folder":
        return S.list_folder(entries, p["folder"])
    window = (p["bbox"], p["t_start"], p["t_end"])
    if kind == "stac_items":
        return C.stac_items(entries, *window, limit=p["limit"], offset=p["offset"])
    if kind == "stac_items_keyset":
        return C.stac_items_keyset(entries, *window, p["after_path"], limit=p["limit"])
    return C.stac_number_matched(entries, *window)


def oracle_query(kind: str, p: dict) -> tuple[str, list]:
    """The same read as DuckDB SQL over the snapshot Parquet (view
    ``entries``): the same ``LIKE … ESCAPE '/'`` and bbox/time predicate."""
    from dronedb_spark.functions.like import folder_pattern, sanitize_query_param

    cols = ", ".join(_ENTRY_COLS)
    if kind == "search":
        return (f"SELECT {cols} FROM entries WHERE path LIKE ? ESCAPE '/' ORDER BY path",
                [sanitize_query_param(p["pattern"])])
    if kind == "list_folder":
        return (f"SELECT {cols} FROM entries WHERE path LIKE ? ESCAPE '/'"
                " OR path LIKE ? ESCAPE '/' ORDER BY type, path",
                [sanitize_query_param(p["folder"]), folder_pattern(p["folder"])])
    minx, miny, maxx, maxy = p["bbox"]
    where = ("type <> 1 AND (point_lon IS NOT NULL OR bbox_minx IS NOT NULL)"
             " AND NOT (bbox_maxx < ? OR bbox_minx > ? OR bbox_maxy < ? OR bbox_miny > ?)"
             f" AND {_INSTANT} >= ? AND {_INSTANT} <= ?")
    args = [minx, maxx, miny, maxy, p["t_start"], p["t_end"]]
    if kind == "stac_number_matched":
        return f"SELECT COUNT(*) FROM entries WHERE {where}", args
    cols = f"path, type, {_INSTANT} AS datetime_s, bbox_minx, bbox_miny, bbox_maxx, bbox_maxy"
    if kind == "stac_items":
        return (f"SELECT {cols} FROM entries WHERE {where} ORDER BY path LIMIT ? OFFSET ?",
                args + [p["limit"], p["offset"]])
    return (f"SELECT {cols} FROM entries WHERE {where} AND path > ? ORDER BY path LIMIT ?",
            args + [p["after_path"], p["limit"]])


def query_rows(kind: str, rows) -> list[tuple]:
    if kind in ("search", "list_folder"):
        return [tuple(r[c] for c in _ENTRY_COLS) for r in rows]
    return [tuple(r) for r in rows]


# ------------------------------------------------------------ analytics

# The analytics pass: fixed registry checks, grouped by the layer whose
# kernels they exercise.
ANALYTICS = {
    "raster": (
        "zonal_volume_cutfill", "contour_segments", "formula_engine_sweep",
        "render_index_region",
    ),
    "text": ("dedup_neardup_pairs",),
    "vectors": ("knn_cosine_top10",),
    "operators": ("q1_pricing_summary", "delta_adds_10x"),
}


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if type(v).__name__ == "Decimal":
        return round(float(v), 9)
    return v


def rows_digest(cols: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    values normalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    key = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256(repr(([cols[i] for i in order], key)).encode()).hexdigest()


class AnalyticsBatch(Workload):
    """One sequential pass over fixed registry checks on generated
    tables.  Set-up checks every result once against its registry DuckDB
    oracle and records its row count and digest; each timed run checks
    both."""

    name = "analytics_batch"
    # The JVM keeps getting faster for several passes after the cold one.
    # Two more untimed passes take the steepest part of that; four timed
    # passes give each check a median that one stall does not move.
    warm_passes = 2
    min_units = 4

    def prepare(self, rep: int) -> None:
        sf = 0.002 if self.tiny else 0.01
        self.tables = os.path.join(self.work, f"tables{rep}")
        gen.write_tables(self.seed, sf, self.tables)

    def warm(self) -> None:
        import duckdb

        from dronedb_spark.suite import load_all
        from dronedb_spark.tables import TABLE_NAMES

        self.registry = load_all()
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')")
        self.want: dict[str, tuple[int, str]] = {}
        t0 = time.perf_counter()
        for names in ANALYTICS.values():
            for name in names:
                df = self.registry[name].spark_fn(self.spark, self.tables)
                cols = [c.lower() for c in df.columns]
                rows = df.collect()
                self.want[name] = (len(rows), rows_digest(cols, rows))
        self.notes["cold_ms"] = (time.perf_counter() - t0) * 1000.0
        for names in ANALYTICS.values():
            for name in names:
                res = con.execute(self.registry[name].oracle)
                dcols = [d[0].lower() for d in res.description]
                drows = res.fetchall()
                if (len(drows), rows_digest(dcols, drows)) != self.want[name]:
                    raise RuntimeError(f"{name}: result differs from its registry oracle")
        con.close()
        for _ in range(self.warm_passes):
            self.unit()

    def unit(self) -> list[Op]:
        from dronedb_spark.tables import reset_run_cache

        ops = []
        for family, names in ANALYTICS.items():
            for name in names:
                chk = self.registry[name]
                reset_run_cache(self.spark)
                holder = {}

                def build(chk=chk):
                    df = chk.spark_fn(self.spark, self.tables)
                    holder["cols"] = [c.lower() for c in df.columns]
                    return df

                def check(rows, name=name):
                    if self.corrupt:
                        rows = corrupted(rows)
                    return (len(rows), rows_digest(holder["cols"], rows)) == self.want[name]

                ops.append(self._timed(
                    name,
                    lambda build=build, name=name, family=family: self.tracer.run(
                        f"{family}.{name}", family, build),
                    check,
                ))
                self.notes["persisted_rdds"] = max(
                    self.notes.get("persisted_rdds", 0), self.tracer.persisted_rdds()
                )
        return ops

    def trace_targets(self) -> list:
        from dronedb_spark import tables

        return [
            (tables, "load", "tables.load", "tables", False, None),
            (tables, "barrier_persist", "tables.barrier_persist", "tables", False, None),
        ]

    def layer_metrics(self, spans, units):
        out: dict[str, float] = {}
        for family in ANALYTICS:
            mine = [s for s in spans if s.layer == family and s.build_ms is not None]
            for ph in ("build_ms", "plan_ms", "exec_ms"):
                out[f"{family}.{ph}"] = sum(getattr(s, ph) for s in mine) / units
        out["tables.persisted_rdds"] = self.notes.get("persisted_rdds", 0)
        out["analytics.cold_ms"] = self.notes["cold_ms"]
        return out


WORKLOADS = {w.name: w for w in (CatalogLifecycle, AnalyticsBatch)}


# -------------------------------------------------------------- helpers


def _median(xs) -> float:
    xs = sorted(x for x in xs if x is not None)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def _per_unit(spans, units):
    def per(name, field):
        vals = [s.ms if field == "ms" else getattr(s, field) for s in spans if s.name == name]
        return sum(v for v in vals if v is not None) / units

    return per


def _ancestor_in(s: Span, spans: list[Span], group: list[Span]) -> bool:
    ids = {x.id for x in group}
    by_id = {x.id: x for x in spans}
    p = by_id.get(s.parent)
    while p is not None:
        if p.id in ids:
            return True
        p = by_id.get(p.parent)
    return False


def _ancestor(s: Span, spans: list[Span], name: str) -> bool:
    return _ancestor_in(s, spans, [x for x in spans if x.name == name])


def _tasks_under(spans: list[Span]) -> dict[int, float]:
    """Tasks of each span's own job group plus those of its descendants."""
    total = {s.id: s.spark.get("tasks", 0.0) for s in spans}
    for s in sorted(spans, key=lambda s: -s.id):  # children have larger ids
        if s.parent is not None and s.parent in total:
            total[s.parent] += total[s.id]
    return total
