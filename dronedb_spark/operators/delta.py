"""Dataset sync algebra: stamp, delta, applyDelta (SURVEY §1.6, J2-J5, A8).

Reference: stamp = content-addressed dataset identity
(database.cpp:288-331); delta = adds/removes between two stamps
(delta.cpp:105-206); applyDelta merges with a conflict-strategy
(registry.cpp:358-470).  All of it is pure DataFrame algebra: anti-joins
for set differences, a full-outer join for merge classification.

Scale note: at 100 TB the (path, hash) anti-joins shuffle both sides on
path — AQE handles skew; the checksum is the only inherently sequential
step (SHA256 over a canonically ordered concatenation — the reference's
definition).  We compute it with ``sort_array(collect_list(...))`` which
funnels one (path,hash) pair list to a single reducer; for a billion-entry
catalog the same semantics would be kept but fed by a per-range pre-concat
(tree reduction) — noted here because the *checksum definition* itself
(database.cpp:299-329) forces a total order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.catalog.derive import entries_df, entries_meta_df, with_catalog
from dronedb_spark.suite import check


def delta_adds(src: DataFrame, dst: DataFrame) -> DataFrame:
    """J2 (delta.cpp:131-149): source entries with no (path, hash) match in
    destination — both brand-new paths and modified contents."""
    return src.join(dst.select("path", "hash"), ["path", "hash"], "left_anti").orderBy("path")


def delta_removes(src: DataFrame, dst: DataFrame) -> DataFrame:
    """J3 (delta.cpp:151-169): destination entries with no source entry of
    the same path *and is-directory class*; path-DESC so children delete
    before parents."""
    src_k = src.select("path", (F.col("type") == 1).alias("isdir"))
    dst_k = dst.select("path", (F.col("type") == 1).alias("isdir"), "type")
    return (
        dst_k.join(src_k, ["path", "isdir"], "left_anti")
        .select("path", "type")
        .orderBy(F.desc("path"))
    )


def apply_delta_classify(ours: DataFrame, theirs: DataFrame) -> DataFrame:
    """J5 (registry.cpp:358-470): full-outer join on path with per-row
    classification — the inputs to the DontMerge/KeepOurs/KeepTheirs
    strategies.  Classes: unchanged, modified (both present, hash differs),
    add (theirs only), remove (ours only), typechange (file↔dir swap)."""
    o = ours.select(
        F.col("path"), F.col("hash").alias("o_hash"), (F.col("type") == 1).alias("o_isdir")
    )
    t = theirs.select(
        F.col("path"), F.col("hash").alias("t_hash"), (F.col("type") == 1).alias("t_isdir")
    )
    j = o.join(t, "path", "full_outer")
    cls = (
        F.when(F.col("o_hash").isNull(), F.lit("add"))
        .when(F.col("t_hash").isNull(), F.lit("remove"))
        .when(F.col("o_isdir") != F.col("t_isdir"), F.lit("typechange"))
        .when(F.col("o_hash") != F.col("t_hash"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("path", cls.alias("class"))


def _sorted_concat(*parts: str, by: tuple[str, ...] = ()) -> Column:
    """Aggregate: the rows' ``parts`` concatenated in ``(*by, *parts)``
    order, NULL when any row holds a NULL part.  One array_join over the
    sorted structs is linear in the row count (an ``acc || x.part`` fold
    copies the growing string per row: quadratic); array_join skips NULL
    elements, so the count guard keeps the NULL."""
    pairs = F.expr(
        f"transform(sort_array(collect_list(struct({', '.join(by + parts)}))),"
        f" x -> {' || '.join('x.' + p for p in parts)})"
    )
    return F.when(F.count(F.lit(1)) == F.count(F.concat(*parts)), F.array_join(pairs, ""))


def stamp_checksum(entries: DataFrame, meta: DataFrame | None = None) -> DataFrame:
    """A8 (database.cpp:288-331): SHA256 over path+hash concatenated in
    path order, then meta ids in id order."""
    body = entries.agg(_sorted_concat("path", "hash").alias("body"))
    if meta is not None:
        ids = meta.agg(F.array_join(F.sort_array(F.collect_list("id")), "").alias("meta_ids"))
        body = body.crossJoin(ids).select(
            F.concat(F.col("body"), F.col("meta_ids")).alias("body")
        )
    return body.select(F.sha2(F.col("body"), 256).alias("checksum"))


# ---------------------------------------------------------------- checks

_DELTA_COLS = "path, hash, type, size"


@check(
    "delta_adds",
    oracle=with_catalog(
        f"""SELECT {_DELTA_COLS} FROM entries a
            WHERE NOT EXISTS (
                SELECT 1 FROM entries_b b WHERE b.path = a.path AND b.hash = a.hash)
            ORDER BY path""",
        variants=("a", "b"),
    ),
)
def q_delta_adds(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = entries_df(spark, sf_dir, "a")
    b = entries_df(spark, sf_dir, "b")
    return delta_adds(a, b).select("path", "hash", "type", "size")


@check(
    "delta_removes",
    oracle=with_catalog(
        """SELECT b.path, b.type FROM entries_b b
           WHERE NOT EXISTS (
               SELECT 1 FROM entries a WHERE a.path = b.path
                 AND (a.type = 1) = (b.type = 1))
           ORDER BY path DESC""",
        variants=("a", "b"),
    ),
)
def q_delta_removes(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = entries_df(spark, sf_dir, "a")
    b = entries_df(spark, sf_dir, "b")
    return delta_removes(a, b)


@check(
    "apply_delta_classify",
    oracle=with_catalog(
        """SELECT COALESCE(o.path, t.path) AS path,
                  CASE WHEN o.hash IS NULL THEN 'add'
                       WHEN t.hash IS NULL THEN 'remove'
                       WHEN (o.type = 1) <> (t.type = 1) THEN 'typechange'
                       WHEN o.hash <> t.hash THEN 'modified'
                       ELSE 'unchanged' END AS class
           FROM entries o FULL OUTER JOIN entries_b t ON o.path = t.path""",
        variants=("a", "b"),
    ),
)
def q_apply_delta_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return apply_delta_classify(entries_df(spark, sf_dir, "a"), entries_df(spark, sf_dir, "b"))


@check(
    "stamp_checksum",
    small=True,
    oracle=with_catalog(
        """SELECT sha256(
                 COALESCE((SELECT string_agg(path || hash, '' ORDER BY path) FROM entries), '')
              || COALESCE((SELECT string_agg(id, '' ORDER BY id) FROM entries_meta), '')
           ) AS checksum""",
        variants=("a",),
        meta=True,
    ),
)
def q_stamp_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stamp_checksum(entries_df(spark, sf_dir), entries_meta_df(spark, sf_dir))


def stamp_tree_digest(entries: DataFrame, n_buckets: int = 16) -> DataFrame:
    """A8 scale path (see SCALE.md): per-bucket digest + digest-of-digests.

    The reference checksum (database.cpp:288-331) is order-sensitive over
    the WHOLE catalog, which forces a global sort + single-reducer concat.
    This variant hashes each path into one of ``n_buckets`` deterministic
    buckets (first md5 hex char), digests each bucket's path-ordered
    content independently (parallel, partial-friendly), and digests the
    bucket digests in bucket order.  Identical change-detection power —
    any path/hash change flips the root — with per-bucket parallelism and
    no global sort.  Both sync sides need only agree on the bucketing."""
    assert n_buckets == 16, "bucket fn is the first md5 hex char (16 buckets)"
    b = entries.select(
        (F.instr(F.lit("0123456789abcdef"), F.substring(F.md5("path"), 1, 1)) - 1).alias(
            "bucket"
        ),
        "path",
        "hash",
    )
    per = b.groupBy("bucket").agg(F.sha2(_sorted_concat("path", "hash"), 256).alias("digest"))
    return per.agg(F.sha2(_sorted_concat("digest", by=("bucket",)), 256).alias("checksum"))


# An empty catalog stamps as sha256 of the empty string, as in
# stamp_checksum's oracle.
TREE_DIGEST_SQL = """WITH b AS (
       SELECT instr('0123456789abcdef', substr(md5(path), 1, 1)) - 1 AS bucket,
              path, hash
       FROM entries),
   per AS (
       SELECT bucket, sha256(string_agg(path || hash, '' ORDER BY path)) AS digest
       FROM b GROUP BY bucket)
   SELECT sha256(COALESCE(string_agg(digest, '' ORDER BY bucket), '')) AS checksum FROM per"""


@check("stamp_tree_digest", oracle=with_catalog(TREE_DIGEST_SQL))
def q_stamp_tree_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stamp_tree_digest(entries_df(spark, sf_dir))


def status_classify(index: DataFrame, fs: DataFrame) -> DataFrame:
    """J7 (status.cpp:16-77 + checkUpdate dbops.cpp:441-472): classify every
    file path across index vs filesystem into NotModified / Modified /
    Deleted / NotIndexed.

    The reference walks rows one at a time; here it is one full-outer join
    on path.  The mtime-then-hash short-circuit (X4) survives as predicate
    ORDER inside the CASE: equal mtime classifies NotModified without ever
    consulting the hash column; equal hash under a changed mtime is a
    touch, not a modification.  The catalog store does NOT follow this
    rule: ``catalog/store.py:_status`` compares mtimes only and never
    reads a hash, so a touched file with unchanged content counts as
    Modified there.

    Scale: one shuffle on path for both sides; at 100 TB the catalog side
    is bucketed by path (see SCALE.md), so only the fs scan moves.
    """
    i = index.filter(F.col("type") != 1).select(
        "path", F.col("hash").alias("i_hash"), F.col("mtime").alias("i_mtime")
    )
    f_ = fs.filter(F.col("type") != 1).select(
        "path", F.col("hash").alias("f_hash"), F.col("mtime").alias("f_mtime")
    )
    j = i.join(f_, "path", "full_outer")
    cls = (
        F.when(F.col("f_hash").isNull(), F.lit("deleted"))
        .when(F.col("i_hash").isNull(), F.lit("not_indexed"))
        .when(F.col("i_mtime") == F.col("f_mtime"), F.lit("not_modified"))
        .when(F.col("i_hash") == F.col("f_hash"), F.lit("not_modified"))
        .otherwise(F.lit("modified"))
    )
    return j.select("path", cls.alias("status")).orderBy("path")


@check(
    "status_classify",
    oracle=with_catalog(
        """SELECT COALESCE(i.path, f.path) AS path,
                  CASE WHEN f.hash IS NULL THEN 'deleted'
                       WHEN i.hash IS NULL THEN 'not_indexed'
                       WHEN i.mtime = f.mtime THEN 'not_modified'
                       WHEN i.hash = f.hash THEN 'not_modified'
                       ELSE 'modified' END AS status
           FROM (SELECT * FROM entries WHERE type <> 1) i
           FULL OUTER JOIN (SELECT * FROM entries_c WHERE type <> 1) f
             ON i.path = f.path
           ORDER BY path""",
        variants=("a", "c"),
    ),
)
def q_status_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return status_classify(entries_df(spark, sf_dir, "a"), entries_df(spark, sf_dir, "c"))


# ------------------------------------------------------- pull planning


def pull_plan(remote: DataFrame, local: DataFrame, base: DataFrame) -> DataFrame:
    """The non-network core of `ddb pull` (registry.cpp:537-589): plan
    what a sync from a remote stamp must do, given the LOCAL working
    index and the BASE (last-pulled) stamp.  Transport (HTTP download /
    upload) stays out of scope; everything the reference computes
    before and after the wire is here:

      * adds   — remote (path, hash) pairs absent from base
                 (delta.cpp's add set against the last stamp)
      * per-add action:
          present    — local already has this exact content at the path
                       (applyDelta's skip)
          conflict   — BothModified (registry.cpp:445): local changed
                       vs base AND disagrees with the remote
          local_copy — computeDeltaLocals: some local file already has
                       the remote HASH → hard-copy from src_path, no
                       download
          download   — content exists nowhere locally
      * removes — base paths the remote no longer has

    Scale shape: the delta is change-sized, the local index is
    corpus-sized — so the plan BROADCASTS the adds into left-semi
    filters over the local/base tables (shuffle-free probes of the big
    side, the elevation-profile discipline), then joins the tiny hit
    sets back broadcast.  The content-address lookup groups the hash
    hits to one source path before the join, so duplicate local content
    cannot fan out the plan."""
    base_ph = base.select("path", "hash")
    adds = (
        remote.select("path", "hash")
        .join(base_ph, ["path", "hash"], "left_anti")
        .withColumnRenamed("hash", "r_hash")
    )
    adds_paths = F.broadcast(adds.select("path"))
    loc_hits = (
        local.select("path", F.col("hash").alias("l_hash"))
        .join(adds_paths, "path", "left_semi")
    )
    base_hits = (
        base.select("path", F.col("hash").alias("b_hash"))
        .join(adds_paths, "path", "left_semi")
    )
    content_hits = (
        local.select(F.col("hash").alias("r_hash"), F.col("path").alias("src_path"))
        .join(F.broadcast(adds.select("r_hash")), "r_hash", "left_semi")
        .groupBy("r_hash")
        .agg(F.min("src_path").alias("src_path"))
    )
    j = (
        adds.join(F.broadcast(loc_hits), "path", "left")
        .join(F.broadcast(base_hits), "path", "left")
        .join(F.broadcast(content_hits), "r_hash", "left")
    )
    action = (
        F.when(F.col("l_hash") == F.col("r_hash"), F.lit("present"))
        .when(
            F.col("l_hash").isNotNull()
            & (F.col("l_hash") != F.coalesce(F.col("b_hash"), F.lit("")))
            & (F.col("l_hash") != F.col("r_hash")),
            F.lit("conflict"),
        )
        .when(F.col("src_path").isNotNull(), F.lit("local_copy"))
        .otherwise(F.lit("download"))
    )
    plan_adds = j.select(
        "path",
        action.alias("action"),
        F.when(action == "local_copy", F.col("src_path")).otherwise(F.lit("")).alias("src_path"),
    )
    removes = (
        base_ph.join(remote.select("path"), "path", "left_anti")
        .select("path", F.lit("remove").alias("action"), F.lit("").alias("src_path"))
    )
    return plan_adds.unionByName(removes)


def _pull_fixture_sql(dialect: str) -> dict[str, str]:
    """Three synthetic catalogs from the same closed form in both
    dialects: base = last-pulled stamp, local = working tree with some
    local edits (i%7==0), remote = upstream with its own edits (i%5==0),
    two deletions (28, 29), five new files (30-34, one of which reuses
    local content h3), and one identical-both-sides edit (21)."""
    rng = (
        "SELECT CAST(id AS INT) AS i FROM range(0, 35)"
        if dialect == "spark"
        else "SELECT CAST(range AS INT) AS i FROM range(0, 35)"
    )
    return {
        "base": f"""SELECT 'f' || i AS path, 'h' || i AS hash
                    FROM ({rng}) t WHERE i < 30""",
        "local": f"""SELECT 'f' || i AS path,
                        CASE WHEN i % 7 = 0 THEN 'l' || i ELSE 'h' || i END AS hash
                     FROM ({rng}) t WHERE i < 30""",
        "remote": f"""SELECT 'f' || i AS path,
                        CASE WHEN i = 30 THEN 'h3'
                             WHEN i = 21 THEN 'l21'
                             WHEN i >= 31 THEN 'r' || i
                             WHEN i % 5 = 0 THEN 'r' || i
                             ELSE 'h' || i END AS hash
                      FROM ({rng}) t WHERE i NOT IN (28, 29)""",
    }


def _pull_plan_oracle() -> str:
    t = _pull_fixture_sql("duckdb")
    return f"""
        WITH base AS ({t["base"]}), local AS ({t["local"]}), remote AS ({t["remote"]}),
        adds AS (
            SELECT r.path, r.hash AS r_hash FROM remote r
            LEFT JOIN base b ON r.path = b.path AND r.hash = b.hash
            WHERE b.path IS NULL),
        content AS (
            SELECT l.hash AS r_hash, MIN(l.path) AS src_path FROM local l
            WHERE l.hash IN (SELECT r_hash FROM adds) GROUP BY l.hash),
        planned AS (
            SELECT a.path,
                   CASE WHEN l.hash = a.r_hash THEN 'present'
                        WHEN l.hash IS NOT NULL AND l.hash <> COALESCE(b.hash, '')
                             AND l.hash <> a.r_hash THEN 'conflict'
                        WHEN c.src_path IS NOT NULL THEN 'local_copy'
                        ELSE 'download' END AS action,
                   c.src_path
            FROM adds a
            LEFT JOIN local l ON a.path = l.path
            LEFT JOIN base b ON a.path = b.path
            LEFT JOIN content c ON a.r_hash = c.r_hash)
        SELECT path, action,
               CASE WHEN action = 'local_copy' THEN src_path ELSE '' END AS src_path
        FROM planned
        UNION ALL
        SELECT b.path, 'remove' AS action, '' AS src_path FROM base b
        LEFT JOIN remote r ON b.path = r.path WHERE r.path IS NULL
        ORDER BY path, action"""


@check("pull_delta_plan", oracle=_pull_plan_oracle())
def q_pull_delta_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _pull_fixture_sql("spark")
    return pull_plan(
        spark.sql(t["remote"]), spark.sql(t["local"]), spark.sql(t["base"])
    ).orderBy("path", "action")


# ------------------------------------------------------- push planning


class PullRequiredError(RuntimeError):
    """The remote stamp moved since the client's last pull — pushing
    would overwrite someone else's changes (pushmanager.cpp init:
    ``pullRequired`` → PullRequiredException)."""


def push_plan(
    client: DataFrame,
    server: DataFrame,
    client_meta: DataFrame | None = None,
    server_meta: DataFrame | None = None,
) -> DataFrame:
    """Server-side core of `ddb push` init (pushmanager.h:20-47,
    registry.cpp:679-742): given the CLIENT's stamp and the SERVER's
    index, compute what must cross the wire —

      * neededFiles — client entries whose content the server does not
        already store under ANY path (content-addressed, so a renamed
        or duplicated file never re-uploads).  One representative (min)
        path per missing hash: the object store keys by content, so a
        hash shared by several new client paths uploads once and the
        commit materializes every path from the stamp.
      * neededMeta  — stamp meta ids absent server-side.

    Mirror of ``pull_plan`` (the client half); together they close the
    sync compute core with transport out of scope.

    Scale shape: both stamps are corpus-sized — the hash de-dup is a
    map-side partial aggregate, the anti-join shuffles only the two
    DISTINCT hash sets on hash, and nothing is collected or broadcast
    at corpus size."""
    c_hashes = client.select("path", "hash").where(F.col("hash") != "")
    missing = (
        c_hashes.groupBy("hash")
        .agg(F.min("path").alias("item"))
        .join(
            server.select("hash").where(F.col("hash") != "").distinct(),
            "hash",
            "left_anti",
        )
        .select("item", F.lit("file").alias("kind"))
    )
    if client_meta is None:
        return missing
    needed_meta = client_meta.select(F.col("id").alias("item"))
    if server_meta is not None:
        # server_meta=None ≡ a server with no meta at all: every client
        # meta id is needed (the two sides are independently optional)
        needed_meta = needed_meta.join(
            server_meta.select(F.col("id").alias("item")), "item", "left_anti"
        )
    return missing.unionByName(
        needed_meta.select("item", F.lit("meta").alias("kind"))
    )


def push_init(
    client: DataFrame,
    server: DataFrame,
    client_meta: DataFrame | None = None,
    server_meta: DataFrame | None = None,
    *,
    base_checksum: str = "",
    server_checksum: str = "",
) -> DataFrame:
    """push/init with the stale-base gate (pushmanager.cpp:34-36): the
    client sends the checksum of the LAST stamp it pulled; if the
    server's current stamp checksum differs, someone pushed in between
    and the client must pull first."""
    if base_checksum != server_checksum:
        raise PullRequiredError(
            "The remote has new changes. Pull the latest changes before pushing."
        )
    return push_plan(client, server, client_meta, server_meta)


def _push_fixture_sql(dialect: str) -> dict[str, str]:
    """Client/server stamps from one closed form in both dialects:
    server holds f0-f29 at h_i; the client modified every 6th file
    (c_i), added f30-f34 where f31 REUSES existing server content h7
    (content-address: no upload) and f33/f34 share one new hash cdup
    (one upload, min path); client carries meta m0-m9, server m0-m5."""
    rng = (
        "SELECT CAST(id AS INT) AS i FROM range(0, 35)"
        if dialect == "spark"
        else "SELECT CAST(range AS INT) AS i FROM range(0, 35)"
    )
    return {
        "server": f"""SELECT 'f' || i AS path, 'h' || i AS hash
                      FROM ({rng}) t WHERE i < 30""",
        "client": f"""SELECT 'f' || i AS path,
                        CASE WHEN i = 31 THEN 'h7'
                             WHEN i IN (33, 34) THEN 'cdup'
                             WHEN i >= 30 THEN 'n' || i
                             WHEN i % 6 = 0 THEN 'c' || i
                             ELSE 'h' || i END AS hash
                      FROM ({rng}) t""",
        "cmeta": f"SELECT 'm' || i AS id FROM ({rng}) t WHERE i < 10",
        "smeta": f"SELECT 'm' || i AS id FROM ({rng}) t WHERE i < 6",
    }


def _push_plan_oracle() -> str:
    t = _push_fixture_sql("duckdb")
    return f"""
        WITH server AS ({t["server"]}), client AS ({t["client"]}),
        cmeta AS ({t["cmeta"]}), smeta AS ({t["smeta"]}),
        missing AS (
            SELECT MIN(path) AS item FROM client
            WHERE hash <> ''
              AND hash NOT IN (SELECT hash FROM server WHERE hash <> '')
            GROUP BY hash),
        needed_meta AS (
            SELECT id AS item FROM cmeta
            WHERE id NOT IN (SELECT id FROM smeta))
        SELECT item, 'file' AS kind FROM missing
        UNION ALL
        SELECT item, 'meta' AS kind FROM needed_meta
        ORDER BY kind, item"""


@check("push_needed_files", oracle=_push_plan_oracle())
def q_push_needed_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _push_fixture_sql("spark")
    return push_plan(
        spark.sql(t["client"]),
        spark.sql(t["server"]),
        spark.sql(t["cmeta"]),
        spark.sql(t["smeta"]),
    ).orderBy("kind", "item")


# ---------------------------------------------- catalog-scale twin ----


_CAT_INFLATE = 10


def inflated_entries(spark: SparkSession, sf_dir: str, variant: str,
                     copies: int = _CAT_INFLATE) -> DataFrame:
    """The catalog × ``copies`` with re-prefixed paths — the stress twin
    shape for the delta/status shuffles at 10× the entry mass (the
    text ops carry 10× evidence via ``inflated_documents``; this is the
    catalog-side equivalent).  The copy dimension broadcasts, so the
    inflation itself adds no shuffle — only the anti-join's path
    shuffle grows, which is exactly what the twin measures."""
    ks = F.broadcast(spark.range(copies).select(F.col("id").cast("int").alias("k")))
    e = entries_df(spark, sf_dir, variant)
    return (
        e.crossJoin(ks)
        .withColumn(
            "path",
            F.concat_ws("", F.lit("c"), F.col("k").cast("string"), F.lit("/"), F.col("path")),
        )
        .drop("k")
    )


@check(
    "delta_adds_10x",
    oracle=with_catalog(
        f"""WITH ks AS (SELECT CAST(range AS INT) AS k FROM range(0, {_CAT_INFLATE})),
            ia AS (SELECT 'c' || k || '/' || path AS path, hash, type, size
                   FROM entries, ks),
            ib AS (SELECT 'c' || k || '/' || path AS path, hash FROM entries_b, ks)
            SELECT a.path, a.hash, a.type, a.size FROM ia a
            WHERE NOT EXISTS (
                SELECT 1 FROM ib b WHERE b.path = a.path AND b.hash = a.hash)
            ORDER BY path""",
        variants=("a", "b"),
    ),
)
def q_delta_adds_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10× stress twin of ``delta_adds``: the anti-join shuffles both
    inflated catalogs on path; scaling vs the 1× bench row is the
    linearity evidence for the sync delta at catalog scale."""
    a = inflated_entries(spark, sf_dir, "a")
    b = inflated_entries(spark, sf_dir, "b")
    return delta_adds(a, b).select("path", "hash", "type", "size")


def clone_plan(remote: DataFrame) -> DataFrame:
    """`ddb clone` compute core (clone.cpp → registry pull into a fresh
    directory): pull planning with an EMPTY local tree and no base stamp
    — every remote file classifies as a download, nothing conflicts,
    nothing is removed.  Thin degenerate case of ``pull_plan`` kept as a
    named operator so the sync command family (clone/pull/push) each
    has its own entry point."""
    spark = remote.sparkSession
    empty = spark.createDataFrame([], "path string, hash string")
    return pull_plan(remote, empty, empty)


@check(
    "clone_plan_downloads",
    oracle=f"""
        WITH remote AS ({_pull_fixture_sql("duckdb")["remote"]})
        SELECT path, 'download' AS action, '' AS src_path
        FROM remote ORDER BY path""",
)
def q_clone_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _pull_fixture_sql("spark")
    return clone_plan(spark.sql(t["remote"])).orderBy("path")
