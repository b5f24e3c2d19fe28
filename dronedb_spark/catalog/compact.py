"""Small-file compaction planning — catalog maintenance at scale
(beyond the reference's CLI surface; the lakehouse ``OPTIMIZE`` /
Spark file-packing shape): a long-lived catalog accumulates many small
artifacts per folder, and scan efficiency at 100 TB depends on packing
them into target-sized groups.

The plan is the deterministic cumulative-sum packing Spark's own scan
planner uses for input splits (FilePartition packing): within each
folder, files in path order accumulate, and a file starts a new group
when the bytes BEFORE it already fill ``target`` — so every group
except possibly the last holds at least one byte short of target
before its final member, groups never split a file, and the grouping
is a pure window computation (no driver-side loop, no greedy state).

Scale shape: one shuffle (hash partition by folder) + an in-partition
prefix sum — the ``running_offsets`` discipline (text/packing.py)
applied to catalog maintenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.catalog.derive import entries_df, with_catalog
from dronedb_spark.suite import check

TARGET_BYTES = 4096


def compact_plan(entries: DataFrame, target: int = TARGET_BYTES) -> DataFrame:
    """(folder, path, size, group_no) for every FILE entry: the
    compaction group each file lands in.  group_no = cumulative size of
    PRECEDING files in the folder (path order) // target."""
    files = entries.filter(F.col("type") != 1).select(
        F.substring_index("path", "/", 1).alias("folder"), "path", "size"
    )
    w = (
        Window.partitionBy("folder")
        .orderBy("path")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("size").over(w), F.lit(0))
    # integer division (DIV): Spark's `/` on bigints is a double, whose
    # truncated quotient can disagree with the exact closed form once a
    # folder's cumulative bytes pass 2^53 — the 100 TB regime this plan
    # targets
    return files.select(
        "folder", "path", "size", before.alias("before_bytes")
    ).select(
        "folder",
        "path",
        "size",
        F.expr(f"CAST(before_bytes DIV {target} AS INT)").alias("group_no"),
    )


def compact_summary(entries: DataFrame, target: int = TARGET_BYTES) -> DataFrame:
    """(folder, n_files, n_groups, max_group_bytes) — the work estimate
    a maintenance job reports before rewriting."""
    plan = compact_plan(entries, target)
    per_group = plan.groupBy("folder", "group_no").agg(
        F.count(F.lit(1)).alias("nf"), F.sum("size").alias("bytes")
    )
    return per_group.groupBy("folder").agg(
        F.sum("nf").cast("bigint").alias("n_files"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.max("bytes").cast("bigint").alias("max_group_bytes"),
    )


@check(
    "compact_plan_groups",
    oracle=with_catalog(
        f"""SELECT folder, CAST(COUNT(*) AS BIGINT) AS n_files,
                   CAST(COUNT(DISTINCT group_no) AS BIGINT) AS n_groups,
                   CAST(MAX(gbytes) AS BIGINT) AS max_group_bytes
            FROM (
              SELECT folder, group_no,
                     SUM(size) OVER (PARTITION BY folder, group_no) AS gbytes
              FROM (
                SELECT string_split(path, '/')[1] AS folder, path, size,
                       CAST(COALESCE(SUM(size) OVER (
                           PARTITION BY string_split(path, '/')[1]
                           ORDER BY path
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            // {TARGET_BYTES} AS INT) AS group_no
                FROM entries WHERE type <> 1) g) t
            GROUP BY folder ORDER BY folder"""
    ),
)
def q_compact_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-folder compaction accounting over the derived catalog —
    group count, file count, and the heaviest group's bytes all
    value-checked against the window closed form."""
    return compact_summary(entries_df(spark, sf_dir)).orderBy("folder")


ROWS_TARGET = 5_000  # execution check packs by row count (reproducible
# across engines — byte sizes depend on parquet encoding, row counts
# derive from the data)


def execute_compaction(
    slices: DataFrame,
    slice_col: str,
    plan: DataFrame,
    out_dir: str,
    path_of=None,
) -> None:
    """EXECUTE a compaction plan: every input slice's rows land in its
    group's directory, repartitioned so each group writes exactly one
    packed file.  One shuffle on the group id — the rewrite cost is the
    rewritten bytes, never a per-group job.

    ``path_of`` maps the slice column to the plan's ``path`` key (a
    Column → Column callable); the default is the catalog scheme the
    ``compact_execute_groups`` check uses (``li/<slice lpad 4>``).
    Any slice row whose derived path is NOT in the plan raises inside
    the write (per-row ``raise_error`` on the left join's null side) —
    a mismatched path scheme fails loudly instead of silently writing
    an empty store."""
    if path_of is None:
        path_of = lambda c: F.concat(  # noqa: E731
            F.lit("li/"), F.lpad(c.cast("string"), 4, "0")
        )
    mapping = plan.select(
        F.col("path").alias("_p"), F.col("group_no").alias("grp")
    )
    keyed = slices.withColumn("_p", path_of(F.col(slice_col)))
    joined = keyed.join(F.broadcast(mapping), "_p", "left").withColumn(
        "grp",
        F.when(F.col("grp").isNotNull(), F.col("grp")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("execute_compaction: slice path not in plan: "),
                    F.col("_p"),
                )
            )
        ),
    )
    (
        joined.drop("_p")
        .repartition("grp")
        .write.partitionBy("grp")
        .mode("overwrite")
        .parquet(out_dir)
    )


@check(
    "compact_execute_groups",
    small=True,
    oracle=f"""
        WITH slices AS (
            SELECT l_orderkey % 40 AS slice, COUNT(1) AS n_rows
            FROM lineitem GROUP BY 1),
        entries AS (
            SELECT lpad(CAST(slice AS VARCHAR), 4, '0') AS p, n_rows
            FROM slices),
        packed AS (
            SELECT p, n_rows,
                   CAST(CAST(COALESCE(SUM(n_rows) OVER (
                       ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) // {ROWS_TARGET} AS BIGINT) AS group_no
            FROM entries)
        SELECT group_no,
               CAST(COUNT(1) AS BIGINT) AS n_members,
               CAST(SUM(n_rows) AS BIGINT) AS n_rows,
               CAST(SUM(n_rows) AS BIGINT) AS rows_written,
               CAST(1 AS BIGINT) AS n_files
        FROM packed GROUP BY group_no ORDER BY group_no""",
)
def q_compact_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan → EXECUTE → verify, all in one check: 40 row-count-sized
    catalog slices pack into 5000-row groups via the window
    plan, the rewrite runs (one shuffle, one packed file per group),
    and the packed store is RE-READ to prove conservation — rows out
    == rows planned, exactly one file per group directory.
    Scratch-dir check: collected in-function."""
    import os
    import tempfile

    from dronedb_spark.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_orderkey") % 40).alias("slice")
    )
    entries = (
        li.groupBy("slice")
        .agg(F.count(F.lit(1)).alias("size"))
        .select(
            F.concat(
                F.lit("li/"), F.lpad(F.col("slice").cast("string"), 4, "0")
            ).alias("path"),
            "size",
            F.lit(0).alias("type"),
        )
    )
    plan = compact_plan(entries, ROWS_TARGET)
    planned = {
        r["path"]: r["group_no"] for r in plan.collect()
    }
    with tempfile.TemporaryDirectory() as td:
        out = td + "/packed"
        execute_compaction(li, "slice", plan, out)
        written = {
            r["grp"]: r["n"]
            for r in spark.read.parquet(out)
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        files_per_group = {
            int(d.split("=", 1)[1]): len(
                [f for f in os.listdir(os.path.join(out, d))
                 if f.endswith(".parquet")]
            )
            for d in os.listdir(out)
            if d.startswith("grp=")
        }
    sizes = {r["path"]: r["size"] for r in entries.collect()}
    rows = []
    for g in sorted(set(planned.values())):
        members = [p for p, gg in planned.items() if gg == g]
        rows.append(
            (
                int(g),
                len(members),
                int(sum(sizes[p] for p in members)),
                int(written.get(g, 0)),
                int(files_per_group.get(g, 0)),
            )
        )
    return spark.createDataFrame(
        rows,
        "group_no bigint, n_members bigint, n_rows bigint,"
        " rows_written bigint, n_files bigint",
    )
