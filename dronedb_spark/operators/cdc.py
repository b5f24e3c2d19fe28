"""CDC snapshot compaction — latest-row-wins change-log fold (beyond
the reference; the lakehouse MERGE/compaction shape: an upsert/delete
change log replays into the current snapshot, and the compaction job
needs the live set, the tombstones, and exact last-writer attribution
without ever sorting the log globally).

The winner per key is the maximum (event_time, event_id) change —
expressed as ONE packed-MAX aggregate (the ``vectors/ivf.py`` argmin
discipline, inverted): zero-padded '<t_us><event_id>' strings MAX to
the last writer, so the whole fold is one shuffle on the key and
map-side combinable — never a row_number window over the log, which
would sort every partition.

The fixture change log derives from events: every event upserts its
user-bucket key except ``error`` events, which delete it — so a key's
liveness is decided by its LAST event's type, exactly the
replay-order-sensitive semantics the packed MAX must get right.

Scale shape: one map-side-combined aggregate to the key grain, one
keys-sized rollup.  At 100 TB the key grain is the snapshot
partitioning and daily logs fold into it incrementally (the packed MAX
is associative — yesterday's winner string merges with today's).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

N_KEYS = 100


def cdc_snapshot(changes: DataFrame) -> DataFrame:
    """(key, op, last_t_us, last_event_id): the latest change per key —
    the compacted snapshot row (op 'D' rows are tombstones).  Input
    columns: key, op ('U'/'D'), t_us, event_id."""
    packed = changes.select(
        "key",
        F.concat(
            F.lpad(F.col("t_us").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
            F.col("op"),
        ).alias("pk"),
    )
    win = packed.groupBy("key").agg(F.max("pk").alias("wk"))
    return win.select(
        "key",
        F.substring("wk", 33, 1).alias("op"),
        F.expr("CAST(substring(wk, 1, 20) AS BIGINT)").alias("last_t_us"),
        F.expr("CAST(substring(wk, 21, 12) AS BIGINT)").alias("last_event_id"),
    )


def cdc_compaction_rollup(events: DataFrame, n_keys: int = N_KEYS) -> DataFrame:
    """(op, n_keys, key_sum, last_id_sum): the compaction accounting —
    how many keys are live ('U') vs tombstoned ('D'), with key and
    last-writer sums pinning exact membership and attribution."""
    changes = events.select(
        (F.col("user_id") % n_keys).cast("bigint").alias("key"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.expr("unix_micros(ts)").alias("t_us"),
        "event_id",
    )
    snap = cdc_snapshot(changes)
    return snap.groupBy("op").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("key").cast("bigint").alias("key_sum"),
        F.sum("last_event_id").cast("bigint").alias("last_id_sum"),
    )


@check(
    "cdc_snapshot_compact",
    small=True,
    oracle=f"""
        WITH changes AS (
            SELECT CAST(user_id % {N_KEYS} AS BIGINT) AS key,
                   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                   CAST(epoch_us(ts) AS BIGINT) AS t_us,
                   event_id
            FROM events),
        packed AS (
            SELECT key,
                   lpad(CAST(t_us AS VARCHAR), 20, '0')
                   || lpad(CAST(event_id AS VARCHAR), 12, '0')
                   || op AS pk
            FROM changes),
        snap AS (
            SELECT key, MAX(pk) AS wk FROM packed GROUP BY key)
        SELECT substr(wk, 33, 1) AS op,
               CAST(COUNT(1) AS BIGINT) AS n_keys,
               CAST(SUM(key) AS BIGINT) AS key_sum,
               CAST(SUM(CAST(substr(wk, 21, 12) AS BIGINT)) AS BIGINT)
                   AS last_id_sum
        FROM snap GROUP BY 1 ORDER BY 1""",
)
def q_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events change log (errors delete their user bucket,
    everything else upserts) into the compacted snapshot: live vs
    tombstoned key accounting with last-writer attribution, the
    replay-order semantics re-derived by the oracle."""
    return cdc_compaction_rollup(load(spark, sf_dir, "events")).orderBy("op")
