"""Streaming top-k leaderboard — the live "most active entities"
dashboard as a CONTINUOUS operator: per trigger the per-key count state
updates with the batch's arrivals (BUILT-IN update-mode
``groupBy(key).count()`` — pure JVM, map-side partial sum) and the
consumer ranks the updated keys.  State is bounded by the KEY DOMAIN
(the entity set — users here), not the stream length; for streams whose
key domain is itself unbounded (raw tokens, URLs) the bounded-memory
answer is the Misra-Gries pass of ``text/heavyhitters.py``, which this
operator deliberately does not replace.

The driver-checked batch twin (``stream_topk_counts_twin``) is the
per-trigger TRAJECTORY on daily triggers: for each day, the top-k keys
by CUMULATIVE count through that day (ties by key — deterministic
leaderboard), re-derived per day prefix by the DuckDB oracle.  The
stream==batch pytest pins the update-mode state against the batch
counts across arbitrary microbatch splits (the ``streaming/hll.py``
harness discipline).

Scale shape: one map-side-combined (day, key) aggregate collapses the
stream; the prefix merge and rank windows run on the (days × keys)
count history — never a second pass over the events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

_DAY_US = 86_400_000_000
TOP_K = 5


def stream_user_counts(events_stream: DataFrame) -> DataFrame:
    """(user_id, n_events) as a streaming aggregation — update output
    emits the keys each trigger changed; ranking is the consumer's
    cheap final step over the updated state."""
    return events_stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def topk_trajectory(events: DataFrame, k: int = TOP_K) -> DataFrame:
    """(day, rank, user_id, n_events): the daily-trigger leaderboard —
    per day the top-k users by cumulative event count, ties by
    user_id.  One aggregate to the (day, user) grain, a prefix merge
    over the (days × users)-row count history, then a per-day rank
    window on that history — the events are read once."""
    ev = events.select(
        "user_id", F.expr(f"unix_micros(ts) DIV {_DAY_US}").alias("day")
    )
    day_counts = ev.groupBy("day", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    days = day_counts.select(F.col("day").alias("d")).distinct()
    # forward-fill by interval, not prefix-explosion: each user's running
    # count is valid from its day until their next active day, so joining
    # [day, next_day) against the day spine emits every (user, day) pair
    # exactly ONCE — the rank window's exact input — instead of the
    # triangular (all prior days re-summed per day) blow-up, and the
    # second aggregate disappears.
    wu = Window.partitionBy("user_id").orderBy("day")
    cum_user = day_counts.select(
        "user_id",
        "day",
        F.sum("n").over(wu).alias("n_events"),
        F.lead("day").over(wu).alias("next_day"),
    )
    cum = cum_user.join(
        F.broadcast(days),
        (F.col("day") <= F.col("d"))
        & (F.col("d") < F.coalesce(F.col("next_day"), F.lit(1 << 62))),
    ).select(F.col("d").alias("day_out"), "user_id", "n_events")
    w = Window.partitionBy("day_out").orderBy(
        F.desc("n_events"), "user_id"
    )
    return (
        cum.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("day_out").cast("bigint").alias("day"),
            F.col("rank").cast("bigint").alias("rank"),
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )


@check(
    "stream_topk_counts_twin",
    small=True,
    oracle=f"""
        WITH ev AS (
            SELECT user_id,
                   CAST(epoch_us(ts) // {_DAY_US} AS BIGINT) AS day
            FROM events),
        day_counts AS (
            SELECT day, user_id, COUNT(*) AS n FROM ev GROUP BY day, user_id),
        days AS (SELECT DISTINCT day AS d FROM day_counts),
        cum AS (
            SELECT dd.d AS day, c.user_id, SUM(c.n) AS n_events
            FROM day_counts c JOIN days dd ON c.day <= dd.d
            GROUP BY dd.d, c.user_id),
        ranked AS (
            SELECT day, user_id, n_events,
                   ROW_NUMBER() OVER (PARTITION BY day
                       ORDER BY n_events DESC, user_id) AS rank
            FROM cum)
        SELECT day, CAST(rank AS BIGINT) AS rank, user_id,
               CAST(n_events AS BIGINT) AS n_events
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY day, rank""",
)
def q_stream_topk_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily leaderboard trajectory over the events stream: per day
    the cumulative top-5 users — what the update-mode count state
    ranks to after each day's trigger."""
    return topk_trajectory(load(spark, sf_dir, "events")).orderBy(
        "day", "rank"
    )
