"""SCD2 validity intervals — build a slowly-changing-dimension history
(Kimball type 2: one row per key per state EPISODE with
``valid_from``/``valid_to``) from an event stream, the warehouse shape
every feature store and audit table needs ("what was this user's tier
when the order happened" — the as-of join's dimension side,
``operators/asof.py``).  Beyond the reference (no relational
modeling surface).

Semantics: consecutive events with the SAME state collapse into one
episode (gaps-and-islands); ``valid_from`` is the episode's first
event time, ``valid_to`` the next episode's start (half-open
[from, to)), −1 while current.  Ties at equal timestamps order by
event_id — fully deterministic.

Exactness discipline: times are integer microseconds; the island id is
the classic lag-compare prefix sum (integers); no float exists in the
operator.

Scale shape: ONE hash exchange on the key feeds every window (lag →
island id → episode aggregate → lead) — Catalyst reuses the same sort
order for all four, so the whole build is one shuffle + one per-key
sort, the minimum any history build can do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load


def scd2_intervals(
    events: DataFrame, key: str, state: Column
) -> DataFrame:
    """(key, state, valid_from_us, valid_to_us, n_events, is_current):
    the collapsed episode history per key."""
    base = events.select(
        F.col(key).alias("k"),
        F.expr("unix_micros(ts)").alias("t_us"),
        "event_id",
        state.alias("state"),
    )
    w = Window.partitionBy("k").orderBy("t_us", "event_id")
    flagged = base.select(
        "k",
        "t_us",
        "event_id",
        "state",
        F.when(
            F.lag("state").over(w).isNull()
            | (F.lag("state").over(w) != F.col("state")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("chg"),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    eps = islands.groupBy("k", "island").agg(
        F.min("state").alias("state"),  # constant within an island
        F.min("t_us").cast("bigint").alias("valid_from_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    w_ep = Window.partitionBy("k").orderBy("island")
    return eps.select(
        F.col("k").alias(key),
        "state",
        "valid_from_us",
        F.coalesce(F.lead("valid_from_us").over(w_ep), F.lit(-1))
        .cast("bigint")
        .alias("valid_to_us"),
        "n_events",
        F.lead("valid_from_us").over(w_ep).isNull()
        .cast("bigint")
        .alias("is_current"),
    )


_TIER = (
    "CASE WHEN value < 100 THEN 'low'"
    " WHEN value < 300 THEN 'mid' ELSE 'high' END"
)


@check(
    "scd2_state_intervals",
    oracle=f"""
        WITH base AS (
            SELECT user_id AS k, epoch_us(ts) AS t_us, event_id,
                   {_TIER} AS state
            FROM events),
        flagged AS (
            SELECT k, t_us, event_id, state,
                   CASE WHEN lag(state) OVER w IS NULL
                          OR lag(state) OVER w <> state
                        THEN 1 ELSE 0 END AS chg
            FROM base
            WINDOW w AS (PARTITION BY k ORDER BY t_us, event_id)),
        islands AS (
            SELECT k, t_us, state,
                   SUM(chg) OVER (PARTITION BY k ORDER BY t_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM flagged),
        eps AS (
            SELECT k, island, MIN(state) AS state,
                   CAST(MIN(t_us) AS BIGINT) AS valid_from_us,
                   CAST(COUNT(1) AS BIGINT) AS n_events
            FROM islands GROUP BY 1, 2),
        seq AS (
            SELECT k AS user_id, state, valid_from_us,
                   CAST(COALESCE(lead(valid_from_us) OVER we, -1) AS BIGINT)
                       AS valid_to_us,
                   n_events,
                   CAST(CASE WHEN lead(valid_from_us) OVER we IS NULL
                             THEN 1 ELSE 0 END AS BIGINT) AS is_current
            FROM eps
            WINDOW we AS (PARTITION BY k ORDER BY island))
        SELECT * FROM seq ORDER BY user_id, valid_from_us""",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value-tier episode history over the events month:
    consecutive same-tier events collapse, half-open validity ranges
    chain exactly (each valid_to = the next valid_from), the last
    episode per user is current."""
    ev = load(spark, sf_dir, "events")
    return scd2_intervals(ev, "user_id", F.expr(_TIER)).orderBy(
        "user_id", "valid_from_us"
    )


def scd2_asof_enrichment(events: DataFrame, state: Column) -> DataFrame:
    """(state, n_purchases, n_users, event_id_sum): purchases enriched
    with the tier VALID AT their time — the composed warehouse query
    the SCD2 history exists for ("what was the user's tier when the
    order happened"): build the episode table, as-of join the fact rows
    to it (``operators/asof.py`` union-merge — one shuffle shared with
    the history's own key partitioning), roll up by tier.
    event_id_sum pins WHICH purchases landed in each tier, not just how
    many."""
    from dronedb_spark.operators.asof import asof_join

    eps = scd2_intervals(events, "user_id", state).select(
        "user_id", "valid_from_us", "state"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr("unix_micros(ts)").alias("t_us"),
        "event_id",
    )
    enriched = asof_join(
        purchases, eps, "user_id", "t_us", "valid_from_us", ["state"]
    )
    return enriched.groupBy("state").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum("event_id").cast("bigint").alias("event_id_sum"),
    )


@check(
    "scd2_asof_enrichment",
    small=True,
    oracle=f"""
        WITH base AS (
            SELECT user_id AS k, epoch_us(ts) AS t_us, event_id,
                   {_TIER} AS state
            FROM events),
        flagged AS (
            SELECT k, t_us, event_id, state,
                   CASE WHEN lag(state) OVER w IS NULL
                          OR lag(state) OVER w <> state
                        THEN 1 ELSE 0 END AS chg
            FROM base
            WINDOW w AS (PARTITION BY k ORDER BY t_us, event_id)),
        islands AS (
            SELECT k, t_us, state,
                   SUM(chg) OVER (PARTITION BY k ORDER BY t_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM flagged),
        eps AS (
            SELECT k AS user_id, MIN(state) AS state,
                   CAST(MIN(t_us) AS BIGINT) AS valid_from_us
            FROM islands GROUP BY k, island),
        purchases AS (
            SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t_us, event_id
            FROM events WHERE event_type = 'purchase')
        SELECT e.state,
               CAST(COUNT(1) AS BIGINT) AS n_purchases,
               CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users,
               CAST(SUM(p.event_id) AS BIGINT) AS event_id_sum
        FROM purchases p
        ASOF JOIN eps e
          ON p.user_id = e.user_id AND p.t_us >= e.valid_from_us
        GROUP BY e.state ORDER BY e.state""",
)
def q_scd2_asof_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 history consumed by its as-of join: every purchase gets
    the tier whose episode contains it (DuckDB's native ASOF JOIN is
    the independent oracle), rolled up per tier."""
    ev = load(spark, sf_dir, "events")
    return scd2_asof_enrichment(ev, F.expr(_TIER)).orderBy("state")
