"""Multi-touch conversion attribution — the events-family readout that
credits acquisition channels for conversions (the standard marketing-
analytics models: first-touch, last-touch, linear; see e.g. Shapley-
style position models in the attribution literature).

Journey semantics: a conversion is a ``purchase`` event; its journey is
every touch event (``view``/``click``/``signup``) by the same user
STRICTLY BEFORE the purchase and after the user's previous purchase —
the journey-reset convention, window-free and exact.  Each touch is
assigned to its NEXT purchase with one user-partitioned window pass
(reverse-ordered running MIN over purchase markers — the same shape as
the sessionizer); no self-join of events against events.

Credits are exact integers: first/last are argmin/argmax over the
(ts, event_id) unique order; linear credit is per-journey
``n_channel_touches · 10⁶ DIV n_journey_touches`` micro-units summed
per channel.

Scale shape: one shuffle on user_id, windows inside the user partition,
then channel-grain aggregates — identical cost class to gap
sessionization; output is |channels| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

TOUCH_TYPES = ("view", "click", "signup")
CONV_TYPE = "purchase"


def assign_journeys(events: DataFrame) -> DataFrame:
    """(user_id, conv_id, event_id, ts, event_type): every touch tagged
    with the event_id of the next purchase by the same user (touches
    after a user's last purchase drop — they belong to no conversion)."""
    ev = events.filter(
        F.col("event_type").isin(*TOUCH_TYPES, CONV_TYPE)
    ).select("user_id", "event_id", "ts", "event_type")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    conv_marker = F.when(
        F.col("event_type") == CONV_TYPE, F.struct("ts", "event_id")
    )
    tagged = ev.withColumn("nxt", F.min(conv_marker).over(w))
    return (
        tagged.filter(
            (F.col("event_type") != CONV_TYPE) & F.col("nxt").isNotNull()
            # strictly before the purchase (the marker at the purchase row
            # itself only tags the purchase, which the filter drops)
        )
        .select(
            "user_id",
            F.col("nxt.event_id").alias("conv_id"),
            "event_id",
            "ts",
            "event_type",
        )
    )


def attribution_report(events: DataFrame) -> DataFrame:
    """(channel, n_journeys, first_touch, last_touch, linear_micro):
    per-channel credit under the three standard models."""
    from dronedb_spark.tables import barrier_persist

    # r13 optimization: touches feeds the linear rollup AND the
    # first/last ends — materialize the journey window once; the
    # per-journey total becomes a window over the aggregate (no
    # journey_tot join); first/last melt into ONE pass over ends
    # (explode to (is_first, channel) rows) instead of two aggregates;
    # the channel-grain attach is a broadcast.
    touches = barrier_persist(assign_journeys(events))
    per_journey = touches.groupBy("conv_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_ch")
    )
    linear = (
        per_journey.withColumn(
            "n_tot", F.sum("n_ch").over(Window.partitionBy("conv_id"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_journeys"),
            F.sum(F.expr("CAST(n_ch * 1000000 DIV n_tot AS BIGINT)"))
            .cast("bigint")
            .alias("linear_micro"),
        )
    )
    ends = touches.groupBy("conv_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))
        .getField("event_type")
        .alias("first_ch"),
        F.max(F.struct("ts", "event_id", "event_type"))
        .getField("event_type")
        .alias("last_ch"),
    )
    fl = (
        ends.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).alias("isf"),
                        F.col("first_ch").alias("event_type"),
                    ),
                    F.struct(
                        F.lit(0).alias("isf"),
                        F.col("last_ch").alias("event_type"),
                    ),
                )
            ).alias("e")
        )
        .groupBy(F.col("e.event_type").alias("event_type"))
        .agg(
            F.sum("e.isf").cast("bigint").alias("first_touch"),
            F.sum(1 - F.col("e.isf")).cast("bigint").alias("last_touch"),
        )
    )
    return (
        linear.join(F.broadcast(fl), "event_type", "left")
        .select(
            F.col("event_type").alias("channel"),
            "n_journeys",
            F.coalesce("first_touch", F.lit(0)).cast("bigint").alias(
                "first_touch"
            ),
            F.coalesce("last_touch", F.lit(0)).cast("bigint").alias(
                "last_touch"
            ),
            "linear_micro",
        )
    )


@check(
    "attribution_report",
    small=True,
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id, ts, event_type FROM events
            WHERE event_type IN ('view', 'click', 'signup', 'purchase')),
        tagged AS (
            SELECT *,
                   MIN(CASE WHEN event_type = 'purchase'
                            THEN ROW(ts, event_id) END)
                       OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS nxt
            FROM ev),
        touches AS (
            SELECT user_id, nxt[2] AS conv_id, event_id, ts, event_type
            FROM tagged
            WHERE event_type <> 'purchase' AND nxt IS NOT NULL),
        per_journey AS (
            SELECT conv_id, event_type, COUNT(*) AS n_ch
            FROM touches GROUP BY conv_id, event_type),
        journey_tot AS (
            SELECT conv_id, SUM(n_ch) AS n_tot FROM per_journey
            GROUP BY conv_id),
        ends AS (
            SELECT conv_id,
                   MIN(ROW(ts, event_id, event_type))[3] AS first_ch,
                   MAX(ROW(ts, event_id, event_type))[3] AS last_ch
            FROM touches GROUP BY conv_id),
        linear AS (
            SELECT p.event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_journeys,
                   CAST(SUM(CAST(p.n_ch * 1000000 // t.n_tot AS BIGINT))
                        AS BIGINT) AS linear_micro
            FROM per_journey p JOIN journey_tot t USING (conv_id)
            GROUP BY p.event_type)
        SELECT l.event_type AS channel,
               l.n_journeys,
               CAST(COALESCE(f.first_touch, 0) AS BIGINT) AS first_touch,
               CAST(COALESCE(x.last_touch, 0) AS BIGINT) AS last_touch,
               l.linear_micro
        FROM linear l
        LEFT JOIN (SELECT first_ch, COUNT(*) AS first_touch FROM ends
                   GROUP BY first_ch) f ON f.first_ch = l.event_type
        LEFT JOIN (SELECT last_ch, COUNT(*) AS last_touch FROM ends
                   GROUP BY last_ch) x ON x.last_ch = l.event_type
        ORDER BY channel""",
)
def q_attribution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/linear-touch attribution of purchase conversions to
    the view/click/signup channels under journey-reset semantics."""
    return attribution_report(load(spark, sf_dir, "events")).orderBy("channel")


# ------------------------------------------------- 10x load twin --------

_AT10_COPIES = 10
_AT10_USTRIDE = 1_000_000_000
_AT10_ESTRIDE = 1_000_000_000


def inflated_events(events: DataFrame, copies: int = _AT10_COPIES) -> DataFrame:
    """The event log replicated ``copies`` times with strided user and
    event ids (timestamps unchanged): copies never interact — journeys
    are user-scoped — so the user-partitioned window must scale
    LINEARLY in event mass, and every per-copy rollup must reproduce
    the 1x report exactly."""
    ks = F.broadcast(
        events.sparkSession.range(copies).select(F.col("id").alias("k"))
    )
    return events.crossJoin(ks).select(
        (F.col("event_id") + F.col("k") * _AT10_ESTRIDE).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("k") * _AT10_USTRIDE).alias("user_id"),
        "event_type",
    )


@check(
    "attribution_report_10x",
    small=True,
    oracle=f"""
        WITH ev AS (
            SELECT user_id, event_id, ts, event_type FROM events
            WHERE event_type IN ('view', 'click', 'signup', 'purchase')),
        tagged AS (
            SELECT *,
                   MIN(CASE WHEN event_type = 'purchase'
                            THEN ROW(ts, event_id) END)
                       OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS nxt
            FROM ev),
        touches AS (
            SELECT user_id, nxt[2] AS conv_id, event_id, ts, event_type
            FROM tagged
            WHERE event_type <> 'purchase' AND nxt IS NOT NULL),
        per_journey AS (
            SELECT conv_id, event_type, COUNT(*) AS n_ch
            FROM touches GROUP BY conv_id, event_type),
        journey_tot AS (
            SELECT conv_id, SUM(n_ch) AS n_tot FROM per_journey
            GROUP BY conv_id),
        ends AS (
            SELECT conv_id,
                   MIN(ROW(ts, event_id, event_type))[3] AS first_ch,
                   MAX(ROW(ts, event_id, event_type))[3] AS last_ch
            FROM touches GROUP BY conv_id),
        one AS (
            SELECT l.event_type AS channel,
                   CAST(l.n_journeys AS BIGINT) AS n_journeys,
                   CAST(COALESCE(f.first_touch, 0) AS BIGINT) AS first_touch,
                   CAST(COALESCE(x.last_touch, 0) AS BIGINT) AS last_touch,
                   l.linear_micro
            FROM (SELECT p.event_type, COUNT(*) AS n_journeys,
                         CAST(SUM(CAST(p.n_ch * 1000000 // t.n_tot AS BIGINT))
                              AS BIGINT) AS linear_micro
                  FROM per_journey p JOIN journey_tot t USING (conv_id)
                  GROUP BY p.event_type) l
            LEFT JOIN (SELECT first_ch, COUNT(*) AS first_touch FROM ends
                       GROUP BY first_ch) f ON f.first_ch = l.event_type
            LEFT JOIN (SELECT last_ch, COUNT(*) AS last_touch FROM ends
                       GROUP BY last_ch) x ON x.last_ch = l.event_type)
        SELECT CAST(k.k AS BIGINT) AS copy, o.channel, o.n_journeys,
               o.first_touch, o.last_touch, o.linear_micro
        FROM one o, (SELECT unnest(range(0, {_AT10_COPIES})) AS k) k
        ORDER BY copy, channel""",
)
def q_attribution_report_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution at 10x event mass: every replica's journeys run
    through the real user-partitioned window; per-copy channel rollups
    must reproduce the 1x report exactly (the oracle derives them
    analytically — copies are id-shifted and journeys are user-scoped)."""
    from dronedb_spark.tables import barrier_persist

    big = inflated_events(load(spark, sf_dir, "events"))
    # same r13 shape as the 1x report: one materialized journey window,
    # per-journey totals as a window, melted first/last single pass
    touches = barrier_persist(
        assign_journeys(big).withColumn(
            "copy", F.expr(f"user_id DIV {_AT10_USTRIDE}").cast("bigint")
        )
    )
    per_journey = touches.groupBy("copy", "conv_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_ch")
    )
    linear = (
        per_journey.withColumn(
            "n_tot",
            F.sum("n_ch").over(Window.partitionBy("copy", "conv_id")),
        )
        .groupBy("copy", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_journeys"),
            F.sum(F.expr("CAST(n_ch * 1000000 DIV n_tot AS BIGINT)"))
            .cast("bigint")
            .alias("linear_micro"),
        )
    )
    ends = touches.groupBy("copy", "conv_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))
        .getField("event_type")
        .alias("first_ch"),
        F.max(F.struct("ts", "event_id", "event_type"))
        .getField("event_type")
        .alias("last_ch"),
    )
    fl = (
        ends.select(
            "copy",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).alias("isf"),
                        F.col("first_ch").alias("event_type"),
                    ),
                    F.struct(
                        F.lit(0).alias("isf"),
                        F.col("last_ch").alias("event_type"),
                    ),
                )
            ).alias("e"),
        )
        .groupBy("copy", F.col("e.event_type").alias("event_type"))
        .agg(
            F.sum("e.isf").cast("bigint").alias("first_touch"),
            F.sum(1 - F.col("e.isf")).cast("bigint").alias("last_touch"),
        )
    )
    return (
        linear.join(F.broadcast(fl), ["copy", "event_type"], "left")
        .select(
            "copy",
            F.col("event_type").alias("channel"),
            "n_journeys",
            F.coalesce("first_touch", F.lit(0)).cast("bigint").alias("first_touch"),
            F.coalesce("last_touch", F.lit(0)).cast("bigint").alias("last_touch"),
            "linear_micro",
        )
        .orderBy("copy", "channel")
    )
