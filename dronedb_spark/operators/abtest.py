"""A/B-test readout — per-variant conversion rates with Wilson score
confidence intervals (Wilson 1927, the interval every experimentation
platform reports because the normal approximation fails at small n or
extreme p) plus the two-proportion z statistic against control.
Beyond the reference (no experimentation surface).

Exactness discipline (the ``operators/autocorr.py`` contract): the
sufficient statistics are INTEGERS (users exposed, users converted per
variant — conversion is time-bounded: a purchase within an hour of the
user's first view);
the Wilson bounds and the z statistic evaluate one closed formula of
correctly-rounded IEEE ops (±, ×, ÷, √) over those integers, so the
doubles are bit-identical across engines with NO rounding step.

Scale shape: user-level conversion flags are one map-side-combined
groupBy(user); the variant rollup is a second tiny aggregate; the
readout is variants-sized.  The z comparison attaches control's two
integers by broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

Z = "1.959963984540054"  # 95% two-sided normal quantile, exact literal
N_VARIANTS = 10


def _wilson(bound: str) -> str:
    """SQL for the Wilson {lower|upper} bound over integer columns
    (n, k), clamped to [0, 1] (the raw formula leaves a -eps at k = 0
    and a 1+eps at k = n) — identical text both dialects."""
    sign = "-" if bound == "lower" else "+"
    clamp_open = "GREATEST(0.0, " if bound == "lower" else "LEAST(1.0, "
    z2 = f"({Z} * {Z})"
    return clamp_open + (
        f"(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)"
        f" + {z2} / (2.0 * CAST(n AS DOUBLE))"
        f" {sign} {Z} * sqrt("
        f"   (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
        f"   * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)"
        f"   + {z2} / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))"
        f" / (1.0 + {z2} / CAST(n AS DOUBLE))"
    ) + ")"


CONVERT_WINDOW_S = 3600  # purchase within 1 h of the FIRST view converts


def variant_conversions(events: DataFrame, n_variants: int = N_VARIANTS) -> DataFrame:
    """(variant, n, k): per variant (user_id % n_variants), users who
    viewed (n) and users with a purchase within ``CONVERT_WINDOW_S`` of
    their FIRST view (k) — a time-bounded conversion, selective on any
    event density (a lifetime any-purchase flag saturates to p = 1 on
    an active-user fixture and degenerates the statistics)."""
    first_view = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.expr("unix_micros(ts)")).alias("fv_us"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.expr("unix_micros(ts)").alias("p_us")
    )
    flags = (
        first_view.join(purchases, "user_id", "left")
        .groupBy("user_id")
        .agg(
            F.max(
                (
                    F.col("p_us").isNotNull()
                    & (F.col("p_us") >= F.col("fv_us"))
                    & (F.col("p_us") <= F.col("fv_us") + CONVERT_WINDOW_S * 1_000_000)
                ).cast("int")
            ).alias("converted")
        )
    )
    return (
        flags.groupBy((F.col("user_id") % n_variants).alias("variant"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("converted").cast("bigint").alias("k"),
        )
    )


def ab_readout(conv: DataFrame, control: int = 0) -> DataFrame:
    """(variant, n, k, wilson_lo, wilson_hi, z_vs_control): the
    experiment table — bounds per variant, pooled two-proportion z
    against the control variant (0.0 for control itself)."""
    ctrl = conv.filter(F.col("variant") == control).select(
        F.col("n").alias("cn"), F.col("k").alias("ck")
    )
    joined = conv.join(F.broadcast(ctrl))
    z_expr = (
        "CASE WHEN variant = {c} OR k + ck = 0 OR k + ck = n + cn"
        " THEN 0.0 ELSE "
        "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)"
        " - CAST(ck AS DOUBLE) / CAST(cn AS DOUBLE))"
        " / sqrt("
        "   (CAST(k + ck AS DOUBLE) / CAST(n + cn AS DOUBLE))"
        "   * (1.0 - CAST(k + ck AS DOUBLE) / CAST(n + cn AS DOUBLE))"
        "   * (1.0 / CAST(n AS DOUBLE) + 1.0 / CAST(cn AS DOUBLE)))"
        " END"
    ).format(c=control)
    return joined.select(
        F.col("variant").cast("bigint").alias("variant"),
        "n",
        "k",
        F.expr(_wilson("lower")).alias("wilson_lo"),
        F.expr(_wilson("upper")).alias("wilson_hi"),
        F.expr(z_expr).alias("z_vs_control"),
    )


@check(
    "ab_wilson_readout",
    oracle=f"""
        WITH first_view AS (
            SELECT user_id, MIN(epoch_us(ts)) AS fv_us
            FROM events WHERE event_type = 'view' GROUP BY user_id),
        flags AS (
            SELECT f.user_id,
                   MAX(CASE WHEN p.p_us IS NOT NULL
                             AND p.p_us >= f.fv_us
                             AND p.p_us <= f.fv_us
                                 + {CONVERT_WINDOW_S * 1_000_000}
                            THEN 1 ELSE 0 END) AS converted
            FROM first_view f
            LEFT JOIN (SELECT user_id, epoch_us(ts) AS p_us
                       FROM events WHERE event_type = 'purchase') p
              ON p.user_id = f.user_id
            GROUP BY f.user_id),
        conv AS (
            SELECT user_id % {N_VARIANTS} AS variant,
                   CAST(COUNT(1) AS BIGINT) AS n,
                   CAST(SUM(converted) AS BIGINT) AS k
            FROM flags GROUP BY 1),
        ctrl AS (SELECT n AS cn, k AS ck FROM conv WHERE variant = 0)
        SELECT CAST(variant AS BIGINT) AS variant, n, k,
               {_wilson("lower")} AS wilson_lo,
               {_wilson("upper")} AS wilson_hi,
               CASE WHEN variant = 0 OR k + ck = 0 OR k + ck = n + cn
                    THEN 0.0 ELSE
                   (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                    - CAST(ck AS DOUBLE) / CAST(cn AS DOUBLE))
                   / sqrt(
                       (CAST(k + ck AS DOUBLE) / CAST(n + cn AS DOUBLE))
                       * (1.0 - CAST(k + ck AS DOUBLE)
                                / CAST(n + cn AS DOUBLE))
                       * (1.0 / CAST(n AS DOUBLE) + 1.0 / CAST(cn AS DOUBLE)))
               END AS z_vs_control
        FROM conv, ctrl ORDER BY variant""",
)
def q_ab_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten deterministic variants (user_id % 10): user-level view→
    purchase conversion, 95% Wilson bounds, pooled z vs variant 0 —
    bit-identical unrounded doubles from integer sufficient stats."""
    ev = load(spark, sf_dir, "events")
    return ab_readout(variant_conversions(ev)).orderBy("variant")


# ------------------------------------------------------------------ CUPED


T0 = "2024-02-01"  # pre/post split instant (fixture events start 2024-01-01)


def cuped_user_metrics(events: DataFrame) -> DataFrame:
    """(user_id, x, y): the pre-period covariate X = total event value
    before T0, the experiment metric Y = purchase value from T0 on —
    exact DECIMAL(18,2) sums per user, zero-filled so every exposed
    user is in the panel."""
    pre = (
        events.filter(F.col("ts") < F.lit(T0).cast("timestamp"))
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("x"))
    )
    post = (
        events.filter(
            (F.col("ts") >= F.lit(T0).cast("timestamp"))
            & (F.col("event_type") == "purchase")
        )
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("y"))
    )
    users = events.select("user_id").distinct()
    return users.join(pre, "user_id", "left").join(post, "user_id", "left").select(
        "user_id",
        F.coalesce("x", F.lit(0).cast("decimal(18,2)")).alias("x"),
        F.coalesce("y", F.lit(0).cast("decimal(18,2)")).alias("y"),
    )


def cuped_readout(events: DataFrame, n_variants: int = N_VARIANTS) -> DataFrame:
    """(variant, n, mean_y, mean_y_adj): CUPED-adjusted variant means
    (Deng, Xu, Kohavi & Walker, WSDM 2013) — θ = Cov(X,Y)/Var(X) fit on
    the FULL panel (pre-period data is assignment-independent, so one
    global θ is the published recipe), then per-variant means of
    Y − θ·(X − X̄).  Sufficient statistics are exact decimal sums of
    exact per-user decimals; θ and the means are IEEE combines of those
    casts, rounded 6 dp."""
    panel = cuped_user_metrics(events)
    stats = panel.agg(
        F.count(F.lit(1)).cast("double").alias("n_all"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    ).select(
        ((F.col("n_all") * F.col("sxy") - F.col("sx") * F.col("sy"))
         / (F.col("n_all") * F.col("sxx") - F.col("sx") * F.col("sx"))).alias("theta"),
        (F.col("sx") / F.col("n_all")).alias("x_bar"),
    )
    adj = panel.crossJoin(F.broadcast(stats))
    return (
        adj.groupBy((F.col("user_id") % n_variants).cast("bigint").alias("variant"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.sum("y").cast("double") / F.count(F.lit(1))).alias("mean_y"),
            # the adjusted terms are doubles, so the cross-row sum
            # accumulates as DECIMAL(38,15) — partition-order-free
            F.sum(
                (
                    F.col("y").cast("double")
                    - F.col("theta") * (F.col("x").cast("double") - F.col("x_bar"))
                ).cast("decimal(38,15)")
            )
            .cast("double")
            .alias("sum_adj"),
        )
        .select(
            "variant",
            "n",
            F.round("mean_y", 6).alias("mean_y"),
            F.round(F.col("sum_adj") / F.col("n"), 6).alias("mean_y_adj"),
        )
    )


_CUPED_ORACLE = f"""
    WITH pre AS (
        SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS x
        FROM events WHERE ts < TIMESTAMP '{T0}' GROUP BY user_id),
    post AS (
        SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS y
        FROM events WHERE ts >= TIMESTAMP '{T0}' AND event_type = 'purchase'
        GROUP BY user_id),
    panel AS (
        SELECT u.user_id,
               COALESCE(p.x, CAST(0 AS DECIMAL(18,2))) AS x,
               COALESCE(q.y, CAST(0 AS DECIMAL(18,2))) AS y
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN pre p ON p.user_id = u.user_id
        LEFT JOIN post q ON q.user_id = u.user_id),
    st AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_all,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx
        FROM panel),
    th AS (
        SELECT (n_all * sxy - sx * sy) / (n_all * sxx - sx * sx) AS theta,
               sx / n_all AS x_bar
        FROM st)
    SELECT CAST(p.user_id % {N_VARIANTS} AS BIGINT) AS variant,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(p.y) AS DOUBLE) / COUNT(*), 6) AS mean_y,
           ROUND(CAST(SUM(CAST(CAST(p.y AS DOUBLE)
                     - th.theta * (CAST(p.x AS DOUBLE) - th.x_bar)
                     AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*), 6) AS mean_y_adj
    FROM panel p, th
    GROUP BY 1, th.theta, th.x_bar ORDER BY variant"""


@check("cuped_readout", small=True, oracle=_CUPED_ORACLE)
def q_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced variant means next to the Wilson readout:
    pre-2024-02-01 activity is the covariate, post-period purchase value
    the metric, one global θ, per-variant adjusted means."""
    return cuped_readout(load(spark, sf_dir, "events")).orderBy("variant")
