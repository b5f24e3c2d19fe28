"""Generic relational coverage over the driver's star schema — joins,
partial+final aggregation, windows, top-k, paging (FIXTURES.md §7).

These are also the bench headline queries (bench.py).  Design notes for
scale: monetary aggregates are summed as DECIMAL(38,4) so results are
exactly reproducible regardless of partitioning/accumulation order (double
summation is order-dependent; decimal is not), then surfaced as rounded
doubles.  Joins follow the TPC-H shape: small dims (region/nation/
supplier) broadcast; fact-fact joins shuffle on their keys with AQE skew
handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dronedb_spark.suite import check
from dronedb_spark.tables import load


def _dec(col: str | F.Column) -> F.Column:
    """Cast a raw 2-dp monetary/measure column to decimal.

    Inputs are cast (boundary-free: the stored doubles are within 1 ulp of
    2-dp decimals, far from any 4-dp rounding boundary) and ALL arithmetic
    then happens exactly in decimal — never cast a computed double product
    to decimal, because rounding a true scale-6 product at scale 4 lands
    exactly on .xxxx5 ties, which Spark and other engines break
    differently.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(14,2)")


def _one_minus(col: str) -> F.Column:
    return F.lit(1).cast("decimal(6,4)") - F.col(col).cast("decimal(6,4)")


def _one_plus(col: str) -> F.Column:
    return F.lit(1).cast("decimal(6,4)") + F.col(col).cast("decimal(6,4)")


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1 shape (map-side partial agg; one shuffle on the 6-ish
    group keys)."""
    disc_price = _dec("l_extendedprice") * _one_minus("l_discount")
    charge = _dec("l_extendedprice") * _one_minus("l_discount") * _one_plus("l_tax")
    g = (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).alias("_sq"),
            F.sum(_dec("l_extendedprice")).alias("_sbp"),
            F.sum(disc_price).alias("_sdp"),
            F.sum(charge).alias("_sc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    # NB: no ROUND after the decimal sums — Spark rounds a double via its
    # shortest decimal representation while DuckDB rounds the exact binary
    # value, so ROUND(CAST(decimal AS double)) diverges at .xx5 boundaries.
    # CAST(exact-decimal AS double) alone is bitwise-identical everywhere.
    # ROUND(decimal, 2) before the double cast: rounding is deterministic
    # (half-up on EXACT decimals in both engines), and the rounded value's
    # scaled integer fits in 2^53 so the decimal→double cast is exact —
    # wide-scale decimal→double casts can differ by 1 ulp between engines.
    def _d(c):
        return F.round(c, 2).cast("double")

    return g.select(
        "l_returnflag",
        "l_linestatus",
        _d(F.col("_sq")).alias("sum_qty"),
        _d(F.col("_sbp")).alias("sum_base_price"),
        _d(F.col("_sdp")).alias("sum_disc_price"),
        _d(F.col("_sc")).alias("sum_charge"),
        (_d(F.col("_sq")) / F.col("count_order")).alias("avg_qty"),
        (_d(F.col("_sbp")) / F.col("count_order")).alias("avg_price"),
        F.col("count_order"),
    ).orderBy("l_returnflag", "l_linestatus")


def top_revenue_orders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q3 shape: selective dim filters first (pushed down), then
    fact join + top-k (orderBy+limit → Spark TakeOrderedAndProject, no
    full sort)."""
    rev = _dec("l_extendedprice") * _one_minus("l_discount")
    j = (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1995-03-15"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    )
    return (
        j.groupBy("o_orderkey", "o_orderpriority")
        .agg(F.sum(rev).alias("_rev"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("_rev"), 2).cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def region_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q5 shape: dims broadcast (region 5 rows, nation 25), facts
    shuffle-join on their keys."""
    rev = _dec("l_extendedprice") * _one_minus("l_discount")
    j = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.groupBy("r_name", "n_name")
        .agg(F.sum(rev).alias("_rev"), F.count(F.lit(1)).alias("n_items"))
        .select(
            "r_name",
            "n_name",
            F.round(F.col("_rev"), 2).cast("double").alias("revenue"),
            "n_items",
        )
        .orderBy("r_name", "n_name")
    )


def parts_topk_per_brand(part: DataFrame, k: int = 3) -> DataFrame:
    """Window top-k (rank over partition) — the reference's top-k pattern
    (O6) generalized per-group."""
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("p_brand", "p_partkey", "p_name", F.round("p_retailprice", 2).alias("price"), "rk")
        .orderBy("p_brand", "rk")
    )


def events_hourly(events: DataFrame) -> DataFrame:
    """Event-time hourly aggregate — the batch form of the streaming
    windowed agg (streaming variant in dronedb_spark/streaming)."""
    hour = F.date_format("ts", "yyyy-MM-dd HH").alias("hour")
    return (
        events.groupBy(hour, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour", "event_type")
    )


def customer_acct_percentiles(customer: DataFrame) -> DataFrame:
    """Exact percentiles per market segment (sort-based exact median — the
    reference's area-stats median is exact, raster_analysis.cpp:396-417)."""
    return (
        customer.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("median_bal"),
            F.round(F.expr("percentile(c_acctbal, 0.9)"), 4).alias("p90_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------- checks


@check(
    "q1_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_base_price,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_disc_price,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_charge,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(14,2))), 2) AS DOUBLE) / COUNT(1) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) / COUNT(1) AS avg_price,
               CAST(COUNT(1) AS BIGINT) AS count_order
        FROM lineitem WHERE l_shipdate <= '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pricing_summary(load(spark, sf_dir, "lineitem"))


@check(
    "q3_top_revenue_orders",
    small=True,
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
          AND o_orderdate < '1995-03-15'
          AND o_orderkey = l_orderkey AND l_shipdate > '1995-03-15'
        GROUP BY o_orderkey, o_orderpriority
        ORDER BY revenue DESC, o_orderkey LIMIT 10""",
)
def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_revenue_orders(
        load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    )


@check(
    "q5_region_revenue",
    oracle="""
        SELECT r_name, n_name,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue,
               CAST(COUNT(1) AS BIGINT) AS n_items
        FROM lineitem, orders, customer, nation, region
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name""",
)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return region_revenue(
        load(spark, sf_dir, "region"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
    )


@check(
    "parts_topk_per_brand",
    oracle="""
        SELECT p_brand, p_partkey, p_name, ROUND(p_retailprice, 2) AS price, rk
        FROM (
            SELECT p_brand, p_partkey, p_name, p_retailprice,
                   CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
                        ORDER BY p_retailprice DESC, p_partkey ASC) AS INT) AS rk
            FROM part) t
        WHERE rk <= 3 ORDER BY p_brand, rk""",
)
def q_parts_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parts_topk_per_brand(load(spark, sf_dir, "part"))


@check(
    "events_hourly",
    oracle="""
        SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
               CAST(COUNT(1) AS BIGINT) AS n,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_value,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        GROUP BY strftime(ts, '%Y-%m-%d %H'), event_type
        ORDER BY hour, event_type""",
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_hourly(load(spark, sf_dir, "events"))


@check(
    "customer_acct_percentiles",
    oracle="""
        SELECT c_mktsegment, CAST(COUNT(1) AS BIGINT) AS n,
               ROUND(quantile_cont(c_acctbal, 0.5), 4) AS median_bal,
               ROUND(quantile_cont(c_acctbal, 0.9), 4) AS p90_bal,
               ROUND(MIN(c_acctbal), 2) AS min_bal,
               ROUND(MAX(c_acctbal), 2) AS max_bal
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
)
def q_customer_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return customer_acct_percentiles(load(spark, sf_dir, "customer"))


def events_topk_per_user(events: DataFrame, k: int = 2) -> DataFrame:
    """Windowed top-k: each user's k highest-value events (beyond the
    reference, which has no window functions — SURVEY §2.5).  At scale
    the window shuffles ONCE on user_id and ranks within partitions;
    ties broken by event_id so results are deterministic on any cluster."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        events.select("user_id", "event_id", "value", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= k)
        .orderBy("user_id", "rn")
    )


@check(
    "events_topk_per_user",
    oracle="""
        SELECT user_id, event_id, value, CAST(rn AS INT) AS rn FROM (
            SELECT user_id, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY value DESC, event_id) AS rn
            FROM events) t
        WHERE rn <= 2 ORDER BY user_id, rn""",
)
def q_events_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_topk_per_user(load(spark, sf_dir, "events"))


def forecast_revenue_change(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6 shape: tight multi-predicate scan + single scalar
    aggregate — the purest pushdown test (every predicate reaches the
    Parquet scan; zero joins, one partial+final agg)."""
    f = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01"))
        & (F.col("l_shipdate") < F.lit("1995-01-01"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    rev = F.sum((_dec("l_extendedprice") * F.col("l_discount").cast("decimal(6,4)")))
    return f.agg(F.round(rev, 2).cast("double").alias("revenue"))


@check(
    "q6_forecast_revenue",
    oracle="""
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                               * CAST(l_discount AS DECIMAL(6,4))), 2) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= '1994-01-01' AND l_shipdate < '1995-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return forecast_revenue_change(load(spark, sf_dir, "lineitem"))


# The synthetic orders span 1995-01-01..2001-08-01, so TPC-H's canonical
# 1993-Q3 window would select ZERO rows and never exercise the EXISTS
# decorrelation (vacuous in round 1) — use a quarter with mass.
_Q4_LO, _Q4_HI = "1996-07-01", "1996-10-01"


def order_priority_counts(
    orders: DataFrame, lineitem: DataFrame, lo: str = _Q4_LO, hi: str = _Q4_HI
) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery → Catalyst decorrelates
    to a LEFT SEMI join (one shuffle each side, or broadcast of the
    filtered line-item keys when small); demonstrates the engine's
    decorrelation path (SURVEY X10)."""
    flagged = lineitem.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        orders.filter((F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") < F.lit(hi)))
        .join(flagged, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@check(
    "q4_order_priority",
    oracle=f"""
        SELECT o_orderpriority, CAST(COUNT(1) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= '{_Q4_LO}' AND o_orderdate < '{_Q4_HI}'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority ORDER BY o_orderpriority""",
)
def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return order_priority_counts(load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem"))


def salted_event_counts(events: DataFrame, n_salts: int = 8) -> DataFrame:
    """Two-phase SALTED aggregation — the explicit skew defense (SCALE.md):
    phase 1 groups on (key, salt) so one hot key spreads over ``n_salts``
    reducers; phase 2 re-aggregates the tiny salted partials.  Results are
    identical to a direct groupBy (the oracle is the direct form); the
    salt is a deterministic hash of a high-cardinality column, never
    rand().  Use when a key's row share is large enough that AQE
    skew-splitting (which only splits map OUTPUT partitions, not a single
    hot reduce key) can't help."""
    salted = events.withColumn("salt", F.pmod(F.col("event_id"), F.lit(n_salts)))
    phase1 = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(24,6)")).alias("pv"),
    )
    return (
        phase1.groupBy("event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n"),
            F.round(F.sum("pv"), 2).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


@check(
    "salted_event_counts",
    oracle="""
        SELECT event_type, CAST(COUNT(1) AS BIGINT) AS n,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(24,6))), 2) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type""",
)
def q_salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return salted_event_counts(load(spark, sf_dir, "events"))


@check(
    "customer_segment_distinct",
    oracle="""
        SELECT c_mktsegment,
               CAST(COUNT(1) AS BIGINT) AS n_customers,
               CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
)
def q_customer_segment_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-aggregate shape: Spark expands COUNT(DISTINCT) into a
    two-stage aggregate (partial on (segment, nationkey), final count) —
    the same expansion keeps it one extra narrow shuffle at any scale."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
        .orderBy("c_mktsegment")
    )


@check(
    "events_rollup",
    oracle="""
        SELECT CASE WHEN GROUPING(event_type) = 1 THEN '(ALL)' ELSE event_type END AS event_type,
               CAST(COUNT(1) AS BIGINT) AS n,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(24,6))), 2) AS DOUBLE) AS sum_value
        FROM events GROUP BY ROLLUP(event_type)
        ORDER BY 1""",
)
def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets (beyond the reference — SURVEY §2.4 notes it has
    none): ROLLUP(event_type) emits per-type rows plus the grand total in
    ONE pass (Spark expands to a single Expand + aggregate, not two
    scans)."""
    return (
        load(spark, sf_dir, "events")
        .rollup("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(24,6)")), 2)
            .cast("double")
            .alias("sum_value"),
            F.grouping("event_type").alias("_g"),
        )
        .select(
            F.when(F.col("_g") == 1, F.lit("(ALL)"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            "n",
            "sum_value",
        )
        .orderBy("event_type")
    )


def min_cost_per_part(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar-MIN subquery
    (``WHERE price = (SELECT MIN(price) ... WHERE same part)``).

    Catalyst decorrelates that into aggregate+self-join — two scans and
    two shuffles.  We do strictly better with a window MIN over the part
    partition: ONE scan, ONE shuffle on l_partkey, then a filter — same
    rows, and the equality compares stored doubles (never computed ones),
    so it is exact across engines.  Ties at the minimum collapse
    deterministically (count + MIN suppkey)."""
    w = Window.partitionBy("l_partkey")
    li = lineitem.filter(F.pmod(F.col("l_partkey"), F.lit(10)) == 0).select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    return (
        li.withColumn("min_price", F.min("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .groupBy("l_partkey")
        .agg(
            F.first("min_price").alias("min_price"),
            F.min("l_suppkey").cast("bigint").alias("best_suppkey"),
            F.count(F.lit(1)).alias("n_at_min"),
        )
        .select(
            F.col("l_partkey").cast("bigint").alias("l_partkey"),
            "min_price",
            "best_suppkey",
            "n_at_min",
        )
        .orderBy("l_partkey")
    )


@check(
    "q2_min_cost_supplier",
    oracle="""
        SELECT CAST(l1.l_partkey AS BIGINT) AS l_partkey,
               MIN(l1.l_extendedprice) AS min_price,
               CAST(MIN(l1.l_suppkey) AS BIGINT) AS best_suppkey,
               CAST(COUNT(1) AS BIGINT) AS n_at_min
        FROM lineitem l1
        WHERE l1.l_partkey % 10 = 0
          AND l1.l_extendedprice = (
              SELECT MIN(l2.l_extendedprice) FROM lineitem l2
              WHERE l2.l_partkey = l1.l_partkey AND l2.l_partkey % 10 = 0)
        GROUP BY l1.l_partkey
        ORDER BY l_partkey""",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return min_cost_per_part(load(spark, sf_dir, "lineitem"))


def nation_trade_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    n1: str = "NATION_3",
    n2: str = "NATION_7",
) -> DataFrame:
    """TPC-H Q7 shape: revenue shipped between two nations per direction
    per year.  Dimension chain (supplier→nation, customer→nation) is
    broadcast; the fact table shuffles once on the join keys; the
    direction pair filter lands on the broadcast side so Catalyst prunes
    before the fact join."""
    sn = F.broadcast(
        nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    )
    cn = F.broadcast(
        nation.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    )
    dec = lambda c: F.col(c).cast("decimal(14,2)")
    disc = F.lit(1).cast("decimal(6,4)") - F.col("l_discount").cast("decimal(6,4)")
    j = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(F.sum(dec("l_extendedprice") * disc), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@check(
    "q7_nation_trade",
    oracle="""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(YEAR(l_shipdate) AS INT) AS l_year,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                    * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue,
               CAST(COUNT(1) AS BIGINT) AS n_items
        FROM lineitem, orders, customer, supplier, nation sn, nation cn
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND l_suppkey = s_suppkey
          AND s_nationkey = sn.n_nationkey AND c_nationkey = cn.n_nationkey
          AND l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
          AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
               OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
        GROUP BY sn.n_name, cn.n_name, YEAR(l_shipdate)
        ORDER BY supp_nation, cust_nation, l_year""",
)
def q_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nation_trade_volume(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
    )


def idle_rich_customers(
    customer: DataFrame, orders: DataFrame, since: str = "2000-01-01"
) -> DataFrame:
    """TPC-H Q22 shape (adapted: the synthetic customer table has no phone,
    so grouping is by nation): customers with above-average positive
    account balance and no orders SINCE a cutoff — a decorrelated scalar
    subquery (global avg, broadcast as a 1-row literal join) plus a
    left-anti join over the filtered order stream.  (Nearly every
    synthetic customer has some order, so the classic no-orders-ever form
    would select ~zero rows — vacuous; the recency window keeps the same
    plan shape with real mass.)"""
    pos = customer.filter(F.col("c_acctbal") > 0.0)
    avg_bal = pos.agg(F.avg("c_acctbal").alias("avg_bal"))
    rich = customer.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    recent = orders.filter(F.col("o_orderdate") >= F.lit(since))
    idle = rich.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(14,2)")), 2)
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


@check(
    "q22_idle_rich_customers",
    oracle="""
        SELECT c_nationkey, CAST(COUNT(1) AS BIGINT) AS n_custs,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE) AS total_bal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderdate >= '2000-01-01')
        GROUP BY c_nationkey ORDER BY c_nationkey""",
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return idle_rich_customers(load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders"))
