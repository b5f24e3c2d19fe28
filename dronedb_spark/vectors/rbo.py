"""Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010) between the
full-dimension ranking and the 16-dim Matryoshka-prefix ranking — the
eval answer to "how much of the SERVED ordering survives dimension
truncation?", which recall@k can't see (recall counts membership; RBO
weights agreement by rank, exactly what a result page shows).

EXACT-INTEGER RBO: with p = 9/10 truncated at depth 10,
RBO = (1−p)·Σ_d p^(d−1)·(O_d/d) where O_d is the overlap of the two
top-d prefixes.  Every term is the rational 9^(d−1)·(2520/d)/10^d
(2520 = lcm(1..10)), so scaling by 2520·10^10 makes each joined pair's
contribution the exact integer W(max(ra, rb)) = Σ_{d≥max} C_d — the
score ships as (rbo_num, rbo_den) and the engines agree bit-for-bit.

Distances are the package's decimal-exact L2 (``vectors/matryoshka.py``
discipline: per-term DECIMAL(38,15) — order-independent sums,
ROUND(..,6) at the edge), BOTH budgets from ONE conditional-sum pass
(a prefix budget is a predicate on pos).

Scale shape: the query panel (16×64 term rows) broadcasts; the only
data-sized structure is the (corpus × panel) distance aggregate — one
shuffle, map-side combined; ranks and the RBO fold run on the
(corpus × 16)-row distance table and the 2×160-row top lists.  At
100 TB the corpus scan is the cost and the panel is a constant.

Beyond the reference (no vector-eval surface there); siblings:
``matryoshka_topk`` (single-query curves), ``retrieval_mrr``,
``ivf_recall_curve``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

N_QUERIES = 16
DEPTH = 10
PREFIX_DIMS = 16
FULL_DIMS = 64

# C_d = 9^(d-1) * 10^(10-d) * (2520 / d): the depth-d RBO term scaled
# by RBO_DEN = 2520 * 10^10 — exact integers because d | 2520.
_C = {
    d: 9 ** (d - 1) * 10 ** (DEPTH - d) * (2520 // d)
    for d in range(1, DEPTH + 1)
}
# W(m) = sum of C_d for d >= m: a pair first co-present at depth m
# contributes to every deeper prefix's overlap.
_W = {m: sum(_C[d] for d in range(m, DEPTH + 1)) for m in range(1, DEPTH + 1)}
RBO_DEN = 2520 * 10 ** DEPTH

_W_CASE = (
    "CASE GREATEST(ra, rb) "
    + " ".join(f"WHEN {m} THEN {w}" for m, w in _W.items())
    + " END"
)


def rbo_prefix_stability(
    embeddings: DataFrame,
    n_queries: int = N_QUERIES,
    prefix_dims: int = PREFIX_DIMS,
) -> DataFrame:
    """(q_id, n_common, rbo_num, rbo_den): per panel query the exact
    RBO@10 between the prefix-dim and full-dim neighbor rankings."""
    # r13 (guide §2.3/§2.4): the old shape posexploded BOTH sides to
    # dimension grain and pushed |emb|·dim·|Q| rows through a groupBy —
    # the squared distance is computable IN-ROW over the two arrays
    # (decimal addition is exact, so accumulation order is immaterial
    # and the HOF fold equals the shuffled sum bit-for-bit), removing
    # the dimension explode and the (q, vec) aggregation exchange.
    qs = (
        embeddings.orderBy("vec_id")
        .limit(n_queries)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    )

    # DECIMAL(30,15), not (38,15): scale 15 gives the identical half-up
    # term rounding, and (30,15)+(30,15) stays inside precision 38 so
    # the fold's re-cast never moves the scale — every addition is
    # exact, bit-equal to the shuffled F.sum it replaces.
    def _d2(a: str, b: str) -> F.Column:
        return F.expr(
            f"""aggregate(
                    zip_with({a}, {b}, (x, y) ->
                        CAST((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                             * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                             AS DECIMAL(30,15))),
                    CAST(0 AS DECIMAL(30,15)),
                    (acc, t) -> CAST(acc + t AS DECIMAL(30,15)))"""
        )

    # guard the unconditioned cross-join (r14, ADVICE): an empty or
    # short embedding would fold to distance 0/NULL and could enter the
    # top-10, where the dimension-join formulation (and the oracle's
    # per-position unnest join) never scored it over full length —
    # only full-dimension vectors enter the ranking.  A no-op on
    # conforming corpora (verified: oracle hash unchanged).
    dist = (
        embeddings.filter(F.size("embedding") == FULL_DIMS)
        .join(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(
                _d2(
                    f"slice(embedding, 1, {prefix_dims})",
                    f"slice(q_emb, 1, {prefix_dims})",
                ),
                6,
            ).cast("double").alias("d_pre"),
            F.round(_d2("embedding", "q_emb"), 6).cast("double").alias(
                "d_full"
            ),
        )
    )
    wa = Window.partitionBy("q_id").orderBy("d_pre", "vec_id")
    wb = Window.partitionBy("q_id").orderBy("d_full", "vec_id")
    ranked = dist.select(
        "q_id",
        "vec_id",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    top_a = ranked.filter(F.col("ra") <= DEPTH).select("q_id", "vec_id", "ra")
    top_b = ranked.filter(F.col("rb") <= DEPTH).select("q_id", "vec_id", "rb")
    pairs = top_a.join(top_b, ["q_id", "vec_id"])
    return pairs.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum(F.expr(_W_CASE)).cast("bigint").alias("rbo_num"),
        F.lit(RBO_DEN).cast("bigint").alias("rbo_den"),
    )


@check(
    "rbo_prefix_stability",
    small=True,
    oracle=f"""
        WITH pts AS (
            SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings),
        qp AS (
            SELECT vec_id AS q_id, pos, val AS qval FROM pts
            WHERE vec_id IN (SELECT vec_id FROM embeddings
                             ORDER BY vec_id LIMIT {N_QUERIES})),
        dist AS (
            SELECT q.q_id, p.vec_id,
                   CAST(ROUND(SUM(CAST((p.val - q.qval) * (p.val - q.qval)
                        AS DECIMAL(38,15))) FILTER (WHERE p.pos < {PREFIX_DIMS}),
                        6) AS DOUBLE) AS d_pre,
                   CAST(ROUND(SUM(CAST((p.val - q.qval) * (p.val - q.qval)
                        AS DECIMAL(38,15))), 6) AS DOUBLE) AS d_full
            FROM pts p JOIN qp q ON q.pos = p.pos
            WHERE p.vec_id <> q.q_id
            GROUP BY q.q_id, p.vec_id),
        ranked AS (
            SELECT q_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY d_pre, vec_id) AS ra,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY d_full, vec_id) AS rb
            FROM dist),
        pairs AS (
            SELECT a.q_id, a.ra, b.rb
            FROM (SELECT q_id, vec_id, ra FROM ranked WHERE ra <= {DEPTH}) a
            JOIN (SELECT q_id, vec_id, rb FROM ranked WHERE rb <= {DEPTH}) b
              ON a.q_id = b.q_id AND a.vec_id = b.vec_id)
        SELECT q_id, CAST(COUNT(1) AS BIGINT) AS n_common,
               CAST(SUM({_W_CASE}) AS BIGINT) AS rbo_num,
               CAST({RBO_DEN} AS BIGINT) AS rbo_den
        FROM pairs GROUP BY q_id ORDER BY q_id""",
)
def q_rbo_prefix_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query exact RBO@10 of the 16-dim prefix ranking against the
    full 64-dim ranking — the served-order stability readout."""
    return rbo_prefix_stability(load(spark, sf_dir, "embeddings")).orderBy(
        "q_id"
    )
