"""Bradley-Terry strength estimation from pairwise preferences — the
eval-side twin of preference-pair construction (preferences.py): given
duels between corpus sources ("annotators preferred the doc from src A
over the doc from src B"), estimate per-source quality strengths.

Public method: the Bradley-Terry model (1952) fit by Hunter's MM
algorithm (Hunter, "MM algorithms for generalized Bradley-Terry
models", Annals of Statistics 2004):

    p_i  <-  W_i / SUM_j n_ij / (p_i + p_j)

run for a FIXED number of iterations from the uniform start and
mean-normalized after every step — fixed iterations keep the estimate
deterministic and oracle-checkable (the same discipline as the
fixed-iteration k-means in vectors/ivf.py).

Scale shape: the corpus-sized work is building the duel table (one
self-join at doc grain) and collapsing it to the pair-count matrix —
one shuffle each; the MM iterations then run at PLAYER grain (|sources|
rows, here 20), each iteration two joins on the tiny strengths table.
At 100 TB the iteration cost is unchanged — player count, not corpus
mass, bounds it.  Numeric discipline: every cross-row sum accumulates
as DECIMAL(38,15) so partition order cannot move the 9-dp result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load, spread

N_ITER = 3
# Upper bound on the driver-side model state (players) — see the grain
# guard in ``bradley_terry``.
MAX_PLAYERS = 10_000


def source_duels(docs: DataFrame) -> DataFrame:
    """(s1, s2, n_games, w1): consecutive-doc duels — doc d vs doc d+1,
    cross-source only; the longer document wins, ties go to the
    lexicographically smaller source.  (s1, s2) is the sorted pair,
    ``w1`` counts s1's wins."""
    a = spread(docs).select(
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("src_a"),
        F.col("n_chars").alias("len_a"),
    )
    b = spread(docs).select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("source").alias("src_b"),
        F.col("n_chars").alias("len_b"),
    )
    duels = a.join(b, "id_a").filter(F.col("src_a") != F.col("src_b"))
    winner = (
        F.when(F.col("len_a") > F.col("len_b"), F.col("src_a"))
        .when(F.col("len_b") > F.col("len_a"), F.col("src_b"))
        .otherwise(F.least("src_a", "src_b"))
    )
    s1 = F.least("src_a", "src_b")
    return (
        duels.select(
            s1.alias("s1"),
            F.greatest("src_a", "src_b").alias("s2"),
            F.when(winner == s1, 1).otherwise(0).alias("won1"),
        )
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("n_games"),
            F.sum("won1").alias("w1"),
        )
    )


def _directed(games: DataFrame) -> DataFrame:
    """Both orientations of the pair matrix: (i, j, n_ij)."""
    fwd = games.select(
        F.col("s1").alias("i"), F.col("s2").alias("j"), F.col("n_games").alias("n_ij")
    )
    rev = games.select(
        F.col("s2").alias("i"), F.col("s1").alias("j"), F.col("n_games").alias("n_ij")
    )
    return fwd.unionByName(rev)


def player_wins(games: DataFrame) -> DataFrame:
    """(i, w): total wins per player."""
    fwd = games.select(F.col("s1").alias("i"), F.col("w1").alias("w"))
    rev = games.select(
        F.col("s2").alias("i"), (F.col("n_games") - F.col("w1")).alias("w")
    )
    return fwd.unionByName(rev).groupBy("i").agg(F.sum("w").alias("w"))


def bradley_terry(games: DataFrame, n_iter: int = N_ITER) -> DataFrame:
    """(i, strength, w, n_games): MM-fitted strengths after ``n_iter``
    fixed iterations from the uniform start, mean-normalized each step.

    The pair matrix goes through the CSE barrier — it is referenced by
    every iteration, and without the barrier Catalyst re-runs the
    corpus-sized duel self-join once per reference (measured 13.3 s →
    ~1 s at sf0.1).

    r13 optimization: the per-player strengths are PLAYER-GRAIN MODEL
    STATE (|sources| rows) and iterate on the driver — the
    ``vectors/ivf.py`` k-means contract ("tiny model state, the same
    contract as MLlib's KMeans").  Each MM step runs exactly ONE Spark
    job: the pair-grain denom aggregate, with the current strengths
    riding in as a literal map — replacing two broadcast builds, one
    join pair, one total broadcast and a localCheckpoint per step
    (measured 1.5 s → ~0.6 s at sf0.1).  The win/normalize arithmetic
    on the driver reproduces the engine semantics bit-for-bit: plain
    IEEE double ops, and the mean-normalization total summed as
    DECIMAL(38,15) via half-up-quantized ``decimal.Decimal`` (the same
    shortest-repr → scale-15 → exact-sum → double chain Spark's
    decimal cast performs)."""
    from decimal import ROUND_HALF_UP, Decimal

    from dronedb_spark.tables import barrier_persist

    games = barrier_persist(games)
    directed = _directed(games)
    wins = player_wins(games)
    totals = directed.groupBy("i").agg(F.sum("n_ij").alias("n_games_i"))
    win_rows = {r["i"]: r["w"] for r in wins.collect()}  # model state
    n_players = len(win_rows)
    # model-state grain guard (r14, the k-means contract made explicit):
    # the driver loop embeds 2·|players| literals in the plan per
    # iteration and holds |players| floats — fine at source grain
    # (tens), catastrophic if a caller ever passes entity-grain pairs
    # (the r13 ivf unrolled-literals negative result is exactly that
    # failure mode).  Fail loudly instead of going quadratic.
    if n_players > MAX_PLAYERS:
        raise ValueError(
            f"bradley_terry: {n_players} players exceed the model-state "
            f"cap {MAX_PLAYERS}; the driver-side MM loop is for "
            "source-grain strengths — use a distributed formulation for "
            "entity-grain pairs"
        )
    p: dict = {i: 1.0 for i in win_rows}
    q15 = Decimal(1).scaleb(-15)
    for _ in range(n_iter):
        pmap = F.create_map(
            *[
                F.lit(v)
                for i in sorted(p)
                for v in (i, float(p[i]))
            ]
        )
        denom = {
            r["i"]: r["denom"]
            for r in directed.select(
                "i",
                (
                    F.col("n_ij") / (pmap[F.col("i")] + pmap[F.col("j")])
                ).cast("decimal(38,15)").alias("t"),
            )
            .groupBy("i")
            .agg(F.sum("t").cast("double").alias("denom"))
            .collect()
        }
        raw = {i: win_rows[i] / denom[i] for i in win_rows}
        p_sum = float(
            sum(
                Decimal(repr(v)).quantize(q15, ROUND_HALF_UP)
                for v in raw.values()
            )
        )
        p = {i: (v * n_players) / p_sum for i, v in raw.items()}
    spark = games.sparkSession
    # derive the player-id type from the input (r14, ADVICE): the
    # function is type-agnostic over ids — a hard-coded string schema
    # broke callers with e.g. bigint players at the downstream joins
    i_type = games.schema["s1"].dataType.simpleString()
    strengths = spark.createDataFrame(
        sorted((i, float(v)) for i, v in p.items()),
        f"i {i_type}, p double",
    )
    return (
        strengths.join(wins, "i")
        .join(totals, "i")
        .select(
            "i",
            F.col("p").alias("strength"),
            F.col("w").cast("bigint").alias("w"),
            F.col("n_games_i").cast("bigint").alias("n_games"),
        )
    )


# -------------------------------------------------------------- check --

_BT_ITER_SQL = """
    d{k} AS (
        SELECT d.i,
               CAST(SUM(CAST(d.n_ij / (a.p + b.p) AS DECIMAL(38,15))) AS DOUBLE)
                   AS denom
        FROM directed d
        JOIN p{prev} a ON a.i = d.i
        JOIN p{prev} b ON b.i = d.j
        GROUP BY d.i),
    r{k} AS (SELECT w.i, w.w / d.denom AS p FROM wins w JOIN d{k} d ON d.i = w.i),
    p{k} AS (
        SELECT i, p * (SELECT COUNT(*) FROM wins)
                    / (SELECT CAST(SUM(CAST(p AS DECIMAL(38,15))) AS DOUBLE)
                       FROM r{k}) AS p
        FROM r{k})"""

_BT_ORACLE = (
    """
    WITH duels AS (
        SELECT LEAST(a.source, b.source) AS s1,
               GREATEST(a.source, b.source) AS s2,
               CASE WHEN (CASE WHEN a.n_chars > b.n_chars THEN a.source
                               WHEN b.n_chars > a.n_chars THEN b.source
                               ELSE LEAST(a.source, b.source) END)
                    = LEAST(a.source, b.source) THEN 1 ELSE 0 END AS won1
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.source <> b.source),
    games AS (
        SELECT s1, s2, COUNT(*) AS n_games, SUM(won1) AS w1
        FROM duels GROUP BY s1, s2),
    directed AS (
        SELECT s1 AS i, s2 AS j, n_games AS n_ij FROM games
        UNION ALL
        SELECT s2 AS i, s1 AS j, n_games AS n_ij FROM games),
    wins AS (
        SELECT i, SUM(w) AS w FROM (
            SELECT s1 AS i, w1 AS w FROM games
            UNION ALL
            SELECT s2 AS i, n_games - w1 AS w FROM games) GROUP BY i),
    totals AS (SELECT i, SUM(n_ij) AS n_games_i FROM directed GROUP BY i),
    p0 AS (SELECT i, 1.0 AS p FROM wins),"""
    + ",".join(
        _BT_ITER_SQL.format(k=k, prev=k - 1) for k in range(1, N_ITER + 1)
    )
    + f"""
    SELECT p.i AS source, ROUND(p.p, 9) AS strength,
           CAST(w.w AS BIGINT) AS w, CAST(t.n_games_i AS BIGINT) AS n_games
    FROM p{N_ITER} p JOIN wins w ON w.i = p.i JOIN totals t ON t.i = p.i
    ORDER BY source"""
)


@check("bradley_terry_strengths", small=True, oracle=_BT_ORACLE)
def q_bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank corpus sources by Bradley-Terry strength from consecutive-doc
    duels (longer doc wins): 3 MM iterations, mean-normalized — the
    preference-eval readout a DPO-prep pipeline reports per source."""
    docs = load(spark, sf_dir, "documents")
    out = bradley_terry(source_duels(docs))
    return out.select(
        F.col("i").alias("source"),
        F.round("strength", 9).alias("strength"),
        "w",
        "n_games",
    ).orderBy("source")
