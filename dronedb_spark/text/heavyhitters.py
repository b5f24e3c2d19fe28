"""Exact heavy hitters by the two-pass Misra-Gries recipe (Misra &
Gries 1982; the distributed framing follows the mergeable-summaries
line of Agarwal et al. 2013) — "which tokens exceed phi = 1/(k+1) of
the corpus?" answered EXACTLY with bounded memory, never a full
vocabulary shuffle.

Beyond the reference (no text pipeline there).  Why a 100 TB corpus
needs this instead of ``groupBy(token).count().filter(...)``: the naive
plan shuffles the ENTIRE vocabulary (billions of keys for web text —
typos, ids, urls) to answer a question about the ~dozens of keys above
the threshold.  The two-pass plan is:

  * **pass 1** — each input partition streams its tokens through a
    k-counter Misra-Gries summary (an Arrow kernel holding a dict of at
    most k entries; on overflow every counter decrements — the classic
    strike-out).  Output is <= k candidate rows per partition plus one
    sentinel row carrying the partition's token count, so the stage is
    map-only and emits O(P*k) rows total regardless of corpus size.
    Pigeonhole guarantee: if f(x) > N/(k+1) globally then, since
    N = sum_p N_p, some partition has f_p(x) > N_p/(k+1), and
    Misra-Gries with k counters never evicts an item whose local
    frequency exceeds N_p/(k+1) to zero surviving count — so every
    global heavy hitter appears in the union of summaries.  (The union
    may also hold false candidates; pass 2 removes them.)
  * **pass 2** — exact counts for the candidate set only: broadcast the
    O(P*k) candidates, left-semi join the token stream against them
    (map-only, no shuffle of non-candidates), then a groupBy over the
    surviving rows — a shuffle of candidate keys only.  Keep
    cnt * (k+1) > N, integer-exact on both engines (no division).

The final output is EXACT and independent of the physical partitioning
(pass 1's candidate set varies with layout; the exact pass-2 filter
makes the answer deterministic), so it carries a real DuckDB oracle.
Summaries merge by summing per-token counts and re-striking to k rows —
the daily-sketch shape — pinned in pytest alongside the pigeonhole law
under adversarial repartitionings.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

K = 64  # Misra-Gries counters per partition -> threshold phi = 1/65

_SUMMARY_SCHEMA = "tok string, cnt bigint"
_SENTINEL = ""  # empty string never survives tokenization


def _mg_update(counters: dict[str, int], tok: str, k: int) -> None:
    """One Misra-Gries step: count if tracked or room; else strike all."""
    if tok in counters:
        counters[tok] += 1
    elif len(counters) < k:
        counters[tok] = 1
    else:
        dead = [t for t in counters if counters[t] == 1]
        for t in counters:
            counters[t] -= 1
        for t in dead:
            del counters[t]


def mg_partition_summaries(docs: DataFrame, k: int = K) -> DataFrame:
    """Pass 1: per-partition Misra-Gries summaries of the whitespace
    token stream.  Emits <= k (tok, surviving_count) rows per partition
    plus one ('', n_tokens) sentinel so the global token count N rides
    along without a second scan of the data."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        n_tokens = 0
        for pdf in batches:
            for text in pdf["text"]:
                if text is None:
                    continue
                for tok in text.split(" "):
                    if not tok:
                        continue
                    n_tokens += 1
                    _mg_update(counters, tok, k)
        out = list(counters.items()) + [(_SENTINEL, n_tokens)]
        yield pd.DataFrame(out, columns=["tok", "cnt"])

    return docs.select("text").mapInPandas(kernel, schema=_SUMMARY_SCHEMA)


def merge_summaries(summaries: DataFrame, k: int = K) -> DataFrame:
    """Merge per-partition (or per-day) summaries into one k-row summary:
    sum counts per token, then subtract the (k+1)-th largest count from
    every survivor and drop the non-positives (Agarwal et al. 2013) —
    the guarantee composes, so merged daily sketches stay sound."""
    summed = (
        summaries.filter(F.col("tok") != _SENTINEL)
        .groupBy("tok")
        .agg(F.sum("cnt").alias("cnt"))
    )
    kth = (
        summed.orderBy(F.desc("cnt"), "tok")
        .limit(k + 1)
        .agg(F.when(F.count("cnt") > k, F.min("cnt")).otherwise(F.lit(0)).alias("off"))
    )
    return (
        summed.crossJoin(F.broadcast(kth))
        .select("tok", (F.col("cnt") - F.col("off")).alias("cnt"))
        .filter(F.col("cnt") > 0)
    )


def heavy_hitters_exact(docs: DataFrame, k: int = K) -> DataFrame:
    """Tokens with frequency strictly above N/(k+1), exactly.

    Pass 1 candidates (O(P*k) rows) are broadcast into a left-semi join
    over the token stream; pass 2's shuffle carries candidate keys only.
    The threshold test is the integer cross-multiplication
    ``cnt * (k+1) > N`` — no division, no float, engine-portable.
    """
    from dronedb_spark.tables import barrier_persist

    # the summary is O(P*k) rows — a barrier_persist (bounded keyed LRU)
    # evaluates pass 1 once for both the sentinel fold and the candidates
    summaries = barrier_persist(mg_partition_summaries(docs, k))
    n_total = (
        summaries.filter(F.col("tok") == _SENTINEL)
        .agg(F.sum("cnt"))
        .collect()[0][0]
    ) or 0
    candidates = summaries.filter(F.col("tok") != _SENTINEL).select("tok").distinct()
    toks = docs.select(F.explode(tokens("text")).alias("tok")).filter(F.col("tok") != "")
    return (
        toks.join(F.broadcast(candidates), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.col("cnt") * (k + 1) > F.lit(n_total))
    )


@check(
    "heavy_hitters_exact",
    oracle=f"""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        t AS (SELECT tok FROM toks WHERE tok <> ''),
        n AS (SELECT COUNT(*) AS n_total FROM t)
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM t GROUP BY tok
        HAVING COUNT(*) * {K + 1} > (SELECT n_total FROM n)
        ORDER BY tok""",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters above phi=1/65 via bounded-memory
    Misra-Gries pass + exact candidate verification — value-identical
    to the full-vocabulary DuckDB aggregate."""
    docs = load(spark, sf_dir, "documents")
    return heavy_hitters_exact(docs).orderBy("tok")


@check(
    "heavy_hitters_exact_10x",
    oracle=f"""
        WITH corpus AS (
            SELECT text FROM documents,
                 (SELECT unnest(range(0, 10)) AS k) k),
        toks AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM corpus),
        t AS (SELECT tok FROM toks WHERE tok <> ''),
        n AS (SELECT COUNT(*) AS n_total FROM t)
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM t GROUP BY tok
        HAVING COUNT(*) * {K + 1} > (SELECT n_total FROM n)
        ORDER BY tok""",
)
def q_heavy_hitters_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10× corpus mass through the same two passes: the heavy-hitter SET
    is scale-invariant (counts grow 10×, shares don't), the per-partition
    summaries stay <= k+1 rows, and the candidate union stays O(P·k) —
    the whole point of the sketch under growth."""
    from dronedb_spark.text.segdedup import inflated_documents

    docs = inflated_documents(load(spark, sf_dir, "documents"))
    return heavy_hitters_exact(docs).orderBy("tok")
