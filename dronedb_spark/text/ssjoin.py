"""Exact set-similarity join by prefix filtering — the EXACT
complement to the banded-MinHash candidate path: every pair with
token-set Jaccard ≥ τ is found, none missed, WITHOUT the all-pairs
join (the database-literature ssjoin: Chaudhuri et al. 2006 prefix
filtering; Xiao et al. 2008 PPJoin's length filter).

The theorem: order every document's distinct tokens by a GLOBAL total
order (rarest-first by document frequency, ties lexicographic) and
keep only each document's first ``p = n − ⌈τ·n⌉ + 1`` tokens (its
*prefix*).  Two sets with Jaccard ≥ τ overlap in ≥ ⌈τ·n⌉ tokens of
either set, so their prefixes MUST share a token — the candidate join
on prefix tokens has no false negatives, and rarest-first makes
prefix tokens the least likely to collide (small join fan-out).  The
length filter (τ·|A| ≤ |B| ≤ |A|/τ) prunes candidates before
verification.

Exactness discipline: the threshold tests are integer
cross-multiplications (``inter·100 ≥ τ%·union``; prefix length and
length filter likewise) — no float touches a decision boundary, so
LSH-style recall calibration is unnecessary BY CONSTRUCTION (the
pytest pins ssjoin == brute force).

Scale shape: df is one map-side-combinable aggregate; per-doc token
ordering is a doc-local ``sort_array`` (in-row, no global sort);
candidates come from ONE equi-join on the prefix token (fan-out
bounded by prefix-token df — rarest-first is the built-in df cap);
verification joins the two doc-sized token arrays back by doc_id and
intersects IN-ROW.  A boilerplate token never enters a prefix unless
a document is nearly all boilerplate, which is what the length filter
then bounds."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load, spread
from dronedb_spark.text.tokens import tokens

TAU_PCT = 80


def _doc_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, n, toks): distinct 3-GRAMS per doc (unigram sets are
    degenerate on natural text — a few thousand words cover everything
    and every pair looks similar; gram sets carry phrase identity, the
    near-dup signal), ordered rarest-first by global df (ties
    lexicographic) — the shared total order the prefix theorem needs."""
    from dronedb_spark.tables import barrier_persist
    from dronedb_spark.text.corpusstats import _GRAM3_SPARK

    # (r13 optimization) in-row array_distinct replaces the global
    # .distinct() exchange (same (doc_id, tok) relation), and the
    # distinct-gram pass is materialized once: it feeds both the df
    # aggregate and the ordering join, and the old plan re-tokenized
    # the corpus for each (guide §2.4).
    toks = barrier_persist(
        spread(docs)
        .select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(_GRAM3_SPARK))).alias("tok"),
        )
    )
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        toks.join(df, "tok")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df, tok))), x -> x.tok)"
            ).alias("toks")
        )
        .select("doc_id", F.size("toks").cast("bigint").alias("n"), "toks")
    )


def jaccard_ssjoin(docs: DataFrame, tau_pct: int = TAU_PCT) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_union): every pair with Jaccard ≥
    τ — exact, via prefix filtering + length filter + in-row verify."""
    from dronedb_spark.tables import barrier_persist

    # arrs feeds the prefix explode AND both verification re-attaches —
    # materialize the doc-array relation once (r13 optimization)
    arrs = barrier_persist(_doc_arrays(docs))
    # prefix length p = n - ceil(tau*n/100) + 1, integer ceil
    pre = arrs.select(
        "doc_id",
        "n",
        F.explode(
            F.expr(
                f"slice(toks, 1, CAST(n - ((n * {tau_pct} + 99) DIV 100) + 1 AS INT))"
            )
        ).alias("ptok"),
    )
    a = pre.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "ptok"
    )
    b = pre.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "ptok"
    )
    cand = (
        a.join(b, "ptok")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: tau*max <= 100*min in both directions
            & (F.col("na") * tau_pct <= F.col("nb") * 100)
            & (F.col("nb") * tau_pct <= F.col("na") * 100)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    verified = (
        cand.join(
            arrs.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"),
                        F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            arrs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"),
                        F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ta", "tb")).cast("bigint").alias("n_inter"),
            (F.col("na") + F.col("nb")).alias("_sum"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.col("_sum") - F.col("n_inter")).cast("bigint").alias("n_union"),
        )
    )
    return verified.filter(
        F.col("n_inter") * 100 >= F.lit(tau_pct) * F.col("n_union")
    )


@check(
    "jaccard_ssjoin_pairs",
    oracle=f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, gram AS tok FROM (
                SELECT doc_id, array_to_string(t[p.pos : p.pos + 2], ' ') AS gram
                FROM (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents) s,
                     LATERAL (SELECT unnest(range(1, len(t) - 1)) AS pos) p
                WHERE len(t) >= 3) g),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
            FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT i.doc_a, i.doc_b,
               CAST(i.n_inter AS BIGINT) AS n_inter,
               CAST(sa.n + sb.n - i.n_inter AS BIGINT) AS n_union
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.n_inter * 100 >= {TAU_PCT} * (sa.n + sb.n - i.n_inter)
        ORDER BY doc_a, doc_b""",
)
def q_jaccard_ssjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard-≥-80% pairs over distinct 3-GRAM sets by prefix
    filtering — the oracle is the BRUTE-FORCE all-shared-gram join,
    so any false negative of the prefix theorem's implementation (or
    false positive of the verify) breaks parity."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return jaccard_ssjoin(docs).orderBy("doc_a", "doc_b")
