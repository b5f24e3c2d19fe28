"""Nonparametric test statistics — the distribution-free readouts an
experimentation/eval pipeline reports next to the Wilson, CUPED, PSI
and Kaplan-Meier operators: the Mann-Whitney rank-sum U (Mann &
Whitney 1947), the chi-square test of independence (Pearson 1900), and
exact trimmed/winsorized location estimates (the robust-statistics
standards).

Exactness discipline:

* **U is an exact integer in half-units.**  With integer scores the
  rank machinery collapses to the VALUE histogram: for each distinct
  value v, A-side observations beat every B observation below v and
  tie half against B's at v, so
  ``2·U_A = Σ_v cntA(v)·(2·cumB(<v) + cntB(v))`` — one histogram
  aggregate plus a histogram-sized cumulative window, never a global
  rank sort.  ``U_A + U_B = n_A·n_B`` is a pytest law.
* **χ² accumulates per-cell terms as DECIMAL(38,15)** so partition
  order cannot move the 9-dp statistic; expected counts are IEEE
  combines of exact integers.
* **Trimmed/winsorized means are exact micro-integers**: cut ranks are
  integer ``n·pct DIV 100``; the within-source rank comes from one
  window over (value, doc_id) — deterministic total order — and the
  means ship as ``sum·10⁶ DIV count``.

Scale shape: Mann-Whitney and χ² reduce to value-grain / cell-grain
histograms (map-side combinable, bounded by the score domain and
|langs|·|sources|); the trimmed estimator ranks INSIDE the source
partition — the ``powerlaw.py`` discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

_B_SOURCES = [f"src{i}" for i in range(10, 20)]


def mannwhitney_u(docs: DataFrame) -> DataFrame:
    """One row: (n_a, n_b, u2_a, u2_b, z): the rank-sum test of the
    document-length shift between the two source halves.  u2_* are
    2·U (half-unit-exact integers); z is the tie-corrected normal
    approximation — IEEE combines of the exact integers, no rounding
    step (the Wilson-bound contract)."""
    hist = (
        docs.select(
            F.col("n_chars").alias("v"),
            F.when(F.col("source").isin(_B_SOURCES), 1).otherwise(0).alias("is_b"),
        )
        .groupBy("v")
        .agg(
            F.sum(F.expr("1 - is_b")).cast("bigint").alias("ca"),
            F.sum("is_b").cast("bigint").alias("cb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "v",
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(w), F.lit(0)).cast("bigint").alias("cum_b"),
        F.coalesce(F.sum("ca").over(w), F.lit(0)).cast("bigint").alias("cum_a"),
    )
    agg = cum.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        F.sum(F.expr("ca * (2 * cum_b + cb)")).cast("bigint").alias("u2_a"),
        F.sum(F.expr("cb * (2 * cum_a + ca)")).cast("bigint").alias("u2_b"),
        # tie term: sum over values of t^3 - t with t = ca + cb
        F.sum(F.expr("(ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)"))
        .cast("bigint")
        .alias("ties3"),
    )
    n = F.col("n_a") + F.col("n_b")
    var = (
        F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
        / 12.0
        * (
            (n + 1).cast("double")
            - F.col("ties3").cast("double") / (n * (n - 1)).cast("double")
        )
    )
    z = (
        F.col("u2_a").cast("double") / 2.0
        - F.col("n_a").cast("double") * F.col("n_b").cast("double") / 2.0
    ) / F.sqrt(var)
    return agg.select("n_a", "n_b", "u2_a", "u2_b", z.alias("z"))


def chisq_lang_source(docs: DataFrame) -> DataFrame:
    """One row: (n, n_rows, n_cols, dof, chi2): Pearson independence of
    the (lang, source) contingency table; per-cell terms accumulate as
    decimal, rounded at 9 dp."""
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    rows = cells.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols = cells.groupBy("source").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    e = F.col("rt").cast("double") * F.col("ct").cast("double") / F.col(
        "n"
    ).cast("double")
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    joined = (
        cells.join(rows, "lang")
        .join(cols, "source")
        .crossJoin(F.broadcast(tot))
    )
    return joined.agg(
        F.min("n").cast("bigint").alias("n"),
        F.count_distinct("lang").cast("bigint").alias("n_rows"),
        F.count_distinct("source").cast("bigint").alias("n_cols"),
        (
            (F.count_distinct("lang") - 1) * (F.count_distinct("source") - 1)
        ).cast("bigint").alias("dof"),
        F.round(
            F.sum(term.cast("decimal(38,15)")).cast("double"), 9
        ).alias("chi2"),
    )


TRIM_PCT = 10


def trimmed_location(docs: DataFrame, pct: int = TRIM_PCT) -> DataFrame:
    """(source, n, lo_cut, hi_cut, trimmed_mean_micro,
    winsor_mean_micro): per-source robust location of the length
    distribution — drop (trim) or clamp (winsorize) the lowest and
    highest ``n·pct DIV 100`` observations under the deterministic
    (value, doc_id) total order.  Two phases because winsorizing needs
    the clamp values per ROW before the final aggregate: rank + size,
    reduce the kept band to its cuts/sum, re-join, aggregate."""
    w = Window.partitionBy("source").orderBy("v", "doc_id")
    ranked = docs.select(
        "source", "doc_id", F.col("n_chars").alias("v")
    ).withColumn("r", F.row_number().over(w))
    sized = ranked.join(
        ranked.groupBy("source").agg(F.count(F.lit(1)).alias("ns")), "source"
    ).withColumn("k", F.expr(f"ns * {pct} DIV 100"))
    kept = sized.filter(F.col("r").between(F.col("k") + 1, F.col("ns") - F.col("k")))
    cuts = kept.groupBy("source").agg(
        F.min("v").cast("bigint").alias("lo_cut"),
        F.max("v").cast("bigint").alias("hi_cut"),
        F.sum("v").cast("bigint").alias("kept_sum"),
        F.count(F.lit(1)).cast("bigint").alias("kept_n"),
    )
    wins = (
        sized.join(cuts, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("lo_cut").alias("lo_cut"),
            F.max("hi_cut").alias("hi_cut"),
            F.expr("CAST(min(kept_sum) * 1000000 DIV min(kept_n) AS BIGINT)").alias(
                "trimmed_mean_micro"
            ),
            F.expr(
                "CAST(sum(CASE WHEN v < lo_cut THEN lo_cut"
                " WHEN v > hi_cut THEN hi_cut ELSE v END)"
                " * 1000000 DIV count(1) AS BIGINT)"
            ).alias("winsor_mean_micro"),
        )
    )
    return wins


# -------------------------------------------------------------- checks --

_B_IN = ", ".join(repr(s) for s in _B_SOURCES)

_MWU_ORACLE = f"""
    WITH hist AS (
        SELECT n_chars AS v,
               CAST(SUM(CASE WHEN source IN ({_B_IN}) THEN 0 ELSE 1 END)
                    AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN source IN ({_B_IN}) THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM documents GROUP BY n_chars),
    cum AS (
        SELECT v, ca, cb,
               CAST(COALESCE(SUM(cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum_b,
               CAST(COALESCE(SUM(ca) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum_a
        FROM hist),
    agg AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
               CAST(SUM(cb) AS BIGINT) AS n_b,
               CAST(SUM(ca * (2 * cum_b + cb)) AS BIGINT) AS u2_a,
               CAST(SUM(cb * (2 * cum_a + ca)) AS BIGINT) AS u2_b,
               CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
                    AS BIGINT) AS ties3
        FROM cum)
    SELECT n_a, n_b, u2_a, u2_b,
           (CAST(u2_a AS DOUBLE) / 2.0
            - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
           / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                  * (CAST(n_a + n_b + 1 AS DOUBLE)
                     - CAST(ties3 AS DOUBLE)
                       / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE))) AS z
    FROM agg"""


@check("mannwhitney_length_shift", small=True, oracle=_MWU_ORACLE)
def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sum U between the two source halves' length distributions
    — half-unit-exact integer U from the value histogram, tie-corrected
    z as unrounded IEEE over the exact integers."""
    return mannwhitney_u(load(spark, sf_dir, "documents"))


_CHI_ORACLE = """
    WITH cells AS (
        SELECT lang, source, CAST(COUNT(1) AS BIGINT) AS o
        FROM documents GROUP BY lang, source),
    rws AS (SELECT lang, SUM(o) AS rt FROM cells GROUP BY lang),
    cls AS (SELECT source, SUM(o) AS ct FROM cells GROUP BY source),
    tot AS (SELECT SUM(o) AS n FROM cells)
    SELECT CAST(MIN(t.n) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT c.lang) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT c.source) AS BIGINT) AS n_cols,
           CAST((COUNT(DISTINCT c.lang) - 1)
                * (COUNT(DISTINCT c.source) - 1) AS BIGINT) AS dof,
           ROUND(CAST(SUM(CAST(
               (CAST(c.o AS DOUBLE)
                - CAST(r.rt AS DOUBLE) * CAST(s.ct AS DOUBLE)
                  / CAST(t.n AS DOUBLE))
               * (CAST(c.o AS DOUBLE)
                  - CAST(r.rt AS DOUBLE) * CAST(s.ct AS DOUBLE)
                    / CAST(t.n AS DOUBLE))
               / (CAST(r.rt AS DOUBLE) * CAST(s.ct AS DOUBLE)
                  / CAST(t.n AS DOUBLE))
               AS DECIMAL(38,15))) AS DOUBLE), 9) AS chi2
    FROM cells c JOIN rws r ON r.lang = c.lang
    JOIN cls s ON s.source = c.source
    CROSS JOIN tot t"""


@check("chisq_lang_source", small=True, oracle=_CHI_ORACLE)
def q_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence of language vs source — the
    mixture-design sanity test (a near-zero statistic means language is
    assigned independently of acquisition channel)."""
    return chisq_lang_source(load(spark, sf_dir, "documents"))


_TRIM_ORACLE = f"""
    WITH ranked AS (
        SELECT source, doc_id, n_chars AS v,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS r,
               COUNT(*) OVER (PARTITION BY source) AS ns
        FROM documents),
    sized AS (SELECT *, CAST(ns * {TRIM_PCT} // 100 AS BIGINT) AS k
              FROM ranked),
    cuts AS (
        SELECT source,
               CAST(MIN(v) AS BIGINT) AS lo_cut,
               CAST(MAX(v) AS BIGINT) AS hi_cut,
               SUM(v) AS kept_sum, COUNT(*) AS kept_n
        FROM sized WHERE r BETWEEN k + 1 AND ns - k GROUP BY source)
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(c.lo_cut) AS lo_cut,
           MAX(c.hi_cut) AS hi_cut,
           CAST(MIN(c.kept_sum) * 1000000 // MIN(c.kept_n) AS BIGINT)
               AS trimmed_mean_micro,
           CAST(SUM(CASE WHEN s.v < c.lo_cut THEN c.lo_cut
                         WHEN s.v > c.hi_cut THEN c.hi_cut
                         ELSE s.v END) * 1000000 // COUNT(*) AS BIGINT)
               AS winsor_mean_micro
    FROM sized s JOIN cuts c ON c.source = s.source
    GROUP BY s.source ORDER BY s.source"""


@check("trimmed_location_by_source", small=True, oracle=_TRIM_ORACLE)
def q_trimmed_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-trimmed and winsorized mean document length per source
    — micro-integer quotients under the deterministic (value, doc_id)
    rank order."""
    return trimmed_location(load(spark, sf_dir, "documents")).orderBy("source")
