"""Gopher quality rules — the document-level heuristic gate of Rae et
al. 2021 ("Scaling Language Models: ... Gopher", Appendix A), the
baseline filter set most later corpora (MassiveText, RefinedWeb,
FineWeb) start from.  Each rule is a pure column expression over the
token array — one narrow projection, no shuffle, whole-stage codegen —
so the gate costs one pass at any corpus size.

Rules (document KEPT iff all hold), integerized so both engines agree
exactly (counts and integer-scaled thresholds, never float ratios):

  * R1 word count      — n_words in [MIN_WORDS, MAX_WORDS];
  * R2 mean word len   — total chars-in-words / n_words in [3, 10]
                         (compared as total between 3·n and 10·n);
  * R3 symbol ratio    — '#' + '...' occurrences ≤ 10% of words
                         (10·symbols ≤ n_words);
  * R4 alpha words     — ≥ 80% of words contain an alphabetic char
                         (5·alpha_words ≥ 4·n_words);
  * R5 stop words      — at least 2 distinct stop-list words present
                         (list is a language profile, see STOP_WORDS).

The fixture corpus is synthetic prose, so some rules never fire on it;
the driver check therefore reports the PER-RULE pass/fail counts plus
the final gate tally — every counter is value-checked, firing or not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

MIN_WORDS, MAX_WORDS = 50, 100000
# Gopher's rule is "≥ 2 of a fixed stop-word list" — the list is a
# language profile.  The fixture corpus is synthetic English-like
# prose over a 31-token vocabulary, so the profile here keeps the two
# function words that vocabulary carries plus three standard ones; a
# real English run swaps in the published list unchanged.
STOP_WORDS = ("the", "a", "of", "and", "to")


def _occ(col: Column, needle: str) -> Column:
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("bigint")


def gopher_quality_flags(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, r1..r5 as 0/1 ints, keep) — the Gopher gate,
    each rule exposed so downstream analysis can attribute drops."""
    toks = tokens("text")
    per_doc = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        (F.length("text") - F.size(toks) + 1).cast("bigint").alias("word_chars"),
        (_occ(F.col("text"), "#") + _occ(F.col("text"), "...")).alias("symbols"),
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
        .cast("bigint")
        .alias("alpha_words"),
        F.size(
            F.array_intersect(
                F.array_distinct(toks),
                F.array(*[F.lit(s) for s in STOP_WORDS]),
            )
        )
        .cast("bigint")
        .alias("stop_distinct"),
    )
    r1 = (F.col("n_words") >= MIN_WORDS) & (F.col("n_words") <= MAX_WORDS)
    r2 = (F.col("word_chars") >= 3 * F.col("n_words")) & (
        F.col("word_chars") <= 10 * F.col("n_words")
    )
    r3 = 10 * F.col("symbols") <= F.col("n_words")
    r4 = 5 * F.col("alpha_words") >= 4 * F.col("n_words")
    r5 = F.col("stop_distinct") >= 2
    flags = per_doc.select(
        "doc_id",
        "n_words",
        r1.cast("int").alias("r1_word_count"),
        r2.cast("int").alias("r2_mean_word_len"),
        r3.cast("int").alias("r3_symbol_ratio"),
        r4.cast("int").alias("r4_alpha_words"),
        r5.cast("int").alias("r5_stop_words"),
    )
    keep = (
        (F.col("r1_word_count") == 1)
        & (F.col("r2_mean_word_len") == 1)
        & (F.col("r3_symbol_ratio") == 1)
        & (F.col("r4_alpha_words") == 1)
        & (F.col("r5_stop_words") == 1)
    )
    return flags.withColumn("keep", keep.cast("int"))


# word_chars: length minus the (n_words - 1) separating spaces — exact
# for the corpus's single-space tokenization.
_GOPHER_SQL = f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(length(text) - len(string_split(text, ' ')) + 1 AS BIGINT)
               AS word_chars,
           CAST((length(text) - length(replace(text, '#', ''))) / 1
                + (length(text) - length(replace(text, '...', ''))) / 3
                AS BIGINT) AS symbols,
           CAST(len(list_filter(string_split(text, ' '),
                                w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
               AS alpha_words,
           CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                   ['the', 'a', 'of', 'and', 'to'])) AS BIGINT)
               AS stop_distinct
    FROM documents
"""


@check(
    "gopher_quality_flags",
    oracle=f"""
        WITH sig AS ({_GOPHER_SQL}),
        flags AS (
            SELECT doc_id, n_words,
                   CASE WHEN n_words >= {MIN_WORDS} AND n_words <= {MAX_WORDS}
                        THEN 1 ELSE 0 END AS r1_word_count,
                   CASE WHEN word_chars >= 3 * n_words
                             AND word_chars <= 10 * n_words
                        THEN 1 ELSE 0 END AS r2_mean_word_len,
                   CASE WHEN 10 * symbols <= n_words THEN 1 ELSE 0 END
                       AS r3_symbol_ratio,
                   CASE WHEN 5 * alpha_words >= 4 * n_words THEN 1 ELSE 0 END
                       AS r4_alpha_words,
                   CASE WHEN stop_distinct >= 2 THEN 1 ELSE 0 END
                       AS r5_stop_words
            FROM sig)
        SELECT doc_id, n_words, r1_word_count, r2_mean_word_len,
               r3_symbol_ratio, r4_alpha_words, r5_stop_words,
               CASE WHEN r1_word_count + r2_mean_word_len + r3_symbol_ratio
                         + r4_alpha_words + r5_stop_words = 5
                    THEN 1 ELSE 0 END AS keep
        FROM flags ORDER BY doc_id""",
)
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's per-rule Gopher flags and the final gate, value
    checked row by row."""
    return gopher_quality_flags(load(spark, sf_dir, "documents")).orderBy("doc_id")
