"""Unicode text normalization — the cleanup stage every web-corpus
recipe runs before tokenization (CCNet, Wenzek et al. 2020; the
ftfy-style discipline): NFKC compatibility normalization (ligatures,
fullwidth forms, superscripts fold to their plain equivalents;
decomposed accents compose, so visually-identical strings hash
identically for dedup), zero-width/format characters (Cf) DELETED,
every other separator (Zs) and control (Cc) mapped to a plain space,
whitespace collapsed.

Why before dedup: ``café`` composed and ``café`` decomposed are
different byte strings — without normalization the exact-dedup hash,
the MinHash shingles, and the substring anchors all treat them as
different content, so normalization strictly improves every
downstream text operator.

Scale shape: one Arrow ``mapInPandas`` pass, embarrassingly parallel,
zero shuffle — the kernel is ``unicodedata`` table lookups over
already-local strings (no JVM equivalent exists; this is the
legitimate Python-kernel case).  ``changed`` is computed in-kernel so
the common all-ASCII fast path is visible downstream (a daily ingest
can route unchanged rows past a re-hash).

No reference counterpart; cites the public CCNet/ftfy recipes.
"""

from __future__ import annotations

import unicodedata
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dronedb_spark.suite import check
from dronedb_spark.tables import load


def normalize_str(s: str) -> str:
    """NFKC → delete Cf → Zs/Cc to space → collapse runs."""
    s = unicodedata.normalize("NFKC", s)
    out = []
    for c in s:
        cat = unicodedata.category(c)
        if cat == "Cf":
            continue  # zero-width joiners/marks vanish, never split words
        out.append(" " if cat in ("Zs", "Cc") else c)
    return " ".join("".join(out).split())


_NORM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text_norm", T.StringType()),
        T.StructField("changed", T.BooleanType()),
    ]
)


def normalize_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, text_norm, changed) — one Arrow pass over (doc_id,
    text)."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            norm = [normalize_str(t) for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "text_norm": norm,
                    "changed": [n != t for n, t in zip(norm, pdf["text"])],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(kernel, schema=_NORM_SCHEMA)


# -------------------------------------------------------------- checks --

# Planted inputs exercising each rule; expected outputs are the fixed
# points pinned against ``unicodedata`` by tests/test_normalize.py.
_CASES: tuple[tuple[str, str], ...] = (
    ("café résumé", "café résumé"),
    ("café resumé", "café resumé"),  # composes
    ("ﬁle ﬂow", "file flow"),  # ligatures
    ("ＨＥＬＬＯ ｗｏｒｌｄ", "HELLO world"),
    ("x y z", "x y z"),  # exotic separators
    ("a​b‍c", "abc"),  # zero-width DELETED, words intact
    ("num ⅔ and ²", "num 2⁄3 and 2"),  # compat digits
    ("ctrl tab\there", "ctrl tab here"),  # controls to space
    ("plain ascii stays", "plain ascii stays"),
    ("  doubled   spaces\t\tcollapse  ", "doubled spaces collapse"),
)


@check(
    "unicode_normalize_cases",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(
        f"({i}, '{out}', {str(inp != out).upper()})"
        for i, (inp, out) in enumerate(_CASES)
    )
    + ") AS t(doc_id, text_norm, changed) ORDER BY doc_id",
)
def q_unicode_normalize_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every normalization rule exercised on planted rows — NFKC
    folding, composition, Cf deletion, separator/control spacing,
    collapse — output strings value-checked verbatim."""
    rows = [(i, inp) for i, (inp, _) in enumerate(_CASES)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return normalize_documents(docs).orderBy("doc_id")


@check(
    "unicode_normalize_corpus",
    small=True,
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(0 AS BIGINT) AS n_changed,
               CAST(SUM(length(text)) AS BIGINT) AS total_chars
        FROM documents""",
)
def q_unicode_normalize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity on already-clean text: the fixture corpus is plain
    single-spaced ASCII, so normalization must change NOTHING — the
    law that makes it safe to prepend to every existing pipeline."""
    docs = load(spark, sf_dir, "documents")
    n = normalize_documents(docs)
    return n.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("changed").cast("bigint")).cast("bigint").alias("n_changed"),
        F.sum(F.length("text_norm")).cast("bigint").alias("total_chars"),
    )
