"""Composed eval-decontamination report — the "can I trust this
benchmark number" table: one operator chaining the pipeline's three
independent leakage detectors into a per-EVAL-SET contamination rollup
with per-channel attribution:

- **n-gram overlap** (``text/decontam.py`` — PaLM/GPT-3 style): a
  training item shares a verbatim 4-gram with an eval member;
- **excerpt containment** (``text/containment.py`` — Broder 1997
  asymmetric containment): ≥80% of a training item's df-capped
  shingles appear inside one eval member (quotes/fragments that the
  symmetric Jaccard channel misses);
- **embedding cosine** (``vectors/evalfilter.py`` — SemDeDup-style):
  the training item's vector lands within cos ≥ 0.99 of an eval
  member (paraphrase leakage that shares no verbatim n-gram).

Eval membership is one rule across all channels: item ``id % 17 == 3``
is an eval item, assigned to eval set ``(id DIV 17) % 3`` — and the
``documents``/``embeddings`` tables share the id domain (one embedding
per document at the gate SF), so the any-channel union is a real
per-item dedup, not an apples-to-oranges count.  The training corpus
keeps the eval items themselves plus a planted excerpt of each (the
containment fixture's middle slice, id-offset 10⁹): deterministic
ground truth every channel must find — a real pipeline reads nonzero
``n_any`` as leakage; here the plants ARE the leakage.

Per eval set the report emits how many eval members it has and how
many DISTINCT training items each channel flags against it, plus the
channel-union count — the attribution a benchmark owner reads to
decide whether a score is trustworthy and WHICH detector family the
leakage enters through.

Scale shape (100 TB): eval sets are tiny by construction, so the
n-gram channel is a broadcast semi-join (corpus never shuffles before
its per-item distinct), the cosine channel is ONE Arrow pass with the
per-set eval matrices riding in the kernel closure (the
``evalfilter.py`` discipline — never a corpus×eval join), and the
containment channel inherits the df-capped inverted-index plan (pair
fan-out ≤ max_df² per shingle, never corpus²).  The rollup itself is
three set-grain aggregates over flag sets already collapsed to
(item, set) — nothing downstream of the detectors is data-sized.

Beyond the reference (no training-data surface there); composed
operators: ``decontam_overlap``, ``containment_subset_pairs``,
``embedding_eval_decontam``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.containment import (
    MAX_DF,
    MIN_CONTAIN_MICRO,
    containment_pairs,
)
from dronedb_spark.text.decontam import _grams
from dronedb_spark.text.tokens import tokens

EVAL_EVERY = 17
EVAL_OFFSET = 3
N_SETS = 3
TAU_MICRO = 990_000
EXCERPT_OFFSET = 1_000_000_000


def _set_col(id_col: str) -> F.Column:
    return F.expr(f"({id_col} DIV {EVAL_EVERY}) % {N_SETS}").cast("int")


def eval_members(docs: DataFrame) -> DataFrame:
    """(doc_id, set_id, text): the eval items with their set labels."""
    return docs.filter(
        F.col("doc_id") % EVAL_EVERY == EVAL_OFFSET
    ).select("doc_id", _set_col("doc_id").alias("set_id"), "text")


def training_corpus(docs: DataFrame) -> DataFrame:
    """The corpus under audit: every document plus one planted excerpt
    of each eval item (its middle slice, id-offset 10⁹) — the
    deterministic leakage the report must attribute."""
    excerpts = docs.filter(
        F.col("doc_id") % EVAL_EVERY == EVAL_OFFSET
    ).select(
        (F.col("doc_id") + EXCERPT_OFFSET).alias("doc_id"),
        F.expr("substr(text, 30, 160)").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(excerpts)


def corpus_toks(corpus: DataFrame) -> DataFrame:
    """(doc_id, toks): ONE materialized tokenize of the training corpus
    (r14, VERDICT r13 #5) — the n-gram channel's 4-gram explode and the
    containment channel's 3-gram shingle pass both derive from it, so
    the corpus text is scanned and split once per report instead of
    once per channel."""
    from dronedb_spark.tables import barrier_persist, spread

    return barrier_persist(spread(corpus).select("doc_id", tokens("text").alias("toks")))


def ngram_flags(
    corpus: DataFrame, bench: DataFrame, toks_df: DataFrame | None = None
) -> DataFrame:
    """(item_id, set_id): training items sharing a verbatim 4-gram with
    any member of the set — broadcast bench-gram semi-join."""
    bgrams = bench.select(
        "set_id",
        F.explode(_grams(tokens("text"))).alias("gram"),
    ).distinct()
    from dronedb_spark.tables import spread

    if toks_df is not None:
        cgrams = toks_df.select(
            "doc_id", F.explode(_grams(F.col("toks"))).alias("gram")
        )
    else:
        cgrams = spread(corpus).select(
            "doc_id", F.explode(_grams(tokens("text"))).alias("gram")
        )
    return (
        cgrams.join(F.broadcast(bgrams), "gram")
        .select(F.col("doc_id").alias("item_id"), "set_id")
        .distinct()
    )


def containment_flags(
    corpus: DataFrame, bench: DataFrame, toks_df: DataFrame | None = None
) -> DataFrame:
    """(item_id, set_id): training items ≥80%-contained in an eval
    member — the directed df-capped containment pairs restricted to
    eval destinations.

    r13 optimization (guide §3.2, reduce before the shuffle): eval
    membership is a pure id predicate (``id % 17 == 3`` on an
    un-offset id), so the restriction moves INSIDE the posting-list
    pair generation via ``dst_pred`` — only eval-destination pairs are
    ever emitted — and the set label derives arithmetically from the
    dst id, replacing the post-hoc bench join outright.  ``bench`` is
    kept in the signature for call-site symmetry with the other
    channels; its membership rule is the predicate below."""
    del bench  # membership is the id predicate; see docstring
    pairs = containment_pairs(
        corpus,
        max_df=MAX_DF,
        min_contain_micro=MIN_CONTAIN_MICRO,
        dst_pred=(
            f"y % {EVAL_EVERY} = {EVAL_OFFSET} AND y < {EXCERPT_OFFSET}"
        ),
        toks_df=toks_df,
    )
    return (
        pairs.select(
            F.col("src_id").alias("item_id"),
            _set_col("dst_id").alias("set_id"),
        )
        .distinct()
    )


def cosine_flags(
    vectors: DataFrame, eval_vecs: DataFrame, tau_micro: int = TAU_MICRO
) -> DataFrame:
    """(item_id, set_id): corpus vectors within cos ≥ tau of ANY eval
    vector of the set — ONE Arrow pass over the corpus with the per-set
    eval matrices in the kernel closure (model-state-sized: eval sets
    are small by construction).  Per-pair micro-cos rounds BEFORE the
    threshold compare, matching the oracle exactly (the
    ``evalfilter.py`` discipline, dimension-sequential accumulation)."""
    import numpy as np
    import pandas as pd

    rows = eval_vecs.select("set_id", "embedding").collect()
    sets = sorted({r["set_id"] for r in rows})
    mats: dict[int, np.ndarray] = {}
    norms: dict[int, np.ndarray] = {}
    for s in sets:
        ev = np.stack(
            [
                np.asarray(r["embedding"], dtype=np.float64)
                for r in rows
                if r["set_id"] == s
            ]
        )
        ss = ev[:, 0] * ev[:, 0]
        for i in range(1, ev.shape[1]):
            ss = ss + ev[:, i] * ev[:, i]
        mats[s] = ev
        norms[s] = np.sqrt(ss)

    def kernel(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            cv = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            ss_c = cv[:, 0] * cv[:, 0]
            for i in range(1, cv.shape[1]):
                ss_c = ss_c + cv[:, i] * cv[:, i]
            c_norm = np.sqrt(ss_c)
            ids = pdf["vec_id"].values
            out_ids, out_sets = [], []
            for s in sets:
                ev, e_norm = mats[s], norms[s]
                dot = cv[:, 0][:, None] * ev[:, 0][None, :]
                for i in range(1, cv.shape[1]):
                    dot = dot + cv[:, i][:, None] * ev[:, i][None, :]
                cos = dot / (c_norm[:, None] * e_norm[None, :])
                micro = np.floor(cos * 1000000.0 + 0.5).astype(np.int64)
                hit = (micro >= tau_micro).any(axis=1)
                out_ids.extend(ids[hit])
                out_sets.extend([s] * int(hit.sum()))
            yield pd.DataFrame(
                {
                    "item_id": pd.Series(out_ids, dtype="int64"),
                    "set_id": pd.Series(out_sets, dtype="int32"),
                }
            )

    from dronedb_spark.tables import spread

    # spread before the Arrow kernel: a single-file scan would hand the
    # whole matrix product to one task (guide §4 — pass only the needed
    # columns, at full parallelism)
    return spread(vectors.select("vec_id", "embedding")).mapInPandas(
        kernel, schema="item_id bigint, set_id int"
    )


def decontam_report(docs: DataFrame, vectors: DataFrame) -> DataFrame:
    """(set_id, n_eval_docs, n_ngram, n_contain, n_cosine, n_any): the
    per-eval-set contamination rollup with per-channel attribution."""
    bench = eval_members(docs)
    corpus = training_corpus(docs)
    ev = vectors.filter(
        F.col("vec_id") % EVAL_EVERY == EVAL_OFFSET
    ).select(_set_col("vec_id").alias("set_id"), "embedding")

    # One pass per channel (r13 optimization): the old shape aggregated
    # each flag relation twice — once for its per-channel count, once
    # inside the union for n_any — and Catalyst re-ran every channel's
    # corpus-sized lineage per reference.  Tagging the union and rolling
    # all four distinct-counts up in ONE aggregation computes each
    # channel exactly once.
    toks = corpus_toks(corpus)
    tagged = (
        ngram_flags(corpus, bench, toks_df=toks).withColumn("ch", F.lit(1))
        .unionByName(
            containment_flags(corpus, bench, toks_df=toks).withColumn(
                "ch", F.lit(2)
            )
        )
        .unionByName(cosine_flags(vectors, ev).withColumn("ch", F.lit(4)))
    )
    rollup = tagged.groupBy("set_id").agg(
        F.countDistinct(
            F.when(F.col("ch") == 1, F.col("item_id"))
        ).cast("bigint").alias("n_ngram"),
        F.countDistinct(
            F.when(F.col("ch") == 2, F.col("item_id"))
        ).cast("bigint").alias("n_contain"),
        F.countDistinct(
            F.when(F.col("ch") == 4, F.col("item_id"))
        ).cast("bigint").alias("n_cosine"),
        F.countDistinct("item_id").cast("bigint").alias("n_any"),
    )
    report = bench.groupBy("set_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_docs")
    ).join(F.broadcast(rollup), "set_id", "left")  # set-grain: ≤ N_SETS rows
    return report.select(
        "set_id",
        "n_eval_docs",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
            for c in ("n_ngram", "n_contain", "n_cosine", "n_any")
        ],
    )


def removal_plan(docs: DataFrame, vectors: DataFrame) -> DataFrame:
    """(n_corpus, n_flagged, n_kept, n_only_ngram, n_only_contain,
    n_only_cosine, n_multi, chars_removed, chars_kept): the rewrite a
    decontamination job executes after reading the report — drop every
    training item any channel flags against any eval set, with
    per-channel-exclusive attribution (which detector family would
    have been lost without) and exact character-mass accounting.

    Channel membership packs as a bitmask (ngram=1, contain=2,
    cosine=4) summed over distinct (item, channel) rows — item grain,
    model-state-sized; the corpus joins once for the char masses."""
    bench = eval_members(docs)
    corpus = training_corpus(docs)
    ev = vectors.filter(
        F.col("vec_id") % EVAL_EVERY == EVAL_OFFSET
    ).select(_set_col("vec_id").alias("set_id"), "embedding")
    toks = corpus_toks(corpus)
    tagged = (
        ngram_flags(corpus, bench, toks_df=toks)
        .select("item_id").distinct().withColumn("ch", F.lit(1))
        .unionByName(
            containment_flags(corpus, bench, toks_df=toks)
            .select("item_id").distinct().withColumn("ch", F.lit(2))
        )
        .unionByName(
            cosine_flags(vectors, ev)
            .select("item_id").distinct().withColumn("ch", F.lit(4))
        )
    )
    mask = tagged.groupBy("item_id").agg(F.sum("ch").alias("m"))
    sized = corpus.select(
        F.col("doc_id").alias("item_id"),
        F.length("text").cast("bigint").alias("n_len"),
    ).join(mask, "item_id", "left")
    return sized.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus"),
        F.sum((F.col("m").isNotNull()).cast("bigint")).alias("n_flagged"),
        F.sum((F.col("m").isNull()).cast("bigint")).alias("n_kept"),
        F.sum((F.col("m") == 1).cast("bigint")).alias("n_only_ngram"),
        F.sum((F.col("m") == 2).cast("bigint")).alias("n_only_contain"),
        F.sum((F.col("m") == 4).cast("bigint")).alias("n_only_cosine"),
        F.sum((F.col("m").isin(3, 5, 6, 7)).cast("bigint")).alias("n_multi"),
        F.coalesce(
            F.sum(F.when(F.col("m").isNotNull(), F.col("n_len"))), F.lit(0)
        ).cast("bigint").alias("chars_removed"),
        F.coalesce(
            F.sum(F.when(F.col("m").isNull(), F.col("n_len"))), F.lit(0)
        ).cast("bigint").alias("chars_kept"),
    )


_CHANNEL_CTES = f"""
        bench AS (
            SELECT doc_id, CAST((doc_id // {EVAL_EVERY}) % {N_SETS} AS INT)
                       AS set_id, text
            FROM documents WHERE doc_id % {EVAL_EVERY} = {EVAL_OFFSET}),
        corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {EXCERPT_OFFSET}, substr(text, 30, 160)
            FROM documents
            WHERE doc_id % {EVAL_EVERY} = {EVAL_OFFSET}),
        ctok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
        btok AS (SELECT set_id, string_split(text, ' ') AS toks FROM bench),
        cgr AS (
            SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
            FROM ctok, UNNEST(range(1, len(toks) - 2)) AS u(i)),
        bgr AS (
            SELECT DISTINCT set_id, array_to_string(toks[i:i+3], ' ') AS gram
            FROM btok, UNNEST(range(1, len(toks) - 2)) AS u(i)),
        ngram_f AS (
            SELECT DISTINCT c.doc_id AS item_id, b.set_id
            FROM cgr c JOIN bgr b USING (gram)),
        sh AS (
            SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                           AS s
                FROM ctok)),
        dfok AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {MAX_DF}),
        kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfok USING (s)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
        cpairs AS (
            SELECT a.doc_id AS src_id, b.doc_id AS dst_id, COUNT(*) AS n_common
            FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id <> b.doc_id
            GROUP BY 1, 2),
        contain_f AS (
            SELECT DISTINCT p.src_id AS item_id, bn.set_id
            FROM cpairs p
            JOIN sizes z ON z.doc_id = p.src_id
            JOIN bench bn ON bn.doc_id = p.dst_id
            WHERE p.n_common * 1000000 // z.n >= {MIN_CONTAIN_MICRO}),
        ev AS (
            SELECT CAST((vec_id // {EVAL_EVERY}) % {N_SETS} AS INT) AS set_id,
                   embedding AS e_emb
            FROM embeddings WHERE vec_id % {EVAL_EVERY} = {EVAL_OFFSET}),
        cos_f AS (
            SELECT DISTINCT c.vec_id AS item_id, ev.set_id
            FROM embeddings c CROSS JOIN ev
            WHERE CAST(ROUND(
                      list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                       CAST(ev.e_emb AS DOUBLE[]))
                      / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])))
                         * sqrt(list_dot_product(CAST(ev.e_emb AS DOUBLE[]),
                                                 CAST(ev.e_emb AS DOUBLE[]))))
                      * 1000000.0) AS BIGINT) >= {TAU_MICRO})"""


@check(
    "decontam_removal_plan",
    small=True,
    oracle=f"""
        WITH {_CHANNEL_CTES},
        tagged AS (
            SELECT DISTINCT item_id, 1 AS ch FROM ngram_f
            UNION ALL SELECT DISTINCT item_id, 2 FROM contain_f
            UNION ALL SELECT DISTINCT item_id, 4 FROM cos_f),
        mask AS (SELECT item_id, SUM(ch) AS m FROM tagged GROUP BY item_id),
        sized AS (
            SELECT c.doc_id AS item_id, CAST(len(c.text) AS BIGINT) AS n_len,
                   k.m
            FROM corpus c LEFT JOIN mask k ON k.item_id = c.doc_id)
        SELECT CAST(COUNT(1) AS BIGINT) AS n_corpus,
               CAST(SUM(CASE WHEN m IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_flagged,
               CAST(SUM(CASE WHEN m IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_only_ngram,
               CAST(SUM(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_only_contain,
               CAST(SUM(CASE WHEN m = 4 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_only_cosine,
               CAST(SUM(CASE WHEN m IN (3, 5, 6, 7) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_multi,
               CAST(COALESCE(SUM(CASE WHEN m IS NOT NULL THEN n_len END), 0)
                    AS BIGINT) AS chars_removed,
               CAST(COALESCE(SUM(CASE WHEN m IS NULL THEN n_len END), 0)
                    AS BIGINT) AS chars_kept
        FROM sized""",
)
def q_decontam_removal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rewrite accounting after the report: every training item any
    channel flags is dropped — counts, channel-exclusive attribution,
    exact char-mass removed/kept."""
    docs = load(spark, sf_dir, "documents")
    vecs = load(spark, sf_dir, "embeddings")
    return removal_plan(docs, vecs)


@check(
    "decontam_channel_report",
    small=True,
    oracle=f"""
        WITH bench AS (
            SELECT doc_id, CAST((doc_id // {EVAL_EVERY}) % {N_SETS} AS INT)
                       AS set_id, text
            FROM documents WHERE doc_id % {EVAL_EVERY} = {EVAL_OFFSET}),
        corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {EXCERPT_OFFSET}, substr(text, 30, 160)
            FROM documents
            WHERE doc_id % {EVAL_EVERY} = {EVAL_OFFSET}),
        ctok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
        btok AS (SELECT set_id, string_split(text, ' ') AS toks FROM bench),
        cgr AS (
            SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
            FROM ctok, UNNEST(range(1, len(toks) - 2)) AS u(i)),
        bgr AS (
            SELECT DISTINCT set_id, array_to_string(toks[i:i+3], ' ') AS gram
            FROM btok, UNNEST(range(1, len(toks) - 2)) AS u(i)),
        ngram_f AS (
            SELECT DISTINCT c.doc_id AS item_id, b.set_id
            FROM cgr c JOIN bgr b USING (gram)),
        sh AS (
            SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                           AS s
                FROM ctok)),
        dfok AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {MAX_DF}),
        kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfok USING (s)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
        cpairs AS (
            SELECT a.doc_id AS src_id, b.doc_id AS dst_id, COUNT(*) AS n_common
            FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id <> b.doc_id
            GROUP BY 1, 2),
        contain_f AS (
            SELECT DISTINCT p.src_id AS item_id, bn.set_id
            FROM cpairs p
            JOIN sizes z ON z.doc_id = p.src_id
            JOIN bench bn ON bn.doc_id = p.dst_id
            WHERE p.n_common * 1000000 // z.n >= {MIN_CONTAIN_MICRO}),
        ev AS (
            SELECT CAST((vec_id // {EVAL_EVERY}) % {N_SETS} AS INT) AS set_id,
                   embedding AS e_emb
            FROM embeddings WHERE vec_id % {EVAL_EVERY} = {EVAL_OFFSET}),
        cos_f AS (
            SELECT DISTINCT c.vec_id AS item_id, ev.set_id
            FROM embeddings c CROSS JOIN ev
            WHERE CAST(ROUND(
                      list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                       CAST(ev.e_emb AS DOUBLE[]))
                      / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])))
                         * sqrt(list_dot_product(CAST(ev.e_emb AS DOUBLE[]),
                                                 CAST(ev.e_emb AS DOUBLE[]))))
                      * 1000000.0) AS BIGINT) >= {TAU_MICRO}),
        all_f AS (
            SELECT * FROM ngram_f
            UNION SELECT * FROM contain_f
            UNION SELECT * FROM cos_f)
        SELECT b.set_id,
               CAST(COUNT(*) AS BIGINT) AS n_eval_docs,
               CAST(COALESCE((SELECT COUNT(DISTINCT item_id) FROM ngram_f f
                              WHERE f.set_id = b.set_id), 0) AS BIGINT)
                   AS n_ngram,
               CAST(COALESCE((SELECT COUNT(DISTINCT item_id) FROM contain_f f
                              WHERE f.set_id = b.set_id), 0) AS BIGINT)
                   AS n_contain,
               CAST(COALESCE((SELECT COUNT(DISTINCT item_id) FROM cos_f f
                              WHERE f.set_id = b.set_id), 0) AS BIGINT)
                   AS n_cosine,
               CAST(COALESCE((SELECT COUNT(DISTINCT item_id) FROM all_f f
                              WHERE f.set_id = b.set_id), 0) AS BIGINT)
                   AS n_any
        FROM bench b
        GROUP BY b.set_id
        ORDER BY b.set_id""",
)
def q_decontam_channel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per eval set: member count and the distinct training items each
    leakage channel (verbatim 4-gram, ≥80% containment, cos ≥ 0.99)
    flags against it, plus the channel union — the planted excerpts and
    the in-corpus eval items themselves are the deterministic truth."""
    docs = load(spark, sf_dir, "documents")
    vecs = load(spark, sf_dir, "embeddings")
    return decontam_report(docs, vecs).orderBy("set_id")
