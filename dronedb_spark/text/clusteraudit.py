"""Near-dup cluster PRECISION audit — the quality gate on the LSH
dedup pipeline itself: banded MinHash glues documents into components
(``text/dedup.py``), and before a pipeline deletes every non-canonical
member it should know which clusters are held together by WEAK edges
(banding false positives chaining unrelated docs into one component —
the classic LSH transitive-closure failure).

Per cluster this op reports the exact edge-level evidence: member
count, LSH edge count, the minimum and total true n-gram Jaccard over
the cluster's own edges (exact micros — |∩|·10⁶ DIV |∪|, integer end
to end), and how many edges fall below the 50% floor.  A cluster whose
``min_jacc_micro`` is low survives on chained weak links and deserves
review before deletion; density (n_edges vs the clique count) shows
whether the component is a near-clique or a chain.

Scale shape: everything runs on the CANDIDATE graph, never the corpus
square — the pair set comes from the banded join, true Jaccard from
the ``jaccard_pairs`` set-valued equi-join, components from the
pointer-doubling label propagation; this audit adds one broadcast-able
(pair → cluster) join and one cluster-grain aggregate on top.

Beyond the reference (no text pipeline there); the audited operators:
``dedup_neardup_pairs``, ``dedup_cluster_ids``, ``dedup_jaccard_pairs``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import barrier_persist, load
from dronedb_spark.text.dedup import (
    _DUCK_SHINGLES,
    _DUCK_SIG_BANDS,
    _DUCK_WORDS,
    _shingle_df,
    connected_components,
    neardup_pairs,
)

WEAK_MICRO = 500_000


def cluster_precision_audit(
    docs: DataFrame, weak_micro: int = WEAK_MICRO
) -> DataFrame:
    """(cluster_id, n_members, n_edges, min_jacc_micro, sum_jacc_micro,
    n_weak_edges): per LSH component, the exact edge-Jaccard evidence
    for the keep/delete decision."""
    # the candidate graph feeds BOTH the Jaccard scoring and the
    # component labels — one persist stops the banded-signature pipeline
    # (shingle + 6 minhashes over the corpus) re-executing per branch
    pairs = barrier_persist(neardup_pairs(docs))
    sets = (
        _shingle_df(docs)
        .select("doc_id", F.explode("sh").alias("s"))
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("ss"))
    )
    j = (
        pairs.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(size(array_intersect(ss_a, ss_b)) AS BIGINT) * 1000000"
                " DIV (size(ss_a) + size(ss_b)"
                "      - size(array_intersect(ss_a, ss_b)))"
            ).alias("jacc_micro"),
        )
    )
    labels = connected_components(pairs)
    clusters = barrier_persist(
        labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
        )
    )
    members = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    edges = (
        j.join(
            clusters.select(
                F.col("doc_id").alias("doc_a"),
                F.col("cluster_id"),
            ),
            "doc_a",
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.min("jacc_micro").cast("bigint").alias("min_jacc_micro"),
            F.sum("jacc_micro").cast("bigint").alias("sum_jacc_micro"),
            F.sum((F.col("jacc_micro") < weak_micro).cast("bigint")).alias(
                "n_weak_edges"
            ),
        )
    )
    return members.join(edges, "cluster_id")


@check(
    "cluster_precision_audit",
    small=True,
    oracle=f"""
        WITH RECURSIVE sig AS ({_DUCK_SIG_BANDS}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig a JOIN sig b
              ON (a.band0 = b.band0 OR a.band1 = b.band1) AND a.doc_id < b.doc_id),
        sym AS (SELECT doc_a AS node, doc_b AS peer FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(node, label) AS (
            SELECT node, node FROM (SELECT DISTINCT node FROM sym) s
            UNION
            SELECT s.node, r.label FROM sym s JOIN reach r ON r.node = s.peer),
        clusters AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM reach GROUP BY node),
        sh AS (SELECT DISTINCT doc_id, unnest(sh) AS s
               FROM (SELECT doc_id, {_DUCK_SHINGLES} AS sh
                     FROM ({_DUCK_WORDS}) words) t),
        sizes AS (SELECT doc_id, COUNT(1) AS n FROM sh GROUP BY doc_id),
        jacc AS (
            SELECT p.doc_a, p.doc_b,
                   CAST(COUNT(sb.s) * 1000000
                        // (za.n + zb.n - COUNT(sb.s)) AS BIGINT) AS jacc_micro
            FROM pairs p
            JOIN sizes za ON za.doc_id = p.doc_a
            JOIN sizes zb ON zb.doc_id = p.doc_b
            LEFT JOIN sh sa ON sa.doc_id = p.doc_a
            LEFT JOIN sh sb ON sb.doc_id = p.doc_b AND sb.s = sa.s
            GROUP BY p.doc_a, p.doc_b, za.n, zb.n),
        members AS (
            SELECT cluster_id, CAST(COUNT(1) AS BIGINT) AS n_members
            FROM clusters GROUP BY cluster_id),
        edges AS (
            SELECT c.cluster_id,
                   CAST(COUNT(1) AS BIGINT) AS n_edges,
                   CAST(MIN(j.jacc_micro) AS BIGINT) AS min_jacc_micro,
                   CAST(SUM(j.jacc_micro) AS BIGINT) AS sum_jacc_micro,
                   CAST(SUM(CASE WHEN j.jacc_micro < {WEAK_MICRO}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_weak_edges
            FROM jacc j JOIN clusters c ON c.doc_id = j.doc_a
            GROUP BY c.cluster_id)
        SELECT m.cluster_id, m.n_members, e.n_edges, e.min_jacc_micro,
               e.sum_jacc_micro, e.n_weak_edges
        FROM members m JOIN edges e ON e.cluster_id = m.cluster_id
        ORDER BY m.cluster_id""",
)
def q_cluster_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster: the exact edge-Jaccard evidence (weakest
    link, weak-edge count, density inputs) behind the delete decision."""
    return cluster_precision_audit(load(spark, sf_dir, "documents")).orderBy(
        "cluster_id"
    )


# ------------------------------------------------- survivor selection --


def cluster_survivors(docs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, keep): the survivorship policy after
    clustering — per near-dup component exactly ONE canonical document
    survives, chosen by the lexicographic struct MAX of
    (n_chars, −doc_id, doc_id): the longest member wins (the
    keep-the-most-content curation default), ties to the smallest id.
    Singleton docs (no LSH pair) keep themselves.  One struct aggregate
    per cluster — no window over the corpus, and no magic-constant
    string packing (the lpad variant this replaced silently inverted
    the ordering for n_chars ≥ 10¹² or doc_id > 999 999 999 999 —
    struct comparison is domain-safe for the full bigint range)."""
    pairs = barrier_persist(neardup_pairs(docs))
    labels = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    tagged = docs.select("doc_id", "n_chars").join(
        labels, "doc_id", "left"
    ).select(
        "doc_id",
        "n_chars",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    winners = tagged.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("n_chars").alias("n"),
                (-F.col("doc_id")).alias("nid"),
                F.col("doc_id").alias("id"),
            )
        )["id"].alias("win_id")
    )
    return (
        tagged.join(winners, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("win_id")).alias("keep"),
        )
    )


def survivor_rollup(docs: DataFrame) -> DataFrame:
    """One row (n_docs, n_clusters, n_kept, n_removed, kept_id_sum,
    removed_chars): the rewrite accounting a dedup job reports."""
    sv = cluster_survivors(docs).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    return sv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("bigint")).alias("n_removed"),
        F.sum(F.when(F.col("keep"), F.col("doc_id"))).cast("bigint").alias(
            "kept_id_sum"
        ),
        F.coalesce(
            F.sum(F.when(~F.col("keep"), F.col("n_chars"))), F.lit(0)
        ).cast("bigint").alias("removed_chars"),
    )


@check(
    "cluster_survivor_rollup",
    small=True,
    oracle=f"""
        WITH RECURSIVE sig AS ({_DUCK_SIG_BANDS}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig a JOIN sig b
              ON (a.band0 = b.band0 OR a.band1 = b.band1) AND a.doc_id < b.doc_id),
        sym AS (SELECT doc_a AS node, doc_b AS peer FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(node, label) AS (
            SELECT node, node FROM (SELECT DISTINCT node FROM sym) s
            UNION
            SELECT s.node, r.label FROM sym s JOIN reach r ON r.node = s.peer),
        labels AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM reach GROUP BY node),
        tagged AS (
            SELECT d.doc_id, d.n_chars,
                   COALESCE(l.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
        winners AS (
            SELECT cluster_id,
                   (MAX(struct_pack(n := n_chars, nid := -doc_id,
                                    id := doc_id))).id AS win_id
            FROM tagged GROUP BY cluster_id),
        sv AS (
            SELECT t.doc_id, t.cluster_id, t.n_chars,
                   t.doc_id = w.win_id AS keep
            FROM tagged t JOIN winners w ON w.cluster_id = t.cluster_id)
        SELECT CAST(COUNT(1) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
               CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
               CAST(SUM(CASE WHEN keep THEN doc_id END) AS BIGINT) AS kept_id_sum,
               CAST(COALESCE(SUM(CASE WHEN NOT keep THEN n_chars END), 0)
                    AS BIGINT) AS removed_chars
        FROM sv""",
)
def q_cluster_survivor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup rewrite accounting: one canonical survivor per LSH
    component (longest member, ties low id), singletons self-kept —
    exact member and char-mass bookkeeping."""
    return survivor_rollup(load(spark, sf_dir, "documents"))
