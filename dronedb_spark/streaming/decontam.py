"""Streaming eval-decontamination probe — the continuous runtime of
the ``text/decontamreport.py`` n-gram channel (the family's
stream-static discipline, the ``streaming/containment.py`` shape):
arriving documents explode to 4-gram occurrences per microbatch
(stateless narrow work) and grams present in the BROADCAST bench-gram
relation emit (doc_id, set_id, gram) hit triples — eval sets are tiny
and static, so the join is a per-trigger broadcast hash join with
ZERO streaming state; the per-set distinct-item attribution is
corpus-level arithmetic over the triples and runs downstream in the
batch layer, exactly where ``decontam_report`` computes it.

tests/test_stream_decontam.py pins stream triples == batch triples
across arbitrary microbatch splits; the ``stream_decontam_hits_twin``
check gates the batch twin against the occurrence-level DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.decontam import _grams
from dronedb_spark.text.tokens import tokens


def stream_decontam_probe(
    batch_stream: DataFrame, bench_grams: DataFrame
) -> DataFrame:
    """(doc_id, set_id, gram): every (arriving doc, eval set) gram-
    occurrence hit — the raw evidence rows of the n-gram channel, one
    broadcast stream-static join per trigger."""
    probe = batch_stream.select(
        "doc_id",
        F.explode(_grams(tokens("text"))).alias("gram"),
    )
    return probe.join(F.broadcast(bench_grams), "gram").select(
        "doc_id", "set_id", "gram"
    )


@check(
    "stream_decontam_hits_twin",
    small=True,
    oracle="""
        WITH bench AS (
            SELECT doc_id, CAST((doc_id // 17) % 3 AS INT) AS set_id, text
            FROM documents WHERE doc_id % 17 = 3),
        btok AS (SELECT set_id, string_split(text, ' ') AS toks FROM bench),
        bgr AS (
            SELECT DISTINCT set_id, array_to_string(toks[i:i+3], ' ') AS gram
            FROM btok, UNNEST(range(1, len(toks) - 2)) AS u(i)),
        ctok AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        cgr AS (
            SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
            FROM ctok, UNNEST(range(1, len(toks) - 2)) AS u(i)),
        hits AS (
            SELECT c.doc_id, b.set_id
            FROM cgr c JOIN bgr b USING (gram))
        SELECT set_id,
               CAST(COUNT(*) AS BIGINT) AS n_hits,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM hits GROUP BY set_id ORDER BY set_id""",
)
def q_stream_decontam_hits_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probe's batch twin (identical code path — the probe is
    mode-agnostic DataFrame algebra): per eval set, the occurrence-
    level hit count and the distinct arriving documents flagged."""
    from dronedb_spark.text.decontamreport import eval_members

    docs = load(spark, sf_dir, "documents")
    bench = eval_members(docs)
    bgrams = bench.select(
        "set_id",
        F.explode(_grams(tokens("text"))).alias("gram"),
    ).distinct()
    from dronedb_spark.tables import spread

    # batch twin only: spread the corpus before the gram explode (the
    # probe itself stays mode-agnostic — a stream arrives pre-split)
    hits = stream_decontam_probe(spread(docs.select("doc_id", "text")), bgrams)
    return (
        hits.groupBy("set_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .orderBy("set_id")
    )
