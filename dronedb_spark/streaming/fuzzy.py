"""Streaming fuzzy-match probe — the entity-resolution family's
arrival-time runtime (the ``streaming/decontam.py`` stream-static
shape): noisy records arrive as a stream, compute their blocking key
per microbatch (stateless narrow work), and join the STATIC persisted
record table on the block key with an in-row Levenshtein verify — one
stream-static equi-join per trigger, ZERO streaming state.  Probe-grain
aggregation (best match per probe) is corpus arithmetic over the match
triples and runs downstream in the batch layer, exactly where
``fuzzy_blocked_matches`` computes it.

tests/test_r13_session.py pins stream triples == batch triples across
arbitrary microbatch splits; the ``stream_fuzzy_probe_twin`` check
gates the batch twin against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.fuzzy import (
    MAX_DIST,
    _MATCH_ORACLE,
    entity_records,
    fuzzy_match_triples,
    perturbed_probes,
)


def stream_fuzzy_probe(
    probe_stream: DataFrame, records: DataFrame, max_dist: int = MAX_DIST
) -> DataFrame:
    """(probe_id, rec_id, dist): match triples for arriving probes —
    the same mode-agnostic pair body as the batch path."""
    return fuzzy_match_triples(records, probe_stream, max_dist=max_dist)


_TWIN_ORACLE = _MATCH_ORACLE.replace(
    """SELECT probe_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(dist) AS BIGINT) AS best_dist,
           CAST(MIN(dist * 10000000 + rec_id) % 10000000 AS BIGINT) AS best_rec_id
    FROM cands GROUP BY probe_id ORDER BY probe_id""",
    """SELECT CAST(dist AS BIGINT) AS dist,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT probe_id) AS BIGINT) AS n_probes
    FROM cands GROUP BY dist ORDER BY dist""",
)
assert _TWIN_ORACLE != _MATCH_ORACLE  # the replace must have matched


@check("stream_fuzzy_probe_twin", small=True, oracle=_TWIN_ORACLE)
def q_stream_fuzzy_probe_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probe's batch twin (identical code path): the edit-distance
    histogram of all match triples — pair count and distinct probes per
    distance."""
    docs = load(spark, sf_dir, "documents")
    triples = stream_fuzzy_probe(perturbed_probes(docs), entity_records(docs))
    return (
        triples.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("probe_id").cast("bigint").alias("n_probes"),
        )
        .select(F.col("dist").cast("bigint").alias("dist"), "n_pairs", "n_probes")
        .orderBy("dist")
    )
