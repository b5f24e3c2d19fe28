"""Entity resolution / fuzzy record linkage — blocked candidate
generation with edit-distance verification (the record-linkage family a
training-data pipeline needs to reconcile noisy entity mentions:
author/site/product names arriving with typos, OCR slips, and tracking
suffixes).

Public method, not the reference's: Fellegi-Sunter-style blocking
(Christen, "Data Matching", 2012) with a Levenshtein verify — the same
candidates-then-verify discipline as the ssjoin/LSH families:

  1. BLOCK — every record keys by a cheap deterministic blocking key
     (here the first ``PREFIX_LEN`` characters of the normalized name).
     An edit at position > PREFIX_LEN cannot move a record out of its
     block, so for the bounded-position edit model the block join is
     EXACT (the pytest pins blocked == brute force on the fixture).
  2. VERIFY — candidates within a block pair up and the exact
     Levenshtein distance gates at ``MAX_DIST``.  Both engines ship the
     classic unit-cost Levenshtein (`F.levenshtein` / DuckDB
     `levenshtein`), so the verify is bit-identical.

Scale shape: the block join is ONE equi-join whose fan-out is bounded
by block population, never all-pairs; blocks are alphabet-bounded
(≤ |Σ|^PREFIX_LEN keys), so a skewed block is a df-cap problem exactly
like a hot shingle bucket — ``fuzzy_blocked_matches`` takes a
``max_block`` guard that drops blocks over the cap (reported, not
silent).  The persisted store partitions by block key; a probe batch
reads ONLY its own blocks' directories (partition pruning on a
bounded-cardinality key — the ≤|Σ|² distinct probe blocks are
model-state-sized, same discipline as containment's ≤64 bucket ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load, spread
from dronedb_spark.text.tokens import tokens

PREFIX_LEN = 2
MAX_DIST = 2
# Alphabet bound for the probe-block collect: printable ASCII squared is
# the hard ceiling; the guard trips long before a driver problem.
MAX_PROBE_BLOCKS = 4096


def entity_records(docs: DataFrame) -> DataFrame:
    """(rec_id, name, block): one entity mention per document — the
    name is the document's first three tokens (diverse, deterministic),
    the block its first ``PREFIX_LEN`` characters."""
    name = F.array_join(F.slice(tokens("text"), 1, 3), " ")
    return spread(docs).select(
        F.col("doc_id").alias("rec_id"),
        name.alias("name"),
        F.substring(name, 1, PREFIX_LEN).alias("block"),
    )


def perturbed_probes(docs: DataFrame) -> DataFrame:
    """The noisy arrivals: every 5th record's name with one planted
    edit — a deletion, substitution, or insertion at character position
    ≥ 4, so the 2-char blocking key provably survives the edit (the
    bounded-position edit model the module docstring states)."""
    base = entity_records(docs.filter(F.col("doc_id") % 5 == 0))
    n = F.col("name")
    edited = (
        F.when(
            F.col("rec_id") % 3 == 0,
            F.concat(F.substring(n, 1, 4), F.expr("substring(name, 6)")),
        )
        .when(
            F.col("rec_id") % 3 == 1,
            F.concat(F.substring(n, 1, 3), F.lit("x"), F.expr("substring(name, 5)")),
        )
        .otherwise(
            F.concat(F.substring(n, 1, 6), F.lit("q"), F.expr("substring(name, 8)"))
        )
    )
    return base.select(
        F.col("rec_id").alias("probe_id"),
        edited.alias("pname"),
        F.substring(edited, 1, PREFIX_LEN).alias("block"),
    )


def fuzzy_match_triples(
    records: DataFrame,
    probes: DataFrame,
    max_dist: int = MAX_DIST,
    max_block: int | None = None,
) -> DataFrame:
    """(probe_id, rec_id, dist): the pair-level match evidence — ONE
    equi-join on the blocking key, Levenshtein verify in-row.  Mode-
    agnostic: ``probes`` may be a streaming DataFrame (stateless narrow
    work + one stream-static join per trigger, streaming/fuzzy.py).
    ``max_block`` optionally drops blocks larger than the cap before
    the join (the hot-key guard at corpus scale)."""
    recs = records
    if max_block is not None:
        sizes = records.groupBy("block").agg(F.count(F.lit(1)).alias("_bn"))
        recs = records.join(
            sizes.filter(F.col("_bn") <= max_block).select("block"), "block"
        )
    dist = F.levenshtein("pname", "name")
    return (
        probes.join(recs, "block")
        .select("probe_id", "rec_id", dist.alias("dist"))
        .filter(F.col("dist") <= max_dist)
    )


def fuzzy_blocked_matches(
    records: DataFrame,
    probes: DataFrame,
    max_dist: int = MAX_DIST,
    max_block: int | None = None,
) -> DataFrame:
    """(probe_id, n_matches, best_dist, best_rec_id): every stored
    record within ``max_dist`` edits of each probe, aggregated to the
    probe grain — best_rec_id is the deterministic argmin over
    (distance, rec_id)."""
    return (
        fuzzy_match_triples(records, probes, max_dist, max_block)
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
            F.min("dist").cast("bigint").alias("best_dist"),
            F.min(F.struct("dist", "rec_id")).getField("rec_id")
            .cast("bigint")
            .alias("best_rec_id"),
        )
    )


# -------------------------------------------------------------- store --


def write_fuzzy_store(records: DataFrame, path: str) -> None:
    """Persist the entity-record table partitioned by blocking key —
    the family's daily-ingest layout: a probe batch reads only its own
    blocks' directories."""
    records.repartition("block").write.partitionBy("block").mode(
        "overwrite"
    ).parquet(path)


def probe_blocks(probes: DataFrame) -> list[str]:
    """Distinct blocking keys of a probe batch — alphabet-bounded
    (≤ |Σ|^PREFIX_LEN values reach the driver, never one per probe)."""
    vals = [r["block"] for r in probes.select("block").distinct().collect()]
    if len(vals) > MAX_PROBE_BLOCKS:  # pragma: no cover - alphabet bound
        raise ValueError(f"probe block set {len(vals)} exceeds {MAX_PROBE_BLOCKS}")
    return sorted(vals)


def incremental_fuzzy_probe(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    max_dist: int = MAX_DIST,
) -> DataFrame:
    """Match a new batch against the persisted store, reading only the
    batch's blocks (partition-pruned directory scan)."""
    store = spark.read.parquet(path).filter(
        F.col("block").isin(probe_blocks(probes))
    )
    return fuzzy_blocked_matches(store, probes, max_dist=max_dist)


# -------------------------------------------------------------- checks --

_PROBE_SQL = """
        SELECT doc_id AS probe_id,
               CASE
                   WHEN doc_id % 3 = 0 THEN substr(name, 1, 4) || substr(name, 6)
                   WHEN doc_id % 3 = 1 THEN substr(name, 1, 3) || 'x' || substr(name, 5)
                   ELSE substr(name, 1, 6) || 'q' || substr(name, 8)
               END AS pname
        FROM (SELECT doc_id,
                     array_to_string(string_split(text, ' ')[1:3], ' ') AS name
              FROM documents WHERE doc_id % 5 = 0)
"""

_MATCH_ORACLE = f"""
    WITH recs AS (
        SELECT doc_id AS rec_id,
               array_to_string(string_split(text, ' ')[1:3], ' ') AS name
        FROM documents),
    probes AS ({_PROBE_SQL}),
    cands AS (
        SELECT p.probe_id, r.rec_id, levenshtein(p.pname, r.name) AS dist
        FROM probes p JOIN recs r
          ON substr(p.pname, 1, {PREFIX_LEN}) = substr(r.name, 1, {PREFIX_LEN})
        WHERE levenshtein(p.pname, r.name) <= {MAX_DIST})
    SELECT probe_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(dist) AS BIGINT) AS best_dist,
           CAST(MIN(dist * 10000000 + rec_id) % 10000000 AS BIGINT) AS best_rec_id
    FROM cands GROUP BY probe_id ORDER BY probe_id"""


@check("fuzzy_blocked_matches", small=True, oracle=_MATCH_ORACLE)
def q_fuzzy_blocked_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching of the perturbed probe batch against the
    full record table: every probe must surface its original (the
    planted edit sits past the blocking prefix) plus any true fuzzy
    neighbors; the oracle packs argmin(dist, rec_id) into one integer
    because rec_id < 10^7 by construction."""
    docs = load(spark, sf_dir, "documents")
    return (
        fuzzy_blocked_matches(entity_records(docs), perturbed_probes(docs))
        .orderBy("probe_id")
    )


@check("fuzzy_store_probe", oracle=_MATCH_ORACLE)
def q_fuzzy_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same matches THROUGH the persisted block-partitioned store:
    write once, probe reading only the batch's block directories —
    must equal the in-memory batch join exactly."""
    import tempfile

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as td:
        path = td + "/fuzzy_store"
        write_fuzzy_store(entity_records(docs), path)
        out = incremental_fuzzy_probe(spark, path, perturbed_probes(docs))
        rows = [
            (r["probe_id"], r["n_matches"], r["best_dist"], r["best_rec_id"])
            for r in out.orderBy("probe_id").collect()
        ]
    return spark.createDataFrame(
        rows, "probe_id bigint, n_matches bigint, best_dist bigint, best_rec_id bigint"
    )


# ------------------------------------------------- 10x load twin --------

_FZ10_COPIES = 10
_FZ10_STRIDE = 10000000


def inflated_probes(docs: DataFrame, copies: int = _FZ10_COPIES) -> DataFrame:
    """The probe batch replicated ``copies`` times with strided ids —
    the record side stays 1x, so candidate volume (and wall) must scale
    LINEARLY in probe mass: block populations are a property of the
    store, not of the arrival rate."""
    ks = F.broadcast(
        docs.sparkSession.range(copies).select(F.col("id").alias("k"))
    )
    return perturbed_probes(docs).crossJoin(ks).select(
        (F.col("probe_id") + F.col("k") * _FZ10_STRIDE).alias("probe_id"),
        "pname",
        "block",
    )


@check(
    "fuzzy_blocked_matches_10x",
    small=True,
    oracle=f"""
    WITH recs AS (
        SELECT doc_id AS rec_id,
               array_to_string(string_split(text, ' ')[1:3], ' ') AS name
        FROM documents),
    probes AS ({_PROBE_SQL}),
    cands AS (
        SELECT p.probe_id, levenshtein(p.pname, r.name) AS dist
        FROM probes p JOIN recs r
          ON substr(p.pname, 1, {PREFIX_LEN}) = substr(r.name, 1, {PREFIX_LEN})
        WHERE levenshtein(p.pname, r.name) <= {MAX_DIST}),
    per_probe AS (
        SELECT probe_id, COUNT(*) AS n_matches, MIN(dist) AS best_dist
        FROM cands GROUP BY probe_id),
    one AS (
        SELECT COUNT(*) AS n_probes_hit, SUM(n_matches) AS n_matches,
               SUM(best_dist) AS sum_best_dist
        FROM per_probe)
    SELECT CAST(k.k AS BIGINT) AS copy,
           CAST(o.n_probes_hit AS BIGINT) AS n_probes_hit,
           CAST(o.n_matches AS BIGINT) AS n_matches,
           CAST(o.sum_best_dist AS BIGINT) AS sum_best_dist
    FROM one o, (SELECT unnest(range(0, {_FZ10_COPIES})) AS k) k
    ORDER BY copy""",
)
def q_fuzzy_blocked_matches_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocked fuzzy join at 10x probe mass (records 1x): every
    replica's probes flow through the real block join + Levenshtein
    verify; the per-copy rollup must reproduce the 1x aggregate exactly
    — the oracle derives it analytically because replicas are
    id-shifted copies."""
    docs = load(spark, sf_dir, "documents")
    matched = fuzzy_blocked_matches(entity_records(docs), inflated_probes(docs))
    copy = (F.col("probe_id") / _FZ10_STRIDE).cast("long")
    return (
        matched.groupBy(copy.alias("copy"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes_hit"),
            F.sum("n_matches").cast("bigint").alias("n_matches"),
            F.sum("best_dist").cast("bigint").alias("sum_best_dist"),
        )
        .orderBy("copy")
    )
