"""Approximate nearest neighbor via sign-random-projection LSH — the
scale path for similarity search (brute force lives in vectors/knn.py).

Each embedding is bucketed by the sign pattern of its dot products with
``N_PLANES`` fixed ±1 hyperplanes.  Candidates = vectors sharing the
query's bucket; exact cosine runs only inside the bucket, cutting the
scored set by ~2^N_PLANES.  At cluster scale the bucket key is also the
natural partitioning/bucketing column for the embedding table.

The hyperplanes are deterministic ±1 vectors derived from md5 in PYTHON
and embedded as literals in both the Spark expression and the DuckDB
oracle — no cross-engine hashing dependency at all.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

N_PLANES = 6
DIM = 64


def _plane(j: int) -> list[float]:
    """±1 pattern for hyperplane j: sign of md5 bit per dimension."""
    out = []
    for i in range(DIM):
        h = hashlib.md5(f"plane:{j}:{i}".encode()).hexdigest()
        out.append(1.0 if int(h[0], 16) < 8 else -1.0)
    return out


PLANES = [_plane(j) for j in range(N_PLANES)]


def _bucket_col() -> F.Column:
    """Bucket key = concatenated sign bits of the plane dot products."""
    bits = []
    for j in range(N_PLANES):
        signs = F.array(*[F.lit(s) for s in PLANES[j]])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _duck_bucket(tbl: str) -> str:
    # list_dot_product (sequential multiply-add, bit-identical to the
    # range-indexed lambda fold) instead of indexing a const list inside a
    # lambda — DuckDB re-materializes the 64-element literal per element,
    # which measured ~1000x slower at sf0.1.
    bits = []
    for j in range(N_PLANES):
        arr = "CAST([" + ",".join(("1.0" if s > 0 else "-1.0") for s in PLANES[j]) + "] AS DOUBLE[])"
        dot = f"list_dot_product(CAST({tbl}.embedding AS DOUBLE[]), {arr})"
        bits.append(f"(CASE WHEN {dot} > 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def ann_buckets(embeddings: DataFrame) -> DataFrame:
    """Per-bucket histogram — the partitioning profile of the LSH index."""
    return (
        embeddings.select(_bucket_col().alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


def ann_search(embeddings: DataFrame, query_vec_id: int, k: int = 5) -> DataFrame:
    """Top-k cosine WITHIN the query's LSH bucket."""
    from dronedb_spark.vectors.knn import _dot, _norm

    withb = embeddings.withColumn("bucket", _bucket_col())
    q = withb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb"), F.col("bucket").alias("q_bucket")
    )
    cand = withb.join(
        F.broadcast(q), F.col("bucket") == F.col("q_bucket")
    ).filter(F.col("vec_id") != query_vec_id)
    scored = cand.select(
        "vec_id",
        "label",
        F.round(_dot("embedding", "q_emb") / (_norm("embedding") * _norm("q_emb")), 6).alias(
            "cos_sim"
        ),
    )
    return scored.orderBy(F.desc("cos_sim"), "vec_id").limit(k)


NEARDUP_THRESH = 0.35


def cosine_neardup_pairs(embeddings: DataFrame, thresh: float = NEARDUP_THRESH) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the dedup twin of text
    MinHash (text/dedup.py) on the embedding column.

    Scale path: candidate pairs are restricted to the SAME LSH bucket
    before exact cosine, so the self-join shuffles on the bucket key and
    each task scores only its bucket's ~n/2^N_PLANES vectors — never the
    global O(n²) cross product.  The threshold is applied to the ROUNDED
    similarity so the boundary is engine-exact."""
    from dronedb_spark.vectors.knn import _norm

    withb = embeddings.select(
        "vec_id", F.col("embedding"), _bucket_col().alias("bucket"), _norm("embedding").alias("nrm")
    )
    a = withb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        "bucket",
    )
    b = withb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        "bucket",
    )
    dot = F.aggregate(
        F.zip_with(F.col("emb_a"), F.col("emb_b"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(dot / (F.col("nrm_a") * F.col("nrm_b")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= thresh)
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------- checks


@check(
    "ann_bucket_histogram",
    oracle=f"""
        SELECT bucket, CAST(COUNT(1) AS BIGINT) AS n
        FROM (SELECT {_duck_bucket('e')} AS bucket FROM embeddings e) t
        GROUP BY bucket ORDER BY bucket""",
)
def q_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_buckets(load(spark, sf_dir, "embeddings"))


_DUCK_DOTQ = "list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[]))"
_DUCK_NORM_E = "sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))"
_DUCK_NORM_Q = "sqrt(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])))"


@check(
    "ann_lsh_top5",
    small=True,
    oracle=f"""
        WITH b AS (SELECT e.*, {_duck_bucket('e')} AS bucket FROM embeddings e),
        q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id = 0)
        SELECT e.vec_id, e.label,
               ROUND({_DUCK_DOTQ} / ({_DUCK_NORM_E} * {_DUCK_NORM_Q}), 6) AS cos_sim
        FROM b e, q
        WHERE e.bucket = q.q_bucket AND e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id LIMIT 5""",
)
def q_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_search(load(spark, sf_dir, "embeddings"), query_vec_id=0, k=5)


@check(
    "embedding_neardup_pairs",
    oracle=f"""
        WITH b AS (SELECT vec_id, embedding, {_duck_bucket('embeddings')} AS bucket,
                          sqrt(list_dot_product(CAST(embeddings.embedding AS DOUBLE[]),
                                                CAST(embeddings.embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings)
        SELECT vec_a, vec_b, cos_sim FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                         / (a.nrm * b.nrm), 6) AS cos_sim
            FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) p
        WHERE cos_sim >= {NEARDUP_THRESH}
        ORDER BY vec_a, vec_b""",
)
def q_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_neardup_pairs(load(spark, sf_dir, "embeddings"))


# ------------------------------------------------- multi-probe LSH ----


def _py_bucket(embedding) -> str:
    """Driver-side twin of ``_bucket_col``: the same sequential
    multiply-add fold over the same float64 values picks the identical
    sign bit per plane (pytest-pinned against the Spark column)."""
    bits = []
    for j in range(N_PLANES):
        acc = 0.0
        for x, s in zip(embedding, PLANES[j]):
            acc = acc + float(x) * s
        bits.append("1" if acc > 0 else "0")
    return "".join(bits)


def ann_multiprobe_search(
    embeddings: DataFrame, query_vec_id: int, k: int = 5
) -> DataFrame:
    """Top-k cosine probing the query's bucket AND every Hamming-1
    neighbor bucket (Lv et al. 2007 multi-probe LSH): the sign pattern
    a near neighbor most likely lands in when it misses the query's own
    bucket differs in exactly one plane, so probing the N_PLANES
    one-bit flips buys most of a second hash table's recall for zero
    extra index storage.  The probe set derives DRIVER-SIDE from the
    query embedding (the bucket fold is replayed in Python — no lookup
    job), so a bucket-partitioned store serves this with
    1 + N_PLANES pruned directory reads."""
    from dronedb_spark.vectors.knn import _dot, _norm

    q_emb = embeddings.filter(F.col("vec_id") == query_vec_id).collect()[0][
        "embedding"
    ]
    qb = _py_bucket(q_emb)
    probes = [qb] + [
        qb[:j] + ("0" if qb[j] == "1" else "1") + qb[j + 1 :]
        for j in range(N_PLANES)
    ]
    withb = embeddings.withColumn("bucket", _bucket_col())
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    cand = (
        withb.filter(F.col("bucket").isin(probes))
        .filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
    )
    scored = cand.select(
        "vec_id",
        "label",
        F.round(
            _dot("embedding", "q_emb") / (_norm("embedding") * _norm("q_emb")), 6
        ).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), "vec_id").limit(k)


@check(
    "ann_multiprobe_top5",
    small=True,
    # the oracle states the probe set SEMANTICALLY: a candidate's bucket
    # is within Hamming distance 1 of the query's (== the 1+N_PLANES
    # one-bit flips the Spark side materializes driver-side)
    oracle=f"""
        WITH b AS (SELECT e.*, {_duck_bucket('e')} AS bucket FROM embeddings e),
        q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id = 0),
        cand AS (
            SELECT e.vec_id, e.label, e.embedding, q.q_emb
            FROM b e, q
            WHERE e.vec_id <> 0
              AND ({" + ".join(
                  f"(CASE WHEN substr(e.bucket, {j + 1}, 1)"
                  f" <> substr(q.q_bucket, {j + 1}, 1) THEN 1 ELSE 0 END)"
                  for j in range(N_PLANES)
              )}) <= 1)
        SELECT vec_id, label,
               ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(q_emb AS DOUBLE[]))
                     / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(q_emb AS DOUBLE[]),
                                                CAST(q_emb AS DOUBLE[])))),
                     6) AS cos_sim
        FROM cand ORDER BY cos_sim DESC, vec_id LIMIT 5""",
)
def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe top-5 for vec 0: the widened candidate set (own
    bucket + 6 one-bit flips) and the exact rescoring both re-derived
    by the oracle's Hamming-distance restatement."""
    return ann_multiprobe_search(load(spark, sf_dir, "embeddings"), 0, 5)


def write_ann_store(embeddings: DataFrame, path: str) -> None:
    """Persist the LSH serving index PARTITIONED BY bucket: the sign
    pattern is the directory key, so a (multi-)probe reads exactly its
    probe buckets' directories — the store discipline of the
    binq/ivfpq/postings families.  One map-only bucket pass at write."""
    (
        embeddings.withColumn("bucket", _bucket_col())
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(path)
    )


def ann_store_multiprobe(
    spark: SparkSession,
    path: str,
    query_emb,
    k: int = 5,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Multi-probe top-k reading ONLY the store: the probe set (own
    bucket + one-bit flips) derives driver-side from the query
    embedding, the scan partition-prunes to those directories, and the
    exact rescoring runs on the pruned candidates."""
    from dronedb_spark.vectors.knn import _dot, _norm

    qb = _py_bucket(query_emb)
    probes = [qb] + [
        qb[:j] + ("0" if qb[j] == "1" else "1") + qb[j + 1 :]
        for j in range(N_PLANES)
    ]
    q = F.broadcast(
        spark.createDataFrame(
            [([float(v) for v in query_emb],)], "q_emb array<double>"
        )
    )
    cand = spark.read.parquet(path).filter(F.col("bucket").isin(probes))
    if exclude_vec_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_vec_id)
    cand = cand.join(q)
    return (
        cand.select(
            "vec_id",
            "label",
            F.round(
                _dot("embedding", "q_emb") / (_norm("embedding") * _norm("q_emb")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(k)
    )


@check(
    "ann_store_multiprobe",
    small=True,
    oracle=f"""
        WITH b AS (SELECT e.*, {_duck_bucket('e')} AS bucket FROM embeddings e),
        q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id = 0),
        cand AS (
            SELECT e.vec_id, e.label, e.embedding, q.q_emb
            FROM b e, q
            WHERE e.vec_id <> 0
              AND ({" + ".join(
                  f"(CASE WHEN substr(e.bucket, {j + 1}, 1)"
                  f" <> substr(q.q_bucket, {j + 1}, 1) THEN 1 ELSE 0 END)"
                  for j in range(N_PLANES)
              )}) <= 1)
        SELECT vec_id, label,
               ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(q_emb AS DOUBLE[]))
                     / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(q_emb AS DOUBLE[]),
                                                CAST(q_emb AS DOUBLE[])))),
                     6) AS cos_sim
        FROM cand ORDER BY cos_sim DESC, vec_id LIMIT 5""",
)
def q_ann_store_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the bucket-partitioned LSH store, multi-probe it for vec
    0's neighbors reading only the store (query's own row dropped by
    vec_id): must hash-match the in-memory multi-probe oracle.
    Scratch-dir check: collected in-function."""
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    q_emb = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    with tempfile.TemporaryDirectory() as td:
        path = td + "/ann_store"
        write_ann_store(emb, path)
        rows = [
            (r["vec_id"], r["label"], r["cos_sim"])
            for r in ann_store_multiprobe(
                spark, path, q_emb, 5, exclude_vec_id=0
            ).collect()
        ]
    return spark.createDataFrame(
        rows, "vec_id bigint, label bigint, cos_sim double"
    )


def update_ann_store(batch: DataFrame, path: str) -> None:
    """The daily-ingest increment for the LSH store: a new batch's
    banded rows APPEND into the existing bucket directories — sign
    buckets derive from vector bytes alone, so no read-merge-rewrite
    of yesterday's index and a probe over the updated store sees old +
    new vectors through the same partition-pruned scan (the
    ``update_postings_store`` discipline)."""
    (
        batch.withColumn("bucket", _bucket_col())
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("append")
        .parquet(path)
    )
