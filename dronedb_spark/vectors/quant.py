"""SQ8 scalar quantization for embedding search (beyond-reference
training-data op; the FAISS ``SQ8`` design, public).

Each dimension d gets a learned [lo_d, hi_d] range (a one-pass global
aggregate); a vector component encodes to an 8-bit code
``floor((x - lo) * 255 / (hi - lo) + 0.5)`` — 4× smaller than float32 —
and search scores queries against the RECONSTRUCTED values
``lo + code * (hi - lo) / 255`` (asymmetric distance computation: raw
query vs quantized database, the standard recall-preserving trick).

Engine shapes:

* ``sq8_sql(dialect)`` — the oracle-parity relational form: explode →
  per-dimension range aggregate → code/reconstruct join → decimal-exact
  ADC distance.  Same discipline as text/simhash.py: partial aggregation
  combines map-side, the shuffle carries one row per (vector, dim) only
  between the explode and the distance groupBy, and the dims table is
  64 rows.
* ``sq8_dims``/``sq8_encode``/``sq8_search_top10`` — the DataFrame scale
  path: the dims table broadcasts, encode is a single zip_with pass (no
  explode — at 100 TB the array form avoids the 64× row inflation), and
  top-k is TakeOrderedAndProject.  tests/test_quant.py pins the two
  paths to the same ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

DIM = 64
LEVELS = 255


def _pts(dialect: str) -> str:
    """(vec_id, pos, val) exploded view — pos is 0-based in both."""
    if dialect == "spark":
        return (
            "SELECT vec_id, pos, CAST(v AS DOUBLE) AS val "
            "FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, v"
        )
    return (
        "SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos, "
        "CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings"
    )


def sq8_sql(dialect: str, query_vec_id: int = 0, k: int = 10) -> str:
    """Top-k by SQ8 ADC distance — runs in Spark SQL and DuckDB."""
    return f"""
        WITH pts AS ({_pts(dialect)}),
        dims AS (SELECT pos, MIN(val) AS lo, MAX(val) AS hi
                 FROM pts GROUP BY pos),
        q AS (SELECT pos, val AS qval FROM pts WHERE vec_id = {query_vec_id}),
        codes AS (
            SELECT p.vec_id, p.pos,
                   CAST(CASE WHEN d.hi > d.lo
                        THEN floor((p.val - d.lo) * {LEVELS}.0 / (d.hi - d.lo) + 0.5)
                        ELSE 0 END AS INT) AS code
            FROM pts p JOIN dims d ON d.pos = p.pos
            WHERE p.vec_id <> {query_vec_id}),
        recon AS (
            SELECT c.vec_id, c.pos,
                   d.lo + CAST(c.code AS DOUBLE) * (d.hi - d.lo) / {LEVELS}.0 AS r
            FROM codes c JOIN dims d ON d.pos = c.pos),
        dist AS (
            SELECT r.vec_id,
                   SUM(CAST((r.r - q.qval) * (r.r - q.qval) AS DECIMAL(38,15))) AS d2
            FROM recon r JOIN q ON q.pos = r.pos
            GROUP BY r.vec_id)
        SELECT vec_id, ROUND(CAST(d2 AS DOUBLE), 6) AS adc_dist
        FROM dist ORDER BY adc_dist, vec_id LIMIT {k}"""


# ------------------------------------------------------- array scale path


def sq8_dims(embeddings: DataFrame) -> DataFrame:
    """Per-dimension (pos, lo, hi) — ONE aggregation over the exploded
    view; 64 output rows, broadcastable everywhere downstream."""
    pts = embeddings.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", F.col("v").cast("double").alias("val"))
    return pts.groupBy("pos").agg(F.min("val").alias("lo"), F.max("val").alias("hi"))


def _dims_arrays(dims: DataFrame) -> tuple[F.Column, F.Column]:
    rows = sorted((r["pos"], r["lo"], r["hi"]) for r in dims.collect())
    lo = F.array(*[F.lit(float(r[1])) for r in rows])
    hi = F.array(*[F.lit(float(r[2])) for r in rows])
    return lo, hi


def sq8_encode(embeddings: DataFrame, dims: DataFrame) -> DataFrame:
    """array<float> → array<tinyint-range int> codes in one zip_with
    pass; the dims table rides along as two literal 64-element arrays
    (k·dim scalars — the IVF-centroid pattern, fine to collect)."""
    lo, hi = _dims_arrays(dims)
    rng = F.zip_with(hi, lo, lambda h, l: h - l)
    shifted = F.zip_with(F.col("embedding"), lo, lambda x, l: x.cast("double") - l)
    code = F.zip_with(
        shifted, rng,
        lambda s, r: F.when(
            r > 0.0, F.floor(s * float(LEVELS) / r + F.lit(0.5)).cast("int")
        ).otherwise(F.lit(0)),
    )
    return embeddings.select("vec_id", "label", code.alias("codes"))


def sq8_search_top10(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """ADC top-k on the array path: reconstruct codes against the dims
    arrays and fold the squared distance — no explode, one top-k."""
    dims = sq8_dims(embeddings)
    lo, hi = _dims_arrays(dims)
    codes = sq8_encode(embeddings, dims)
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("q_emb")
    )
    recon = F.zip_with(
        F.zip_with(F.col("codes"), lo, lambda c, l: F.struct(c.alias("c"), l.alias("l"))),
        hi,
        lambda s, h: s["l"] + s["c"].cast("double") * (h - s["l"]) / float(LEVELS),
    )
    d2 = F.aggregate(
        F.zip_with(recon, F.col("q_emb"), lambda r, qv: (r - qv) * (r - qv)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        codes.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .select("vec_id", F.round(d2, 6).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(k)
    )


# ------------------------------------------------------------------ check


@check("sq8_adc_top10", small=True, oracle=sq8_sql("duckdb"))
def q_sq8_adc_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 encode + ADC search, exact-value checked: dims ranges, the
    floor(+0.5) code rule, reconstruction arithmetic, and decimal-exact
    distance sums are the SAME relational text in both engines."""
    from dronedb_spark.tables import spread

    emb = spread(load(spark, sf_dir, "embeddings"))
    emb.createOrReplaceTempView("embeddings")
    return spark.sql(sq8_sql("spark"))
