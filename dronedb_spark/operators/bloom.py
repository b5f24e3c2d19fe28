"""Bloom-filter sync pre-screening — the bandwidth optimization the
push/pull family grows at scale (beyond the reference's wire protocol;
the standard distributed-sync trick, e.g. rsync batch hints / Cassandra
anti-entropy): instead of shipping the server's FULL content-hash set
to plan a push, the server ships an m-bit Bloom filter SIZED TO ITS
OBJECT COUNT; the client classifies each candidate hash locally —

  * ``new_sure`` — some probe bit is unset ⇒ DEFINITELY absent
    server-side (Bloom filters have no false negatives): upload without
    any round trip;
  * ``check``    — all k bits set ⇒ PROBABLY present: only these fall
    through to the exact content-address anti-join (``push_plan``).

SIZING (the part a fixed m gets wrong: a 2048-bit filter saturates at
n ≈ 10³ stored objects and the screen silently degrades to a no-op):
m = next power of two ≥ max(2048, BITS_PER_KEY·n) with BITS_PER_KEY =
10 and n the server's distinct-hash count, and k = round(ln2 ·
BITS_PER_KEY) = 7 — the optimal hash count for the TARGET bits/key
ratio, a design constant (when the 2048-bit wire-format floor leaves
m/n above target, extra headroom only lowers the FP rate further).
FP ≈ (1 − e^{−k/10})^k ≈ 0.8% at the target ratio, at ANY corpus size.

Portable hashing: position_j(h) = first 8 hex chars of
md5(j || ':' || h) mod m — the salted-md5 family every sketch in this
engine uses, so the DuckDB oracle reproduces the exact bit array and
classification, INCLUDING the size derivation (the oracle computes m
from its own COUNT(DISTINCT)).

Scale shape: building the filter is one distinct count (the size
parameter — a driver scalar, server-side model state) plus a
map-side-combined DISTINCT of at most m positions (the HLL register
discipline — O(m) rows leave any partition); classification is a
narrow explode + broadcast join against the m-row bit table + one
groupBy(hash) — the corpus-sized side never shuffles more than its own
k·distinct-hash probe rows, and the exact anti-join afterwards runs on
the ``check`` subset only."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.operators.delta import _push_fixture_sql, push_plan
from dronedb_spark.suite import check

BITS_PER_KEY = 10
K_HASH = 7        # round(ln2 * BITS_PER_KEY)
M_FLOOR = 2048    # wire-format minimum (256 bytes)


def bloom_m_bits(n_keys: int) -> int:
    """Filter size: next power of two ≥ max(M_FLOOR, BITS_PER_KEY·n)."""
    target = max(M_FLOOR, BITS_PER_KEY * max(n_keys, 1))
    m = 1
    while m < target:
        m <<= 1
    return m


def _pos_expr(j: int, m: int, hash_col: str = "hash") -> F.Column:
    return F.expr(
        f"CAST(conv(substr(md5('{j}:' || {hash_col}), 1, 8), 16, 10) AS BIGINT)"
        f" % {m}"
    ).cast("int")


def bloom_bits(hashes: DataFrame) -> tuple[DataFrame, int]:
    """(bit positions DataFrame, m) — the set bits of the filter over
    the distinct non-empty ``hash`` column, sized by the distinct
    count (one count pass — the size is server-side model state, like
    the IVF centroid ranks)."""
    h = hashes.select("hash").where(F.col("hash") != "").distinct()
    m = bloom_m_bits(h.count())
    bits = (
        h.select(
            F.explode(F.array(*[_pos_expr(j, m) for j in range(K_HASH)])).alias("pos")
        )
        .distinct()
    )
    return bits, m


def bloom_classify(client: DataFrame, bits: DataFrame, m: int) -> DataFrame:
    """(hash, n_set, cls) per distinct client hash: 'new_sure' when any
    probe bit is unset (no false negatives ⇒ safe to upload without the
    exact check), else 'check'."""
    probes = (
        client.select("hash")
        .where(F.col("hash") != "")
        .distinct()
        .select(
            "hash",
            F.explode(
                F.array(*[_pos_expr(j, m) for j in range(K_HASH)])
            ).alias("pos"),
        )
    )
    hit = probes.join(
        F.broadcast(bits.withColumn("set", F.lit(1))), "pos", "left"
    )
    return (
        hit.groupBy("hash")
        .agg(F.sum(F.coalesce(F.col("set"), F.lit(0))).cast("int").alias("n_set"))
        .select(
            "hash",
            "n_set",
            F.when(F.col("n_set") < K_HASH, "new_sure").otherwise("check").alias("cls"),
        )
    )


def push_plan_prefiltered(
    client: DataFrame, server: DataFrame, bits: DataFrame, m: int
) -> DataFrame:
    """``push_plan``'s neededFiles computed THROUGH the Bloom screen:
    'new_sure' hashes upload directly; only 'check' hashes run the
    exact anti-join.  Returns exactly what the unscreened plan returns
    (pytest pins equality) — the screen changes bandwidth, never the
    answer."""
    cls = bloom_classify(client, bits, m)
    c_hashes = client.select("path", "hash").where(F.col("hash") != "")
    sure = (
        c_hashes.join(cls.filter(F.col("cls") == "new_sure").select("hash"), "hash")
        .groupBy("hash")
        .agg(F.min("path").alias("item"))
    )
    candidates = c_hashes.join(
        cls.filter(F.col("cls") == "check").select("hash"), "hash"
    )
    checked = (
        candidates.groupBy("hash")
        .agg(F.min("path").alias("item"))
        .join(
            server.select("hash").where(F.col("hash") != "").distinct(),
            "hash",
            "left_anti",
        )
    )
    return (
        sure.select("item")
        .unionByName(checked.select("item"))
        .select("item", F.lit("file").alias("kind"))
    )


# ----------------------------------------------------------- check --

# DuckDB: m computed exactly as bloom_m_bits — POWER/CEIL/LOG2 on a
# positive integer; at exact powers of two log2 of a double is exact,
# so CEIL never rounds a true power up a slot.
_D_M = (
    f"CAST(POWER(2, CEIL(LOG2(GREATEST({M_FLOOR}, "
    f"{BITS_PER_KEY} * n)))) AS BIGINT)"
)


def _bloom_classify_sql(server_rel: str, client_rel: str) -> str:
    pos = (
        "CAST(CAST('0x' || substr(md5(j || ':' || hash), 1, 8) AS BIGINT)"
        " % (SELECT m FROM params) AS INT)"
    )
    return f"""
        sh AS (SELECT DISTINCT hash FROM {server_rel} WHERE hash <> ''),
        params AS (SELECT {_D_M} AS m FROM (SELECT COUNT(*) AS n FROM sh)),
        bits AS (
            SELECT DISTINCT {pos} AS pos
            FROM sh, (SELECT unnest(range(0, {K_HASH})) AS j) js),
        probes AS (
            SELECT hash, {pos} AS pos
            FROM (SELECT DISTINCT hash FROM {client_rel} WHERE hash <> '') c,
                 (SELECT unnest(range(0, {K_HASH})) AS j) js),
        scored AS (
            SELECT p.hash,
                   CAST(SUM(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS INT)
                       AS n_set
            FROM probes p LEFT JOIN bits b ON b.pos = p.pos
            GROUP BY p.hash)"""


def _bloom_oracle() -> str:
    t = _push_fixture_sql("duckdb")
    return f"""
        WITH server AS ({t["server"]}), client AS ({t["client"]}),
        {_bloom_classify_sql("server", "client")}
        SELECT hash, n_set,
               CASE WHEN n_set < {K_HASH} THEN 'new_sure' ELSE 'check' END AS cls
        FROM scored ORDER BY hash"""


@check("push_bloom_classify", small=True, oracle=_bloom_oracle())
def q_push_bloom_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom screen over the push fixture: the oracle re-derives the
    filter SIZE from its own distinct count (m = 2048 here — the floor)
    and rebuilds the identical bit array, exact bit counts, and the
    classification of every distinct client hash.  No-false-negative
    law and screen == exact-plan equality are pytest-pinned."""
    t = _push_fixture_sql("spark")
    server = spark.sql(t["server"])
    client = spark.sql(t["client"])
    bits, m = bloom_bits(server)
    return bloom_classify(client, bits, m).orderBy("hash")


# Second size gate: a 600-object server pushes the derived m past the
# floor (10·600 = 6000 → m = 8192), exercising the sizing arithmetic on
# both engines with a different modulus.
_BLOOM_LARGE_N = 600

_LARGE_SERVER_DUCK = (
    f"SELECT md5('srv:' || i) AS hash"
    f" FROM (SELECT unnest(range(0, {_BLOOM_LARGE_N})) AS i)"
)
_LARGE_CLIENT_DUCK = (
    f"SELECT md5('srv:' || i) AS hash"
    f" FROM (SELECT unnest(range({_BLOOM_LARGE_N // 2}, {_BLOOM_LARGE_N})) AS i)"
    f" UNION ALL SELECT md5('cli:' || i) AS hash"
    f" FROM (SELECT unnest(range(0, {_BLOOM_LARGE_N // 2})) AS i)"
)
_LARGE_SERVER_SPARK = (
    f"SELECT md5('srv:' || CAST(id AS STRING)) AS hash"
    f" FROM range(0, {_BLOOM_LARGE_N})"
)
_LARGE_CLIENT_SPARK = (
    f"SELECT md5('srv:' || CAST(id AS STRING)) AS hash"
    f" FROM range({_BLOOM_LARGE_N // 2}, {_BLOOM_LARGE_N})"
    f" UNION ALL SELECT md5('cli:' || CAST(id AS STRING)) AS hash"
    f" FROM range(0, {_BLOOM_LARGE_N // 2})"
)


@check(
    "push_bloom_classify_large",
    small=True,
    oracle=f"""
        WITH server AS ({_LARGE_SERVER_DUCK}), client AS ({_LARGE_CLIENT_DUCK}),
        {_bloom_classify_sql("server", "client")}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_hashes,
               CAST(SUM(CASE WHEN n_set = {K_HASH} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_check,
               CAST(SUM(CASE WHEN n_set < {K_HASH} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_new_sure,
               CAST(SUM(n_set) AS BIGINT) AS sum_set
        FROM scored""",
)
def q_push_bloom_classify_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The screen at the SECOND derived size (600 stored objects →
    m = 8192, past the wire floor): classification accounting over 300
    present + 300 novel client hashes.  All present hashes must land in
    n_check (no false negatives); novel ones split by the filter's real
    FP rate — both sides derive m independently and must agree bit for
    bit (sum_set pins the whole probe table)."""
    server = spark.sql(_LARGE_SERVER_SPARK)
    client = spark.sql(_LARGE_CLIENT_SPARK)
    bits, m = bloom_bits(server)
    cls = bloom_classify(client, bits, m)
    return cls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
        F.sum(F.when(F.col("n_set") == K_HASH, 1).otherwise(0))
        .cast("bigint")
        .alias("n_check"),
        F.sum(F.when(F.col("n_set") < K_HASH, 1).otherwise(0))
        .cast("bigint")
        .alias("n_new_sure"),
        F.sum("n_set").cast("bigint").alias("sum_set"),
    )
