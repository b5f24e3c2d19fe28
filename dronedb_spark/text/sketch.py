"""HyperLogLog distinct-count sketch (Flajolet et al. 2007), built from
deterministic portable hashing so the register state is exactly
reproducible in any engine with md5 — the fixed-size cardinality
primitive a 100 TB pipeline uses for vocabulary / user / URL counts
where an exact COUNT(DISTINCT) would shuffle the full key set.

Beyond the reference (no text pipeline there).  Scale design:

  * the register table is a groupBy(bucket).max(rho) — map-side partial
    max reduces every partition to at most m=2^p rows before the
    shuffle, so the shuffle moves O(m) rows per partition regardless of
    corpus size (the whole point of the sketch);
  * registers merge across corpora/days by element-wise max — the same
    groupBy shape — giving mergeable daily sketches for free;
  * the ESTIMATE is a tiny driver-side fold over m rows.

Determinism note: the register state (bucket, max rho) is integer-exact
and oracle-checked against DuckDB; the floating-point estimate itself is
validated in pytest against the exact distinct count within the
published error bound (sigma = 1.04/sqrt(m)), not hash-compared across
engines, because ln()/pow() may differ in the last ulp between
implementations.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import words

P = 8  # register address bits: m = 256 registers, sigma ~ 6.5%
M = 1 << P


def hll_token_registers(docs: DataFrame) -> DataFrame:
    """(bucket, max_rho) over the corpus token stream.

    h = md5(token); bucket = first 2 hex chars (8 bits); rho = 1 +
    leading zeros of the next 60 bits (15 hex chars), i.e. 61 -
    bit_length(v), with v = 0 mapping to the full 61.  Buckets never
    observed are absent (their register is implicitly 0).
    """
    toks = docs.select(F.explode(words("text")).alias("tok"))
    bucket = F.expr("CAST(conv(substr(md5(tok), 1, 2), 16, 10) AS BIGINT)")
    v = F.expr("CAST(conv(substr(md5(tok), 3, 15), 16, 10) AS BIGINT)")
    rho = F.when(v == 0, F.lit(61)).otherwise(61 - F.length(F.expr("bin(CAST(conv(substr(md5(tok), 3, 15), 16, 10) AS BIGINT))")))
    return (
        toks.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(registers: DataFrame) -> float:
    """Driver-side fold of the m-row register table into the HLL
    cardinality estimate with the small-range (linear counting)
    correction."""
    rows = {r["bucket"]: r["max_rho"] for r in registers.collect()}
    alpha = 0.7213 / (1 + 1.079 / M)
    s = sum(2.0 ** -rows.get(j, 0) for j in range(M))
    est = alpha * M * M / s
    zeros = M - len(rows)
    if est <= 2.5 * M and zeros > 0:
        est = M * math.log(M / zeros)
    return est


@check(
    "hll_token_registers",
    oracle=f"""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        hashed AS (
            SELECT CAST('0x' || substr(md5(tok), 1, 2) AS BIGINT) AS bucket,
                   CAST('0x' || substr(md5(tok), 3, 15) AS BIGINT) AS v
            FROM toks WHERE tok <> ''),
        rhos AS (
            SELECT bucket,
                   CASE WHEN v = 0 THEN 61 ELSE 61 - length(bin(v)) END AS rho
            FROM hashed)
        SELECT bucket, CAST(MAX(rho) AS INT) AS max_rho
        FROM rhos GROUP BY bucket ORDER BY bucket""",
)
def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    regs = hll_token_registers(load(spark, sf_dir, "documents"))
    return regs.select("bucket", F.col("max_rho").cast("int").alias("max_rho")).orderBy(
        "bucket"
    )


# ----------------------------------------------- count-min sketch ----

CMS_D = 4      # hash rows
CMS_W = 256    # counters per row


def cms_token_sketch(docs: DataFrame) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of the corpus
    token stream: (row, col, cnt) for d=4 portable hash rows of w=256
    counters — fixed O(d*w) state however large the corpus, mergeable by
    element-wise sum, point estimate = min over rows (never an
    undercount).  col_j(tok) = 8 bits of md5(j || ':' || tok), the same
    salted-md5 family the MinHash signatures use.

    Scale: one groupBy((row, col)) with map-side partial sums — at most
    d*w rows leave each partition, the same O(state) shuffle bound as
    the HLL registers."""
    toks = docs.select(F.explode(words("text")).alias("tok"))
    rows = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        F.expr(
                            f"CAST(conv(substr(md5('{j}:' || tok), 1, 2), 16, 10) AS INT)"
                        ).alias("col"),
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("s")
    ).select("s.row", "s.col")
    return rows.groupBy("row", "col").agg(F.count(F.lit(1)).alias("cnt"))


def cms_point_estimates(docs: DataFrame, queries: DataFrame) -> DataFrame:
    """(tok, est) — count-min frequency estimate for each query token:
    min over the d rows of the queried counters.  The sketch side is
    O(d*w) and BROADCAST into the join; estimates are exact integer
    arithmetic, hence oracle-checkable end to end (including the
    guaranteed est >= true property)."""
    sketch = cms_token_sketch(docs)
    probes = queries.select(
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        F.expr(
                            f"CAST(conv(substr(md5('{j}:' || tok), 1, 2), 16, 10) AS INT)"
                        ).alias("col"),
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("s"),
    ).select("tok", "s.row", "s.col")
    return (
        probes.join(F.broadcast(sketch), ["row", "col"])
        .groupBy("tok")
        .agg(F.min("cnt").alias("est"))
    )


_DUCK_CMS = f"""
    toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    cms AS (
        SELECT j AS row,
               CAST('0x' || substr(md5(j || ':' || tok), 1, 2) AS INT) AS col,
               COUNT(1) AS cnt
        FROM (SELECT tok FROM toks WHERE tok <> '') t,
             (SELECT unnest(range(0, {CMS_D})) AS j) js
        GROUP BY row, col)
"""


@check(
    "cms_heavy_hitters",
    oracle=f"""
        WITH {_DUCK_CMS},
        queries AS (
            SELECT tok, COUNT(1) AS true_cnt
            FROM (SELECT tok FROM toks WHERE tok <> '') t
            GROUP BY tok ORDER BY COUNT(1) DESC, tok LIMIT 20),
        est AS (
            SELECT q.tok,
                   MIN(c.cnt) AS est
            FROM queries q
            JOIN cms c
              ON c.row BETWEEN 0 AND {CMS_D - 1}
             AND c.col = CAST('0x' || substr(md5(c.row || ':' || q.tok), 1, 2) AS INT)
            GROUP BY q.tok)
        SELECT q.tok, CAST(q.true_cnt AS BIGINT) AS true_cnt,
               CAST(e.est AS BIGINT) AS est
        FROM queries q JOIN est e ON q.tok = e.tok
        ORDER BY true_cnt DESC, q.tok""",
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 true heavy hitters with their count-min estimates — the
    oracle verifies the exact sketch state AND that est carries the
    one-sided error (est >= true always holds by construction)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(words("text")).alias("tok"))
    # ``top`` is 20 rows but its subtree is a full corpus tokenize +
    # token groupBy; it feeds TWO consumers (the probe side and the
    # final join) — materialize it once (r14, guide §2.4) instead of
    # re-running the heavy-hitter pass per reference.
    from dronedb_spark.tables import barrier_persist

    top = barrier_persist(
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "tok")
        .limit(20)
    )
    est = cms_point_estimates(docs, top.select("tok"))
    return (
        top.join(est, "tok")
        .select("tok", "true_cnt", "est")
        .orderBy(F.desc("true_cnt"), "tok")
    )


# ----------------------------------------------- mergeable daily HLL --


def merge_registers(register_tables: list[DataFrame]) -> DataFrame:
    """Element-wise max across register tables — the HLL merge
    (sketch(A) ⊔ sketch(B) = sketch(A ∪ B)): a union + the SAME
    groupBy(bucket).max shape as building, so daily sketches combine
    into weekly/monthly ones without touching the raw streams."""
    u = register_tables[0]
    for t in register_tables[1:]:
        u = u.unionByName(t)
    return u.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))


_HLL_DAYS = 3


def _d_regs(src: str) -> str:
    """DuckDB register CTE body over document relation ``src``."""
    return f"""
        SELECT CAST('0x' || substr(md5(tok), 1, 2) AS BIGINT) AS bucket,
               MAX(CASE WHEN CAST('0x' || substr(md5(tok), 3, 15) AS BIGINT) = 0
                        THEN 61
                        ELSE 61 - length(bin(CAST('0x' || substr(md5(tok), 3, 15)
                                                 AS BIGINT))) END) AS max_rho
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM {src})
        WHERE tok <> '' GROUP BY 1"""


@check(
    "hll_merge_daily",
    oracle=f"""
        WITH d0 AS ({_d_regs("(SELECT text FROM documents WHERE doc_id % 3 = 0)")}),
        d1 AS ({_d_regs("(SELECT text FROM documents WHERE doc_id % 3 = 1)")}),
        d2 AS ({_d_regs("(SELECT text FROM documents WHERE doc_id % 3 = 2)")}),
        full_regs AS ({_d_regs("documents")}),
        buckets AS (
            SELECT DISTINCT bucket FROM (
                SELECT bucket FROM d0 UNION ALL SELECT bucket FROM d1
                UNION ALL SELECT bucket FROM d2)),
        merged AS (
            SELECT b.bucket,
                   CAST(COALESCE(d0.max_rho, -1) AS INT) AS rho_d0,
                   CAST(COALESCE(d1.max_rho, -1) AS INT) AS rho_d1,
                   CAST(COALESCE(d2.max_rho, -1) AS INT) AS rho_d2,
                   CAST(GREATEST(COALESCE(d0.max_rho, 0),
                                 COALESCE(d1.max_rho, 0),
                                 COALESCE(d2.max_rho, 0)) AS INT) AS merged_rho
            FROM buckets b
            LEFT JOIN d0 ON d0.bucket = b.bucket
            LEFT JOIN d1 ON d1.bucket = b.bucket
            LEFT JOIN d2 ON d2.bucket = b.bucket)
        SELECT m.bucket, m.rho_d0, m.rho_d1, m.rho_d2, m.merged_rho,
               CAST(CASE WHEN m.merged_rho = f.max_rho THEN 1 ELSE 0 END
                    AS BIGINT) AS equals_full
        FROM merged m JOIN full_regs f ON f.bucket = m.bucket
        ORDER BY m.bucket""",
)
def q_hll_merge_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three 'daily' corpus slices (doc_id % 3) sketch independently
    and merge by element-wise register max; the merged state must
    equal the whole-corpus sketch bucket for bucket (equals_full = 1
    everywhere) — the mergeability a 100 TB rollup relies on."""
    docs = load(spark, sf_dir, "documents")
    days = [
        hll_token_registers(docs.filter(F.col("doc_id") % _HLL_DAYS == d))
        for d in range(_HLL_DAYS)
    ]
    tagged = [
        d.select("bucket", F.col("max_rho").alias(f"rho_d{i}"))
        for i, d in enumerate(days)
    ]
    wide = tagged[0].join(tagged[1], "bucket", "full").join(
        tagged[2], "bucket", "full"
    )
    merged = merge_registers(days).select(
        "bucket", F.col("max_rho").alias("merged_rho")
    )
    full_regs = hll_token_registers(docs).select(
        "bucket", F.col("max_rho").alias("full_rho")
    )
    return (
        wide.join(merged, "bucket")
        .join(full_regs, "bucket")
        .select(
            "bucket",
            *[
                F.coalesce(f"rho_d{i}", F.lit(-1)).cast("int").alias(f"rho_d{i}")
                for i in range(_HLL_DAYS)
            ],
            F.col("merged_rho").cast("int").alias("merged_rho"),
            (F.col("merged_rho") == F.col("full_rho"))
            .cast("bigint")
            .alias("equals_full"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------- HLL set algebra --


def hll_user_registers(events: DataFrame, event_type: str | None) -> DataFrame:
    """(bucket, max_rho) over the USER-ID stream of one event type
    (None = all types) — duplicates can't move a max, so the raw event
    stream needs no distinct."""
    src = events if event_type is None else events.filter(
        F.col("event_type") == event_type
    )
    u = src.select(F.col("user_id").cast("string").alias("k"))
    bucket = F.expr("CAST(conv(substr(md5(k), 1, 2), 16, 10) AS BIGINT)")
    rho = F.expr(
        "CASE WHEN CAST(conv(substr(md5(k), 3, 15), 16, 10) AS BIGINT) = 0"
        " THEN 61 ELSE 61 - length(bin(CAST(conv(substr(md5(k), 3, 15), 16, 10)"
        " AS BIGINT))) END"
    )
    return (
        u.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def _hll_state(registers: DataFrame, set_name: str) -> DataFrame:
    """(set_name, s_inv, n_zero): the EXACT sketch state — the harmonic
    sum Σ 2^(-rho) scaled by 2^61 so it is an integer (zeros contribute
    2^61 each), then cast once to double (identical on both engines
    because the integer is identical).  The raw HLL estimate is
    α·m²·2^61 / s_inv — derivable without any engine-ordered float
    sum; set ALGEBRA (|A∩B| = |A|+|B|−|A∪B|) composes these states by
    inclusion-exclusion."""
    agg = registers.agg(
        F.sum(F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 61 - max_rho) AS DECIMAL(38,0))")).alias("s_obs"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    # COALESCE: SUM over zero register rows is NULL, and NULL + the
    # zeros term stays NULL — the EMPTY set must still produce the
    # exact all-zero-register state M·2^61, not an unusable NULL
    return agg.select(
        F.lit(set_name).alias("set_name"),
        F.expr(
            f"CAST(COALESCE(s_obs, CAST(0 AS DECIMAL(38,0)))"
            f" + CAST({M} - n_obs AS DECIMAL(38,0))"
            " * CAST(2305843009213693952 AS DECIMAL(38,0)) AS DOUBLE)"
        ).alias("s_inv"),
        (F.lit(M) - F.col("n_obs")).cast("bigint").alias("n_zero"),
    )


def hll_set_algebra(events: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """(set_name, s_inv, n_zero, exact_distinct): the sketch states of
    the A users, B users, and A∪B users, each beside its EXACT
    distinct count — the union state is byte-derivable from the two
    daily states (register max-merge, the `hll_merge_daily` law), and
    the intersection estimate follows by inclusion-exclusion without a
    third sketch."""
    out = []
    for name, et in (("a", type_a), ("b", type_b)):
        regs = hll_user_registers(events, et)
        exact = (
            events.filter(F.col("event_type") == et)
            .agg(F.countDistinct("user_id").cast("bigint").alias("d"))
        )
        out.append(_hll_state(regs, name).join(exact))
    regs_u = hll_user_registers(
        events.filter(F.col("event_type").isin([type_a, type_b])), None
    )
    exact_u = (
        events.filter(F.col("event_type").isin([type_a, type_b]))
        .agg(F.countDistinct("user_id").cast("bigint").alias("d"))
    )
    out.append(_hll_state(regs_u, "union").join(exact_u))
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res.select(
        "set_name", "s_inv", "n_zero", F.col("d").alias("exact_distinct")
    )


def _d_user_regs(where: str) -> str:
    return f"""
        SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
                    AS BIGINT) AS bucket,
               MAX(CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 15)) AS BIGINT) = 0
                        THEN 61
                        ELSE 61 - length(bin(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 15)) AS BIGINT)))
                   END) AS max_rho
        FROM events WHERE {where}
        GROUP BY 1"""


def _d_state(name: str, where: str) -> str:
    return f"""
        SELECT '{name}' AS set_name,
               CAST(COALESCE(SUM(CAST(1 AS BIGINT) << (61 - max_rho)), 0)
                    + ({M} - COUNT(1)) * CAST(2305843009213693952 AS HUGEINT)
                    AS DOUBLE) AS s_inv,
               CAST({M} - COUNT(1) AS BIGINT) AS n_zero,
               (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
                FROM events WHERE {where}) AS exact_distinct
        FROM ({_d_user_regs(where)}) r"""


@check(
    "hll_set_algebra",
    small=True,
    oracle=f"""
        {_d_state('a', "event_type = 'purchase'")}
        UNION ALL
        {_d_state('b', "event_type = 'error'")}
        UNION ALL
        {_d_state('union', "event_type IN ('purchase', 'error')")}
        ORDER BY set_name""",
)
def q_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch states of purchase users, error users, and their union —
    exact-integer harmonic sums (so the raw estimates and the
    inclusion-exclusion intersection derive with zero engine-ordered
    float arithmetic) beside the exact distinct truths."""
    return hll_set_algebra(
        load(spark, sf_dir, "events"), "purchase", "error"
    ).orderBy("set_name")
