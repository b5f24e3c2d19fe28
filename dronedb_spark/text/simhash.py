"""SimHash document fingerprints — 64-bit signatures, engine-portable.

SimHash: each token votes ±1 on every one of 64 bit positions (its md5
decides the sign); the signature bit is the sign of the vote sum.  Near-
duplicate documents differ in few bits (Hamming distance).

Portability: the 64 bits live in the first 16 hex chars of md5(token).
Hex digit d at position p contributes to 4 bit-sums via pure arithmetic
(d>=8, d%8>=4, d%4>=2, d%2) — the same text works in Spark SQL and
DuckDB, which is what lets the oracle verify exact signatures.

Scale shape: explode tokens → 64 CASE sums via ONE groupBy(doc_id) with
map-side combine — the shuffle carries one 64-int row per doc.  Hamming
distance between signatures is JVM-side ``bit_count(xor)`` on the
reconstructed int64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load

N_HEX = 16  # 16 hex chars = 64 bits
_HEX = "0123456789abcdef"


def _digit_expr(p: int, dialect: str) -> str:
    # hex digit value at md5 position p (0..15)
    if dialect == "spark":
        return f"(instr('{_HEX}', substr(md5(s), {p + 1}, 1)) - 1)"
    return f"(strpos('{_HEX}', substr(md5(s), {p + 1}, 1)) - 1)"


def _bit_tests(p: int, dialect: str) -> list[str]:
    d = f"d{p}"
    return [
        f"SUM(CASE WHEN {d} >= 8 THEN 1 ELSE -1 END) AS s{p}_3",
        f"SUM(CASE WHEN ({d} % 8) >= 4 THEN 1 ELSE -1 END) AS s{p}_2",
        f"SUM(CASE WHEN ({d} % 4) >= 2 THEN 1 ELSE -1 END) AS s{p}_1",
        f"SUM(CASE WHEN ({d} % 2) = 1 THEN 1 ELSE -1 END) AS s{p}_0",
    ]


def _final_digit(p: int) -> str:
    return (
        f"(CASE WHEN s{p}_3 > 0 THEN 8 ELSE 0 END + CASE WHEN s{p}_2 > 0 THEN 4 ELSE 0 END"
        f" + CASE WHEN s{p}_1 > 0 THEN 2 ELSE 0 END + CASE WHEN s{p}_0 > 0 THEN 1 ELSE 0 END)"
    )


def _signature_select(dialect: str) -> str:
    """SELECT doc_id, simhash FROM <token sums>; dialect differs only in
    the tokenizer and strpos/instr."""
    if dialect == "spark":
        tokens = "SELECT doc_id, explode(split(text, ' ')) AS s FROM documents"
    else:
        tokens = "SELECT doc_id, unnest(string_split(text, ' ')) AS s FROM documents"
    digits = ", ".join(f"{_digit_expr(p, dialect)} AS d{p}" for p in range(N_HEX))
    sums = ", ".join(", ".join(_bit_tests(p, dialect)) for p in range(N_HEX))
    chars = " || ".join(f"substr('{_HEX}', {_final_digit(p)} + 1, 1)" for p in range(N_HEX))
    return f"""
        SELECT doc_id, {chars} AS simhash
        FROM (
            SELECT doc_id, {sums}
            FROM (SELECT doc_id, {digits} FROM ({tokens}) tok) d
            GROUP BY doc_id
        ) t
    """


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per document (hex string).  The per-token digit
    arithmetic is CPU-heavy, so the input is spread to full parallelism
    first (no-op when the scan already has enough splits)."""
    from dronedb_spark.tables import spread

    docs = spread(docs)
    docs.createOrReplaceTempView("documents")
    return docs.sparkSession.sql(_signature_select("spark"))


def simhash_hamming(sig: DataFrame, max_dist: int = 16) -> DataFrame:
    """EXHAUSTIVE near-dups by Hamming distance — the all-pairs
    reference for thresholds where banding gives no guarantee.  The
    distance is the digit-wise popcount(xor) sum (``_pair_hamming``) —
    conv() returns STRING in Spark, so the former int64 xor never
    resolved (latent until the banded==exhaustive law pinned it), and a
    >2^63 signature would overflow a BIGINT cast to NULL anyway."""
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    j = a.join(b, F.col("doc_a") < F.col("doc_b"))
    dist = F.expr(_pair_hamming("spark"))
    return j.select("doc_a", "doc_b", dist.cast("int").alias("hamming")).filter(
        F.col("hamming") <= max_dist
    )


@check("text_simhash", oracle=_signature_select("duckdb"))
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(load(spark, sf_dir, "documents"))


# ----------------------------------------------------- banded near-dup --

N_BANDS = 4
BAND_HEX = N_HEX // N_BANDS  # 4 hex chars = 16 bits per band
HAM_MAX = 3


def _pair_hamming(dialect: str) -> str:
    """Hamming distance between two 16-hex signatures ha/hb as a
    16-term digit-wise popcount(xor) sum — the same text in both
    dialects (only xor spelling differs), so candidate verification is
    oracle-checkable, unlike the conv()-based int64 path."""
    xor = (
        "({a} ^ {b})" if dialect == "spark" else "xor({a}, {b})"
    )
    pos = "instr" if dialect == "spark" else "strpos"
    terms = []
    for p in range(N_HEX):
        da = f"({pos}('{_HEX}', substr(ha, {p + 1}, 1)) - 1)"
        db = f"({pos}('{_HEX}', substr(hb, {p + 1}, 1)) - 1)"
        terms.append(f"bit_count({xor.format(a=da, b=db)})")
    return " + ".join(terms)


def simhash_neardup_pairs(
    docs: DataFrame, max_dist: int = HAM_MAX
) -> DataFrame:
    """(doc_a, doc_b, hamming): EXACT SimHash near-dup pairs at
    Hamming ≤ 3, found WITHOUT the doc × doc cross: the 64-bit
    signature splits into 4 16-bit bands and by pigeonhole any pair
    within distance 3 agrees on at least one whole band — so the
    band equi-join's candidate set provably contains every answer,
    and the 16-term digit Hamming filter makes it exact.  One
    signature pass, one shuffle on (band, bv), candidate-sized
    verification; the ``simhash_hamming`` cross-join stays only as
    the exhaustive reference for higher thresholds."""
    from dronedb_spark.tables import barrier_persist

    # both sides of the band self-join derive from the signature table;
    # materialize it once or the 64-sum signature aggregation runs twice
    sig = barrier_persist(simhash_signatures(docs))
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring(
                            "simhash", b * BAND_HEX + 1, BAND_HEX
                        ).alias("bv"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("s"),
    ).select("doc_id", "simhash", "s.band", "s.bv")
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("ha"),
        "band",
        "bv",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("hb"),
        "band",
        "bv",
    )
    cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.expr(_pair_hamming("spark")).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_dist)
    )


@check(
    "simhash_neardup_pairs",
    small=True,
    oracle=f"""
        WITH sig AS ({_signature_select("duckdb")}),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS ha, b.simhash AS hb
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST({_pair_hamming("duckdb")} AS INT) AS hamming
        FROM pairs
        WHERE {_pair_hamming("duckdb")} <= {HAM_MAX}
        ORDER BY doc_a, doc_b""",
)
def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Hamming ≤ 3 SimHash pairs via the pigeonhole band join —
    value-checked against the oracle's exhaustive pair scan (the oracle
    MAY brute-force; the operator may not)."""
    return simhash_neardup_pairs(load(spark, sf_dir, "documents")).orderBy(
        "doc_a", "doc_b"
    )


# -------------------------------------------- store + incremental probe --
#
# The SimHash family's daily-ingest member, completing it next to the
# minhash/paragraph/substring/containment/winnow/image/audio stores:
# yesterday's signatures persist ONCE as a band-partitioned store, and
# today's batch answers "which of my documents are near-dups of stored
# documents" reading only its own band directories — signatures are
# never recomputed for the stored corpus per batch.
#
# Layout under <path>: one row per (band, b0=first band hex, bv, doc_id,
# simhash), partitioned by (band, b0) — 4 x 16 = 64 directories.  A
# probe batch's distinct (band, b0) set is ALPHABET-BOUNDED (<= 64 rows
# reach the driver — the containment <=64-bucket-id discipline).

PROBE_OFFSET = 40_000_000


def simhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, simhash, band, bv, b0): the 4 x 16-bit band rows."""
    return sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring("simhash", b * BAND_HEX + 1, BAND_HEX).alias("bv"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("s"),
    ).select(
        "doc_id",
        "simhash",
        F.col("s.band").alias("band"),
        F.col("s.bv").alias("bv"),
        F.substring(F.col("s.bv"), 1, 1).alias("b0"),
    )


def write_simhash_store(docs: DataFrame, path: str) -> None:
    """One signature pass -> band rows partitioned by (band, b0)."""
    simhash_bands(simhash_signatures(docs)).repartition("band", "b0").write.partitionBy(
        "band", "b0"
    ).mode("overwrite").parquet(path)


def simhash_match_triples(
    store_bands: DataFrame, batch_bands: DataFrame, max_dist: int = HAM_MAX
) -> DataFrame:
    """(src_id, dst_id, hamming): batch docs against stored docs via the
    pigeonhole band equi-join + the 16-term digit Hamming verify —
    mode-agnostic (the batch side may be a stream)."""
    a = batch_bands.select(
        F.col("doc_id").alias("src_id"), F.col("simhash").alias("ha"), "band", "bv"
    )
    b = store_bands.select(
        F.col("doc_id").alias("dst_id"), F.col("simhash").alias("hb"), "band", "bv"
    )
    cand = a.join(b, ["band", "bv"]).select("src_id", "dst_id", "ha", "hb").distinct()
    return cand.select(
        "src_id",
        "dst_id",
        F.expr(_pair_hamming("spark")).cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= max_dist)


def probe_band_prefixes(batch_bands: DataFrame) -> list[tuple[int, str]]:
    """Distinct (band, b0) partition keys of a batch — <= 64 rows reach
    the driver regardless of batch size."""
    return sorted(
        (r["band"], r["b0"])
        for r in batch_bands.select("band", "b0").distinct().collect()
    )


def incremental_simhash_probe(
    spark: SparkSession, path: str, batch: DataFrame, max_dist: int = HAM_MAX
) -> DataFrame:
    """Probe a new batch against the persisted store, reading only the
    batch's (band, b0) partition directories."""
    bands = simhash_bands(simhash_signatures(batch))
    keys = probe_band_prefixes(bands)
    store = spark.read.parquet(path).filter(
        F.concat(F.col("band").cast("string"), F.col("b0")).isin(
            [f"{b}{h}" for b, h in keys]
        )
    )
    return simhash_match_triples(store, bands, max_dist=max_dist)


def _rekeyed_batch(docs: DataFrame) -> DataFrame:
    """Today's re-scrape: every 10th document re-keyed (text unchanged,
    Hamming 0 to its original — the planted truth)."""
    return docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + PROBE_OFFSET).alias("doc_id"), "text"
    )


_STORE_PROBE_ORACLE = f"""
    WITH sig AS ({_signature_select("duckdb")}),
    batch AS (
        SELECT doc_id + {PROBE_OFFSET} AS doc_id, simhash FROM sig
        WHERE doc_id % 10 = 0),
    pairs AS (
        SELECT b.doc_id AS src_id, s.doc_id AS dst_id,
               b.simhash AS ha, s.simhash AS hb
        FROM batch b, sig s)
    SELECT src_id, dst_id,
           CAST({_pair_hamming("duckdb")} AS INT) AS hamming
    FROM pairs
    WHERE {_pair_hamming("duckdb")} <= {HAM_MAX}
    ORDER BY src_id, dst_id"""


@check("simhash_store_probe", oracle=_STORE_PROBE_ORACLE)
def q_simhash_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the band-partitioned SimHash store, then probe the re-keyed
    batch READING ONLY THE STORE — every planted re-scrape must surface
    its original at Hamming 0 (plus any true near-dups); the oracle
    brute-forces batch x corpus.  Scratch-dir check: collected
    in-function."""
    import tempfile

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as td:
        path = td + "/simhash_store"
        write_simhash_store(docs, path)
        out = incremental_simhash_probe(spark, path, _rekeyed_batch(docs))
        rows = [
            (r["src_id"], r["dst_id"], r["hamming"])
            for r in out.orderBy("src_id", "dst_id").collect()
        ]
    return spark.createDataFrame(rows, "src_id bigint, dst_id bigint, hamming int")
