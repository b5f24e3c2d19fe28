"""Audio fingerprint near-dup — the audio member of the perceptual
dedup family (images: ``multimodal/phash.py`` dHash; text: MinHash /
SimHash).  Byte-identical audio is caught by the content hash;
re-encoded, gain-adjusted, or TRIMMED copies need a perceptual key.

Scheme: per-frame SUBFINGERPRINTS as actually published (Haitsma &
Kalker, "A Highly Robust Audio Fingerprint System", ISMIR 2002) —
overlapping frames (stride ≪ frame length), per-frame band energies,
and bit (n, m) = sign of the energy difference across time AND
frequency:

    bit(n, m) = 1  iff  (E[n,m] − E[n,m+1]) − (E[n−1,m] − E[n−1,m+1]) > 0

with 33 band energies → one 32-bit subfingerprint per frame.  Two clips
match when ANY subfingerprint pair is within hamming ``h`` (the
published match criterion).  Because every frame fingerprints
independently, a copy trimmed/offset by k·STRIDE samples shares all its
interior subfingerprints with the original — the shift invariance the
whole-clip window scheme this module used to carry provably lacked.

The "frequency bands" are sequency-ordered WALSH-HADAMARD components:
E[n,m] = c²(n,m) where c(n,m) = Σ_j v[j]·(−1)^popcount(nat(m) & j) over
the frame, nat(m) the natural Hadamard index of sequency m.  The WHT is
an octave-style integer filter bank (sequency = sign-change count ≈
frequency): EXACT int64 arithmetic end-to-end — no FFT floats, no
engine drift — computed with log2(FRAME) vectorized butterfly passes,
and restated closed-form in the DuckDB oracle as a signed sum.  A
constant gain g scales every E by g², preserving every difference sign
— a louder copy maps to identical subfingerprints, invisible to any
content hash.

Scale design (the dHash/winnow discipline, all three defenses):

  * decode + fingerprint is one Arrow ``mapInPandas`` pass over the
    binary cells (per-file catch-and-skip); bytes never leave the task;
  * candidates come from a 4×8-bit band equi-self-join over DISTINCT
    (clip, subfingerprint) rows — pigeonhole guarantees full recall to
    hamming 3 ≥ the default ``max_hamming=2`` — never all-pairs;
  * a HOT-BUCKET document-frequency cap (``winnow.py:MAX_DF``
    discipline) drops band keys present in more than ``max_df`` clips
    BEFORE the join: ubiquitous band values (silence, room tone) are
    exactly the boilerplate-phrase problem, and a bucket of f clips
    contributes f² candidate pairs without the cap.  Pairs surviving
    in ANY uncapped bucket keep the pigeonhole guarantee;
  * the exact hamming refine is JVM ``bit_count(xor)`` on candidates.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dronedb_spark.suite import check
from dronedb_spark.tables import spread

FRAME = 64            # samples per analysis frame
STRIDE = 16           # frame hop — stride ≪ frame (4× overlap)
N_EBANDS = 33         # sequency band energies per frame → 32 bits
SUB_BITS = N_EBANDS - 1
N_BANDS = 4           # 4 × 8-bit bands: recall guaranteed to hamming 3
BAND_BITS = 8
MAX_DF = 1000         # default hot-bucket cap (clips per band bucket)


def _gray(n: int) -> int:
    return n ^ (n >> 1)


def _bitrev(n: int, bits: int) -> int:
    r = 0
    for _ in range(bits):
        r = (r << 1) | (n & 1)
        n >>= 1
    return r


# natural Hadamard index of each sequency-ordered Walsh function
# (sequency s = number of sign changes; nat = bit_reverse(gray(s)))
SEQ2NAT: tuple[int, ...] = tuple(
    _bitrev(_gray(s), FRAME.bit_length() - 1) for s in range(FRAME)
)


def _wht(frames: np.ndarray) -> np.ndarray:
    """Exact int64 Walsh-Hadamard transform of (n, FRAME) frames —
    log2(FRAME) vectorized butterfly passes, natural Hadamard order:
    c[m] = Σ_j v[j] · (−1)^popcount(m & j)."""
    a = frames.copy()
    h = 1
    while h < FRAME:
        a = a.reshape(a.shape[0], -1, 2, h)
        x, y = a[:, :, 0, :].copy(), a[:, :, 1, :].copy()
        a[:, :, 0, :], a[:, :, 1, :] = x + y, x - y
        a = a.reshape(a.shape[0], FRAME)
        h *= 2
    return a


def audio_subfingerprints_np(samples: np.ndarray) -> list[int]:
    """32-bit subfingerprints of a PCM int16 stream, one per frame pair:
    subfingerprint n (n ≥ 1) holds the time-and-frequency energy
    difference signs between frames n−1 and n.  Needs at least two
    frames (FRAME + STRIDE samples)."""
    v = samples.astype(np.int64)
    if v.size < FRAME + STRIDE:
        raise ValueError(
            f"need at least {FRAME + STRIDE} samples, got {samples.size}"
        )
    n_fr = (v.size - FRAME) // STRIDE + 1
    idx = np.arange(FRAME)[None, :] + STRIDE * np.arange(n_fr)[:, None]
    c = _wht(v[idx])
    e = c[:, [SEQ2NAT[s] for s in range(1, N_EBANDS + 1)]] ** 2
    d = e[:, :-1] - e[:, 1:]
    bits = d[1:] - d[:-1] > 0
    weights = 1 << np.arange(SUB_BITS, dtype=np.int64)
    return [int(x) for x in (bits.astype(np.int64) * weights).sum(axis=1)]


_SUB_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("sub", T.LongType()),
    ]
)


def audio_subfingerprints(media: DataFrame) -> DataFrame:
    """(media_id, frame_no, sub) from (media_id, content) WAV bytes —
    decode + per-frame subfingerprints in one Arrow pass;
    undecodable/too-short files skip per-file."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dronedb_spark.sources.wav import decode_wav

        for pdf in it:
            out_mid: list[int] = []
            out_no: list[int] = []
            out_sub: list[int] = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    _sr, samples = decode_wav(bytes(content))
                    subs = audio_subfingerprints_np(samples)
                except Exception:
                    continue
                out_mid.extend(int(mid) for _ in subs)
                out_no.extend(range(1, len(subs) + 1))
                out_sub.extend(subs)
            yield pd.DataFrame(
                {"media_id": out_mid, "frame_no": out_no, "sub": out_sub},
                columns=["media_id", "frame_no", "sub"],
            )

    return media.mapInPandas(kernel, schema=_SUB_SCHEMA)


def _sub_bands(subs: DataFrame) -> DataFrame:
    """(media_id, sub, band, bv) — each DISTINCT (clip, subfingerprint)
    exploded to its N_BANDS 8-bit band keys."""
    return (
        subs.select("media_id", "sub")
        .distinct()
        .select(
            "media_id",
            "sub",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            (
                                F.shiftright("sub", i * BAND_BITS)
                                % (1 << BAND_BITS)
                            ).alias("bv"),
                        )
                        for i in range(N_BANDS)
                    ]
                )
            ).alias("s"),
        )
        .select("media_id", "sub", "s.band", "s.bv")
    )


def _df_capped(bands: DataFrame, max_df: int) -> DataFrame:
    """Drop band buckets present in more than ``max_df`` clips — one
    window pass (dense_rank max = distinct count; the phash.py
    ``_win_capped`` discipline): no second evaluation of the decode
    subtree, and the (band, bv) partitioning feeds the candidate join
    with no extra exchange."""
    w = Window.partitionBy("band", "bv")
    return (
        bands.withColumn("_dr", F.dense_rank().over(w.orderBy("media_id")))
        .withColumn("_df", F.max("_dr").over(w))
        .filter(F.col("_df") <= max_df)
        .drop("_dr", "_df")
    )


def _banded_candidates(subs: DataFrame, max_df: int) -> DataFrame:
    """(aud_a, aud_b, sa, sb) distinct candidate subfingerprint pairs
    from the capped band join."""
    kept = _df_capped(_sub_bands(subs), max_df)
    a = kept.select(
        F.col("media_id").alias("aud_a"), F.col("sub").alias("sa"), "band", "bv"
    )
    b = kept.select(
        F.col("media_id").alias("aud_b"), F.col("sub").alias("sb"), "band", "bv"
    )
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("aud_a") < F.col("aud_b"))
        .select("aud_a", "aud_b", "sa", "sb")
        .distinct()
    )


def audio_band_store(media: DataFrame, max_df: int = MAX_DF) -> DataFrame:
    """The persisted corpus fingerprint store: (media_id, sub, band, bv)
    rows with hot buckets already dropped — what a production pipeline
    writes once per ingested batch and keeps bucketed by (band, bv) on
    disk, so tomorrow's probe join needs no corpus-side shuffle and
    never re-decodes stored audio (the ``text/dedup.py:band_store``
    discipline for the audio family)."""
    return _df_capped(_sub_bands(audio_subfingerprints(media)), max_df)


def audio_incremental_neardup(
    batch_media: DataFrame, store: DataFrame, max_hamming: int = 2
) -> DataFrame:
    """Probe NEW clips against the persisted store: one row per batch
    clip — (aud, is_dup, n_store_hits, dup_of, min_hamming).  Only the
    batch decodes; the store side is pre-banded and pre-capped, so the
    join moves batch band keys only (broadcastable for a daily batch).
    Sentinels (-1) instead of NULLs for hit-less clips."""
    subs = audio_subfingerprints(batch_media)
    probe = _sub_bands(subs).withColumnRenamed("media_id", "aud").withColumnRenamed(
        "sub", "sub_probe"
    )
    hits = (
        probe.join(store, ["band", "bv"])
        .select(
            "aud",
            F.col("media_id").alias("store_id"),
            F.expr("bit_count(sub_probe ^ sub)").alias("h"),
        )
        .filter(F.col("h") <= max_hamming)
    )
    per_clip = hits.groupBy("aud").agg(
        F.countDistinct("store_id").alias("n_store_hits"),
        F.min("store_id").alias("dup_of"),
        F.min("h").alias("min_hamming"),
    )
    ids = batch_media.select(F.col("media_id").alias("aud")).distinct()
    return ids.join(per_clip, "aud", "left").select(
        "aud",
        F.col("n_store_hits").isNotNull().cast("int").alias("is_dup"),
        F.coalesce("n_store_hits", F.lit(0)).cast("bigint").alias("n_store_hits"),
        F.coalesce("dup_of", F.lit(-1)).cast("bigint").alias("dup_of"),
        F.coalesce("min_hamming", F.lit(-1)).cast("int").alias("min_hamming"),
    )


def audio_neardup(
    subs: DataFrame, max_hamming: int = 2, max_df: int = MAX_DF
) -> DataFrame:
    """(aud_a, aud_b, hamming, n_sub_matches) clip pairs where some
    subfingerprint pair is within ``max_hamming`` bits: hamming = the
    minimum over matching pairs, n_sub_matches = how many distinct
    subfingerprint pairs matched.  Candidates via the capped banded
    equi-join (pigeonhole: subfingerprints at d ≤ N_BANDS − 1 share an
    8-bit band)."""
    if max_hamming > N_BANDS - 1:
        raise ValueError(
            f"banding guarantees recall only to hamming {N_BANDS - 1}"
        )
    cand = _banded_candidates(subs, max_df)
    ham = F.expr("bit_count(sa ^ sb)")
    return (
        cand.select("aud_a", "aud_b", ham.alias("h"))
        .filter(F.col("h") <= max_hamming)
        .groupBy("aud_a", "aud_b")
        .agg(
            F.min("h").cast("int").alias("hamming"),
            F.count(F.lit(1)).cast("bigint").alias("n_sub_matches"),
        )
    )


# ----------------------------------------------------------- check --

# 7 groups × 3 clips: 3k = base, 3k+1 = 2× gain copy, 3k+2 = copy offset
# by TRIM samples (the trimmed-copy case whole-clip windows miss).
_AFP_GROUPS = 7
_AFP_LEN = 400            # samples per clip → 22 frames, 21 subfps
_AFP_TRIM = 2 * STRIDE    # trim offset (a multiple of the stride)
_AFP_MAX_DF = 16          # check-scale hot-bucket cap
_AFP_MAX_DF_10X = 64


def _afp_samples(i: int) -> np.ndarray:
    """Clip i: quadratic integer pseudo-noise (distinct per group k so
    frames get distinct spectra), gain-doubled for the 3k+1 mate,
    sample-offset for the 3k+2 mate.  Ids ≥ 100 are mate-less NOVEL
    clips (group 50 + (i−100)) for the incremental-probe fixture."""
    if i >= 100:
        k, m = 50 + (i - 100), 0
    else:
        k, m = divmod(i, 3)
    u = np.arange(_AFP_LEN, dtype=np.int64) + (_AFP_TRIM if m == 2 else 0)
    base = (u * u * (7 + k) + u * (13 + 29 * k)) % 2003 - 1001
    return (base * (2 if m == 1 else 1)).astype(np.int16)


def _seqmap_values() -> str:
    return ", ".join(f"({s}, {SEQ2NAT[s]})" for s in range(1, N_EBANDS + 1))


def _afp_subs_sql(n_clips: int, n_base: int) -> str:
    """DuckDB CTE chain computing (aud, n, sub) for ``n_clips`` clips
    whose content repeats every ``n_base`` ids — the closed-form
    restatement of the WHT subfingerprint pipeline."""
    n_frames = (_AFP_LEN - FRAME) // STRIDE + 1
    return f"""
        s AS (
            SELECT i.i AS base, t.t AS t,
                   CAST((((t.t + CASE WHEN i.i % 3 = 2 THEN {_AFP_TRIM} ELSE 0 END)
                          * (t.t + CASE WHEN i.i % 3 = 2 THEN {_AFP_TRIM} ELSE 0 END)
                          * (7 + i.i // 3)
                          + (t.t + CASE WHEN i.i % 3 = 2 THEN {_AFP_TRIM} ELSE 0 END)
                            * (13 + 29 * (i.i // 3))) % 2003 - 1001)
                        * (CASE WHEN i.i % 3 = 1 THEN 2 ELSE 1 END) AS BIGINT) AS v
            FROM (SELECT unnest(range(0, {n_base})) AS i) i,
                 (SELECT unnest(range(0, {_AFP_LEN})) AS t) t),
        seqmap(seq, nat) AS (VALUES {_seqmap_values()}),
        coef AS (
            SELECT s.base, f.n, b.seq,
                   SUM(s.v * (1 - 2 * (bit_count(b.nat & (s.t - f.n * {STRIDE})) % 2))) AS c
            FROM s,
                 (SELECT unnest(range(0, {n_frames})) AS n) f,
                 seqmap b
            WHERE s.t >= f.n * {STRIDE} AND s.t < f.n * {STRIDE} + {FRAME}
            GROUP BY s.base, f.n, b.seq),
        d AS (
            SELECT a.base, a.n, a.seq AS m, a.c * a.c - b.c * b.c AS d
            FROM coef a JOIN coef b
              ON b.base = a.base AND b.n = a.n AND b.seq = a.seq + 1
            WHERE a.seq <= {SUB_BITS}),
        bits AS (
            SELECT cur.base, cur.n, cur.m - 1 AS idx,
                   CASE WHEN cur.d - prev.d > 0 THEN 1 ELSE 0 END AS bit
            FROM d cur JOIN d prev
              ON prev.base = cur.base AND prev.n = cur.n - 1 AND prev.m = cur.m),
        basesubs AS (
            SELECT base, n,
                   CAST(SUM(bit * (1::BIGINT << CAST(idx AS INT))) AS BIGINT) AS sub
            FROM bits GROUP BY base, n),
        subs AS (
            SELECT c.i AS aud, bs.n, bs.sub
            FROM (SELECT unnest(range(0, {n_clips})) AS i) c
            JOIN basesubs bs ON bs.base = c.i % {n_base})"""


def _afp_pairs_sql(n_clips: int, n_base: int, max_df: int) -> str:
    return f"""
        WITH {_afp_subs_sql(n_clips, n_base)},
        dsubs AS (SELECT DISTINCT aud, sub FROM subs),
        bands AS (
            SELECT aud, sub, band,
                   CAST(sub // (1::BIGINT << (band * {BAND_BITS})) AS BIGINT)
                       % {1 << BAND_BITS} AS bv
            FROM dsubs, (SELECT unnest(range(0, {N_BANDS})) AS band) bs),
        rare AS (
            SELECT band, bv FROM bands
            GROUP BY band, bv HAVING COUNT(DISTINCT aud) <= {max_df}),
        kept AS (SELECT b.* FROM bands b JOIN rare USING (band, bv)),
        cand AS (
            SELECT DISTINCT a.aud AS aud_a, b.aud AS aud_b,
                   a.sub AS sa, b.sub AS sb
            FROM kept a JOIN kept b
              ON a.band = b.band AND a.bv = b.bv AND a.aud < b.aud),
        pairs AS (
            SELECT aud_a, aud_b,
                   CAST(MIN(bit_count(xor(sa, sb))) AS INT) AS hamming,
                   CAST(COUNT(*) AS BIGINT) AS n_sub_matches
            FROM cand WHERE bit_count(xor(sa, sb)) <= 2
            GROUP BY aud_a, aud_b)"""


def _gen_afp_wav(ids: DataFrame, n_base: int) -> DataFrame:
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dronedb_spark.sources.wav import encode_wav

        for pdf in it:
            rows = [
                {
                    "media_id": int(i),
                    "content": encode_wav(_afp_samples(int(i) % n_base), 16000),
                }
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    return ids.mapInPandas(
        gen,
        schema=T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("content", T.BinaryType()),
            ]
        ),
    )


@check(
    "audio_fp_neardup",
    small=True,
    oracle=_afp_pairs_sql(3 * _AFP_GROUPS, 3 * _AFP_GROUPS, _AFP_MAX_DF)
    + """
        SELECT aud_a, aud_b, hamming, n_sub_matches
        FROM pairs ORDER BY aud_a, aud_b""",
)
def q_audio_fp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PCM16 WAV bytes through decode → per-frame WHT
    subfingerprints → capped banded hamming pairs.  Each group of 3
    plants BOTH robustness cases: the 2× gain mate (every band energy
    scales 4×, every difference sign survives) and the TRIMMED mate
    offset by 2·STRIDE samples (its frames realign with the original's
    — the case the old whole-clip window fingerprint provably missed).
    All three pairs per group MUST surface at hamming 0."""
    media = _gen_afp_wav(spread(spark.range(3 * _AFP_GROUPS)), 3 * _AFP_GROUPS)
    pairs = audio_neardup(
        audio_subfingerprints(media), max_hamming=2, max_df=_AFP_MAX_DF
    )
    return pairs.orderBy("aud_a", "aud_b")


# -------------------------------------------- incremental store probe --

# store: the base + gain clips of all 7 groups; batch: the 7 trimmed
# mates (must hit their group) + 3 novel clips (must miss)
_AFP_NOVEL = 3


def _afp_subs_generic_sql(ids_sql: str) -> str:
    """DuckDB CTEs computing subs(aud, n, sub) for an arbitrary clip-id
    set (ids ≥ 100 are novel clips, group 50 + (id − 100))."""
    n_frames = (_AFP_LEN - FRAME) // STRIDE + 1
    k = "(CASE WHEN i.i >= 100 THEN 50 + (i.i - 100) ELSE CAST(i.i // 3 AS BIGINT) END)"
    m = "(CASE WHEN i.i >= 100 THEN 0 ELSE i.i % 3 END)"
    u = f"(t.t + CASE WHEN {m} = 2 THEN {_AFP_TRIM} ELSE 0 END)"
    return f"""
        s AS (
            SELECT i.i AS aud, t.t AS t,
                   CAST((({u} * {u} * (7 + {k})
                          + {u} * (13 + 29 * {k})) % 2003 - 1001)
                        * (CASE WHEN {m} = 1 THEN 2 ELSE 1 END) AS BIGINT) AS v
            FROM ({ids_sql}) i,
                 (SELECT unnest(range(0, {_AFP_LEN})) AS t) t),
        seqmap(seq, nat) AS (VALUES {_seqmap_values()}),
        coef AS (
            SELECT s.aud, f.n, b.seq,
                   SUM(s.v * (1 - 2 * (bit_count(b.nat & (s.t - f.n * {STRIDE})) % 2))) AS c
            FROM s,
                 (SELECT unnest(range(0, {n_frames})) AS n) f,
                 seqmap b
            WHERE s.t >= f.n * {STRIDE} AND s.t < f.n * {STRIDE} + {FRAME}
            GROUP BY s.aud, f.n, b.seq),
        d AS (
            SELECT a.aud, a.n, a.seq AS m, a.c * a.c - b.c * b.c AS d
            FROM coef a JOIN coef b
              ON b.aud = a.aud AND b.n = a.n AND b.seq = a.seq + 1
            WHERE a.seq <= {SUB_BITS}),
        bits AS (
            SELECT cur.aud, cur.n, cur.m - 1 AS idx,
                   CASE WHEN cur.d - prev.d > 0 THEN 1 ELSE 0 END AS bit
            FROM d cur JOIN d prev
              ON prev.aud = cur.aud AND prev.n = cur.n - 1 AND prev.m = cur.m),
        subs AS (
            SELECT aud, n,
                   CAST(SUM(bit * (1::BIGINT << CAST(idx AS INT))) AS BIGINT) AS sub
            FROM bits GROUP BY aud, n)"""


_AFP_INC_IDS = (
    f"SELECT unnest(range(0, {3 * _AFP_GROUPS})) AS i"
    f" UNION ALL SELECT unnest(range(100, {100 + _AFP_NOVEL})) AS i"
)


@check(
    "audio_fp_incremental",
    small=True,
    oracle=f"""
        WITH {_afp_subs_generic_sql(_AFP_INC_IDS)},
        dsubs AS (SELECT DISTINCT aud, sub FROM subs),
        bands AS (
            SELECT aud, sub, band,
                   CAST(sub // (1::BIGINT << (band * {BAND_BITS})) AS BIGINT)
                       % {1 << BAND_BITS} AS bv
            FROM dsubs, (SELECT unnest(range(0, {N_BANDS})) AS band) bs),
        store AS (
            SELECT b.* FROM bands b
            JOIN (SELECT band, bv FROM bands WHERE aud < 100 AND aud % 3 <> 2
                  GROUP BY band, bv
                  HAVING COUNT(DISTINCT aud) <= {_AFP_MAX_DF}) r USING (band, bv)
            WHERE b.aud < 100 AND b.aud % 3 <> 2),
        probe AS (
            SELECT aud, sub AS sub_probe, band, bv FROM bands
            WHERE aud >= 100 OR aud % 3 = 2),
        hits AS (
            SELECT p.aud, s.aud AS store_id,
                   bit_count(xor(p.sub_probe, s.sub)) AS h
            FROM probe p JOIN store s USING (band, bv)
            WHERE bit_count(xor(p.sub_probe, s.sub)) <= 2),
        per_clip AS (
            SELECT aud, COUNT(DISTINCT store_id) AS n_store_hits,
                   MIN(store_id) AS dup_of, MIN(h) AS min_hamming
            FROM hits GROUP BY aud)
        SELECT i.i AS aud,
               CAST(CASE WHEN pc.aud IS NULL THEN 0 ELSE 1 END AS INT) AS is_dup,
               CAST(COALESCE(pc.n_store_hits, 0) AS BIGINT) AS n_store_hits,
               CAST(COALESCE(pc.dup_of, -1) AS BIGINT) AS dup_of,
               CAST(COALESCE(pc.min_hamming, -1) AS INT) AS min_hamming
        FROM ({_AFP_INC_IDS}) i
        LEFT JOIN per_clip pc ON pc.aud = i.i
        WHERE i.i >= 100 OR i.i % 3 = 2
        ORDER BY aud""",
)
def q_audio_fp_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest runtime for audio: the store holds the base +
    gain clips (banded, hot buckets capped at build); the batch decodes
    the 7 TRIMMED mates plus 3 novel clips.  Every trimmed mate must
    hit its group in the store (shared interior subfingerprints at
    hamming 0); every novel clip must miss — only the batch side ever
    decodes."""
    store_ids = [i for i in range(3 * _AFP_GROUPS) if i % 3 != 2]
    batch_ids = [i for i in range(3 * _AFP_GROUPS) if i % 3 == 2] + [
        100 + j for j in range(_AFP_NOVEL)
    ]
    store_media = _gen_afp_wav_ids(spark, store_ids)
    batch_media = _gen_afp_wav_ids(spark, batch_ids)
    store = audio_band_store(store_media, max_df=_AFP_MAX_DF)
    return audio_incremental_neardup(batch_media, store).orderBy("aud")


def _gen_afp_wav_ids(spark: SparkSession, ids: list[int]) -> DataFrame:
    base = spread(
        spark.createDataFrame([(int(i),) for i in ids], "id long")
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dronedb_spark.sources.wav import encode_wav

        for pdf in it:
            rows = [
                {"media_id": int(i), "content": encode_wav(_afp_samples(int(i)), 16000)}
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    return base.mapInPandas(
        gen,
        schema=T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("content", T.BinaryType()),
            ]
        ),
    )


# ------------------------------------------------- 10x stress twin --

_AFP_COPIES = 10


@check(
    "audio_fp_neardup_10x",
    oracle=_afp_pairs_sql(
        3 * _AFP_GROUPS * _AFP_COPIES, 3 * _AFP_GROUPS, _AFP_MAX_DF_10X
    )
    + """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN hamming = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
               CAST(COUNT(DISTINCT aud_a) AS BIGINT) AS n_lhs
        FROM pairs""",
)
def q_audio_fp_neardup_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The subfingerprint pipeline at 10× media mass — 210 WAV clips
    (10 re-keyed copies per fixture clip) through decode + the capped
    banded join.  Decode is linear (one file per task); every copy
    group shares identical subfingerprints, so band buckets are
    genuinely hot (30+ clips) and the document-frequency cap is
    exercised for real — buckets hotter than the cap drop, pairs
    sharing any rarer band still surface."""
    n = 3 * _AFP_GROUPS * _AFP_COPIES
    media = _gen_afp_wav(spread(spark.range(n)), 3 * _AFP_GROUPS)
    pairs = audio_neardup(
        audio_subfingerprints(media), max_hamming=2, max_df=_AFP_MAX_DF_10X
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("hamming") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.countDistinct("aud_a").cast("bigint").alias("n_lhs"),
    )
