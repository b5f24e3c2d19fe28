"""Video fingerprint near-dup — the video member of the perceptual
dedup family, built the way the audio member is
(``multimodal/audiofp.py``): per-FRAME subfingerprints, match = any
frame pair within hamming ``h``.  A re-encoded, brightness-shifted, or
TEMPORALLY TRIMMED copy of a clip shares its interior frames, so
per-frame keys give the shift invariance a whole-clip signature lacks
— the video analogue of the Haitsma-Kalker argument.

The per-frame key is the image dHash (``multimodal/phash.py``):
64 gradient-sign bits over 8×9 box means — photometric-shift
invariant, already banded 8×8-bit with the hot-bucket cap, so this
module is a composition: decode frames where the bytes live (one
Arrow pass per file batch, real GIF LZW decode), hash each frame,
then the capped banded join over DISTINCT (clip, frame-hash) rows and
a per-pair rollup.

Scale shape: decode+hash is linear one-file-per-task; candidates
come from the capped 8-bit band equi-join (never all-pairs; the
``_win_capped`` single-pass cap); the refine is JVM bit_count.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dronedb_spark.multimodal.phash import (
    MAX_DF,
    N_BANDS,
    _win_capped,
    dhash_array,
)
from dronedb_spark.suite import check
from dronedb_spark.tables import spread

_VF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("h1", T.LongType()),
        T.StructField("h2", T.LongType()),
    ]
)


def video_frame_hashes(media: DataFrame) -> DataFrame:
    """(media_id, frame_no, h1, h2) from (media_id, content) animated
    GIF bytes — decode every frame + dHash in one Arrow pass;
    undecodable files skip per-file."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dronedb_spark.sources.gif import decode_gif_frames

        for pdf in it:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    frames = decode_gif_frames(bytes(content))
                except Exception:
                    continue
                for f in range(frames.shape[0]):
                    try:
                        h1, h2 = dhash_array(frames[f, :, :, :3])
                    except Exception:
                        continue
                    rows.append(
                        {"media_id": int(mid), "frame_no": f, "h1": h1, "h2": h2}
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_no", "h1", "h2"]
            )

    return media.mapInPandas(kernel, schema=_VF_SCHEMA)


def video_neardup(
    hashes: DataFrame, max_hamming: int = 6, max_df: int = MAX_DF
) -> DataFrame:
    """(vid_a, vid_b, hamming, n_frame_matches) clip pairs where some
    frame-hash pair is within ``max_hamming`` bits — hamming is the
    minimum over matching DISTINCT frame-hash pairs."""
    if max_hamming > N_BANDS - 1:
        raise ValueError(
            f"banded candidate generation guarantees recall only to "
            f"hamming {N_BANDS - 1}"
        )
    distinct = hashes.select("media_id", "h1", "h2").distinct()
    band_structs = []
    for i in range(N_BANDS):
        half = F.col("h1") if i < 4 else F.col("h2")
        shift = (i % 4) * 8
        band_structs.append(
            F.struct(
                F.lit(i).alias("band"),
                ((half / (1 << shift)).cast("bigint") % 256).alias("bv"),
            )
        )
    bands = distinct.select(
        "media_id", "h1", "h2", F.explode(F.array(*band_structs)).alias("s")
    ).select("media_id", "h1", "h2", "s.band", "s.bv")
    kept = _win_capped(bands, max_df)
    a = kept.select(
        F.col("media_id").alias("vid_a"), F.col("h1").alias("h1a"),
        F.col("h2").alias("h2a"), "band", "bv",
    )
    b = kept.select(
        F.col("media_id").alias("vid_b"), F.col("h1").alias("h1b"),
        F.col("h2").alias("h2b"), "band", "bv",
    )
    cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("vid_a") < F.col("vid_b"))
        .select("vid_a", "vid_b", "h1a", "h2a", "h1b", "h2b")
        .distinct()
    )
    ham = F.expr("bit_count(h1a ^ h1b) + bit_count(h2a ^ h2b)")
    return (
        cand.select("vid_a", "vid_b", ham.alias("h"))
        .filter(F.col("h") <= max_hamming)
        .groupBy("vid_a", "vid_b")
        .agg(
            F.min("h").cast("int").alias("hamming"),
            F.count(F.lit(1)).cast("bigint").alias("n_frame_matches"),
        )
    )


# ----------------------------------------------------------- check --

# 3 clips per group: 3k = base (5 frames), 3k+1 = +3 brightness copy,
# 3k+2 = one-frame temporal trim (frames 1..5 — shares 4 interior
# frames with the base).  16×18 frames: 8|16 and 9|18, so box means
# are exact 2×2 averages and the oracle is closed-form.
_VF_GROUPS = 3
_VF_FRAMES = 5
_VF_H, _VF_W = 16, 18
_VF_MAX_DF = 8


def _vf_frame(i: int, f: int) -> np.ndarray:
    k, m = divmod(i, 3)
    g = f + (1 if m == 2 else 0)
    v = np.fromfunction(
        lambda y, x: (k * 37 + g * 29 + y * 5 + x * 11) % 200
        + (3 if m == 1 else 0),
        (_VF_H, _VF_W),
    )
    return np.repeat(v.astype(np.uint8)[:, :, None], 3, axis=2)


@check(
    "video_fp_neardup",
    small=True,
    oracle=f"""
        WITH px AS (
            SELECT i.i AS vid, f.f AS f, y.y AS y, x.x AS x,
                   CAST(((i.i // 3) * 37
                         + (f.f + CASE WHEN i.i % 3 = 2 THEN 1 ELSE 0 END) * 29
                         + y.y * 5 + x.x * 11) % 200
                        + CASE WHEN i.i % 3 = 1 THEN 3 ELSE 0 END AS DOUBLE) AS v
            FROM (SELECT unnest(range(0, {3 * _VF_GROUPS})) AS i) i,
                 (SELECT unnest(range(0, {_VF_FRAMES})) AS f) f,
                 (SELECT unnest(range(0, {_VF_H})) AS y) y,
                 (SELECT unnest(range(0, {_VF_W})) AS x) x),
        boxes AS (
            SELECT vid, f, y // 2 AS by, x // 2 AS bx, AVG(v) AS bv
            FROM px GROUP BY vid, f, y // 2, x // 2),
        bits AS (
            SELECT a.vid, a.f, a.by * 8 + a.bx AS idx,
                   CASE WHEN a.bv < b.bv THEN 1 ELSE 0 END AS bit
            FROM boxes a
            JOIN boxes b ON a.vid = b.vid AND a.f = b.f AND a.by = b.by
                        AND b.bx = a.bx + 1
            WHERE a.bx < 8),
        hs AS (
            SELECT DISTINCT vid, h1, h2 FROM (
                SELECT vid, f,
                       CAST(SUM(CASE WHEN idx < 32
                                     THEN bit * (1::BIGINT << idx) ELSE 0 END)
                            AS BIGINT) AS h1,
                       CAST(SUM(CASE WHEN idx >= 32
                                     THEN bit * (1::BIGINT << (idx - 32)) ELSE 0 END)
                            AS BIGINT) AS h2
                FROM bits GROUP BY vid, f) t),
        bands AS (
            SELECT vid, h1, h2, band,
                   CAST((CASE WHEN band < 4 THEN h1 ELSE h2 END
                         // (1::BIGINT << ((band % 4) * 8))) AS BIGINT) % 256 AS bv
            FROM hs, (SELECT unnest(range(0, {N_BANDS})) AS band) bs),
        rare AS (
            SELECT band, bv FROM bands
            GROUP BY band, bv HAVING COUNT(DISTINCT vid) <= {_VF_MAX_DF}),
        kept AS (SELECT b.* FROM bands b JOIN rare USING (band, bv)),
        cand AS (
            SELECT DISTINCT a.vid AS vid_a, b.vid AS vid_b,
                   a.h1 AS h1a, a.h2 AS h2a, b.h1 AS h1b, b.h2 AS h2b
            FROM kept a JOIN kept b
              ON a.band = b.band AND a.bv = b.bv AND a.vid < b.vid)
        SELECT vid_a, vid_b,
               CAST(MIN(bit_count(xor(h1a, h1b)) + bit_count(xor(h2a, h2b)))
                    AS INT) AS hamming,
               CAST(COUNT(*) AS BIGINT) AS n_frame_matches
        FROM cand
        WHERE bit_count(xor(h1a, h1b)) + bit_count(xor(h2a, h2b)) <= 6
        GROUP BY vid_a, vid_b
        ORDER BY vid_a, vid_b""",
)
def q_video_fp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real animated-GIF bytes → per-frame dHash → capped banded
    hamming pairs.  Each group plants BOTH robustness cases: the +3
    brightness copy (every frame at hamming 0) and the one-frame
    temporal trim (interior frames realign) — both MUST surface."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dronedb_spark.sources.gif import encode_gif

        for pdf in it:
            rows = [
                {
                    "media_id": int(i),
                    "content": encode_gif(
                        [_vf_frame(int(i), f) for f in range(_VF_FRAMES)]
                    ),
                }
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = spread(spark.range(3 * _VF_GROUPS)).mapInPandas(
        gen,
        schema=T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("content", T.BinaryType()),
            ]
        ),
    )
    pairs = video_neardup(
        video_frame_hashes(media), max_hamming=6, max_df=_VF_MAX_DF
    )
    return pairs.orderBy("vid_a", "vid_b")


# --------------------------------------------- incremental store probe --


def video_band_store(media: DataFrame, max_df: int = MAX_DF) -> DataFrame:
    """The persisted video index: (band, bv, media_id, h1, h2) banded
    DISTINCT frame-hash rows with the hot-bucket cap applied AT WRITE
    (a bucket shared by more clips than ``max_df`` indexes nothing) —
    the audio/image band-store discipline for the video modality;
    bucketed by (band, bv) on disk the nightly probe joins without
    reshuffling it."""
    distinct = video_frame_hashes(media).select("media_id", "h1", "h2").distinct()
    band_structs = []
    for i in range(N_BANDS):
        half = F.col("h1") if i < 4 else F.col("h2")
        shift = (i % 4) * 8
        band_structs.append(
            F.struct(
                F.lit(i).alias("band"),
                ((half / (1 << shift)).cast("bigint") % 256).alias("bv"),
            )
        )
    bands = distinct.select(
        "media_id", "h1", "h2", F.explode(F.array(*band_structs)).alias("s")
    ).select("media_id", "h1", "h2", "s.band", "s.bv")
    return _win_capped(bands, max_df)


def incremental_video_probe(
    batch_media: DataFrame, store: DataFrame, max_hamming: int = 6
) -> DataFrame:
    """(batch_vid, media_id, hamming, n_frame_matches): which indexed
    clips each NEW clip near-duplicates — only the batch decodes and
    hashes; the store side of the (band, bv) equi-join never recomputes."""
    if max_hamming > N_BANDS - 1:
        raise ValueError(
            f"banded candidate generation guarantees recall only to "
            f"hamming {N_BANDS - 1}"
        )
    bh = video_frame_hashes(batch_media).select("media_id", "h1", "h2").distinct()
    band_structs = []
    for i in range(N_BANDS):
        half = F.col("h1") if i < 4 else F.col("h2")
        shift = (i % 4) * 8
        band_structs.append(
            F.struct(
                F.lit(i).alias("band"),
                ((half / (1 << shift)).cast("bigint") % 256).alias("bv"),
            )
        )
    probe = bh.select(
        F.col("media_id").alias("batch_vid"),
        F.col("h1").alias("h1a"),
        F.col("h2").alias("h2a"),
        F.explode(F.array(*band_structs)).alias("s"),
    ).select("batch_vid", "h1a", "h2a", "s.band", "s.bv")
    cand = (
        probe.join(store, ["band", "bv"])
        .select("batch_vid", "media_id", "h1a", "h2a", "h1", "h2")
        .distinct()
    )
    ham = F.expr("bit_count(h1a ^ h1) + bit_count(h2a ^ h2)")
    return (
        cand.select("batch_vid", "media_id", ham.alias("h"))
        .filter(F.col("h") <= max_hamming)
        .groupBy("batch_vid", "media_id")
        .agg(
            F.min("h").cast("int").alias("hamming"),
            F.count(F.lit(1)).cast("bigint").alias("n_frame_matches"),
        )
    )


_VF_NOVEL_PIX = 150  # novel batch clip: pixel-group no store clip shares
# batch (vid, pixel-id) mapping: each base clip's brightness variant,
# re-keyed, plus the novel clip
_VF_BATCH = [(100 + 3 * k, 3 * k + 1) for k in range(_VF_GROUPS)] + [
    (200, _VF_NOVEL_PIX)
]


def _vf_hash_chain(src: str, tag: str) -> str:
    """px→boxes→bits→distinct-hashes CTE chain over a (vid, pix) id
    set — pixel derivation keyed by ``pix`` (the fixture formula),
    identity carried as ``vid``."""
    return f"""
        {tag}px AS (
            SELECT m.vid AS vid, f.f AS f, y.y AS y, x.x AS x,
                   CAST(((m.pix // 3) * 37
                         + (f.f + CASE WHEN m.pix % 3 = 2 THEN 1 ELSE 0 END) * 29
                         + y.y * 5 + x.x * 11) % 160
                        + CASE WHEN m.pix % 3 = 1 THEN 3 ELSE 0 END
                        + CASE WHEN (m.pix // 3) < 3
                               THEN CASE WHEN (x.x // 2) // 3 = (m.pix // 3)
                                         THEN 60 ELSE 0 END
                               ELSE CASE WHEN (x.x // 2) % 3 = 0
                                         THEN 60 ELSE 0 END END AS DOUBLE) AS v
            FROM ({src}) m,
                 (SELECT unnest(range(0, {_VF_FRAMES})) AS f) f,
                 (SELECT unnest(range(0, {_VF_H})) AS y) y,
                 (SELECT unnest(range(0, {_VF_W})) AS x) x),
        {tag}boxes AS (
            SELECT vid, f, y // 2 AS by, x // 2 AS bx, AVG(v) AS bv
            FROM {tag}px GROUP BY vid, f, y // 2, x // 2),
        {tag}bits AS (
            SELECT a.vid, a.f, a.by * 8 + a.bx AS idx,
                   CASE WHEN a.bv < b.bv THEN 1 ELSE 0 END AS bit
            FROM {tag}boxes a
            JOIN {tag}boxes b ON a.vid = b.vid AND a.f = b.f AND a.by = b.by
                        AND b.bx = a.bx + 1
            WHERE a.bx < 8),
        {tag}hs AS (
            SELECT DISTINCT vid, h1, h2 FROM (
                SELECT vid, f,
                       CAST(SUM(CASE WHEN idx < 32
                                     THEN bit * (1::BIGINT << idx) ELSE 0 END)
                            AS BIGINT) AS h1,
                       CAST(SUM(CASE WHEN idx >= 32
                                     THEN bit * (1::BIGINT << (idx - 32)) ELSE 0 END)
                            AS BIGINT) AS h2
                FROM {tag}bits GROUP BY vid, f) t)"""


_VF_BATCH_SQL = " UNION ALL ".join(
    f"SELECT {v} AS vid, {p} AS pix" for v, p in _VF_BATCH
)


def _vfi_frame(i: int, f: int) -> np.ndarray:
    """Incremental-fixture frames: the base derivation with GROUP
    column-raise separation (group k < 3 raises box-column triple k,
    the novel group raises columns {0,3,6}) — inter-group min hamming
    4 (> the probe's 3), intra-group 0 (empirically pinned), so
    "the novel clip stays silent" is structurally true, not luck."""
    k, m = divmod(i, 3)
    g = f + (1 if m == 2 else 0)

    def val(y, x):
        col = (x // 2).astype(int)
        raised = ((col // 3) == k) if k < 3 else ((col % 3) == 0)
        return (
            (k * 37 + g * 29 + y * 5 + x * 11) % 160
            + (3 if m == 1 else 0)
            + 60.0 * raised
        )

    v = np.fromfunction(val, (_VF_H, _VF_W))
    return np.repeat(v.astype(np.uint8)[:, :, None], 3, axis=2)



@check(
    "video_fp_incremental",
    oracle=f"""
        WITH {_vf_hash_chain(
            f"SELECT i AS vid, i AS pix FROM (SELECT unnest(range(0, {3 * _VF_GROUPS})) AS i) t",
            "s")},
        {_vf_hash_chain(_VF_BATCH_SQL, "b")},
        sbands AS (
            SELECT vid, h1, h2, band,
                   CAST((CASE WHEN band < 4 THEN h1 ELSE h2 END
                         // (1::BIGINT << ((band % 4) * 8))) AS BIGINT) % 256 AS bv
            FROM shs, (SELECT unnest(range(0, {N_BANDS})) AS band) bs),
        store AS (
            SELECT s.* FROM sbands s JOIN (
                SELECT band, bv FROM sbands
                GROUP BY band, bv HAVING COUNT(DISTINCT vid) <= {_VF_MAX_DF}) r
              USING (band, bv)),
        bbands AS (
            SELECT vid AS batch_vid, h1 AS h1a, h2 AS h2a, band,
                   CAST((CASE WHEN band < 4 THEN h1 ELSE h2 END
                         // (1::BIGINT << ((band % 4) * 8))) AS BIGINT) % 256 AS bv
            FROM bhs, (SELECT unnest(range(0, {N_BANDS})) AS band) bs),
        cand AS (
            SELECT DISTINCT b.batch_vid, s.vid AS media_id,
                   b.h1a, b.h2a, s.h1, s.h2
            FROM bbands b JOIN store s USING (band, bv))
        SELECT batch_vid, media_id,
               CAST(MIN(bit_count(xor(h1a, h1)) + bit_count(xor(h2a, h2)))
                    AS INT) AS hamming,
               CAST(COUNT(*) AS BIGINT) AS n_frame_matches
        FROM cand
        WHERE bit_count(xor(h1a, h1)) + bit_count(xor(h2a, h2)) <= 3
        GROUP BY batch_vid, media_id
        ORDER BY batch_vid, media_id""",
)
def q_video_fp_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest shape for the video modality: store = the 9 fixture
    clips' capped band index; batch = brightness-shifted RE-KEYED
    copies of each base clip plus one NOVEL clip.  Each copy must probe
    back to its whole store group; the novel clip stays silent — only
    the batch decodes and hashes."""

    def gen_for(mapping: list[tuple[int, int]]):
        def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from dronedb_spark.sources.gif import encode_gif

            pix = dict(mapping)
            for pdf in it:
                rows = [
                    {
                        "media_id": int(i),
                        "content": encode_gif(
                            [_vfi_frame(pix[int(i)], f)
                             for f in range(_VF_FRAMES)]
                        ),
                    }
                    for i in pdf["id"]
                ]
                yield pd.DataFrame(rows, columns=["media_id", "content"])

        return gen

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    store_ids = [(i, i) for i in range(3 * _VF_GROUPS)]
    store_media = spread(spark.range(3 * _VF_GROUPS)).mapInPandas(
        gen_for(store_ids), schema=schema
    )
    batch_media = spread(
        spark.createDataFrame([(v,) for v, _ in _VF_BATCH], "id long")
    ).mapInPandas(gen_for(_VF_BATCH), schema=schema)
    store = video_band_store(store_media, _VF_MAX_DF)
    return incremental_video_probe(batch_media, store, max_hamming=3).orderBy(
        "batch_vid", "media_id"
    )
