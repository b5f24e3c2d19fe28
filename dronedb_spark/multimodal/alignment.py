"""Image–text alignment filtering — the LAION/DataComp caption-pair
gate (Schuhmann et al. 2021; Gadre et al. 2023): an image–caption pair
survives only if the two embeddings agree.  Production runs score with
CLIP; the Spark-side pipeline is model-agnostic — decode the image
bytes where they live, embed, embed the caption, score, threshold —
and THAT pipeline is what this module makes real:

  * image embedding: REAL decode (the GIF LZW codec) → 4×4 grid of
    exact integer cell sums in one Arrow pass, one file per task —
    bytes never leave the task, only the 16-long vector moves;
  * caption embedding: a numeric-caption parser (split + cast — pure
    JVM columns).  A CLIP text tower slots in here as an Arrow kernel
    with the same (id, vector) contract;
  * score: SQUARED cosine from exact BIGINT dot products —
    ``num² / (‖a‖²·‖b‖²)`` — one double division at the end, so the
    score is deterministic across engines, partitionings, and cluster
    sizes (no float accumulation order anywhere);
  * gate: ``score ≥ threshold²`` — monotone-equivalent to cosine
    thresholding for the non-negative embeddings used here.

Scale shape: decode is linear one-file-per-task; everything after is a
narrow 16-term codegen'd projection (no shuffle, no interpreted HOF —
the dot product unrolls to literal element_at terms).  At 100 TB the
only data movement is the initial binary scan.

No reference counterpart (the C++ engine has no caption surface);
cites the public LAION/DataComp filtering recipes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dronedb_spark.suite import check
from dronedb_spark.tables import spread

GRID = 4  # grid cells per side; embedding dimension = GRID*GRID
DEFAULT_MIN_COS2 = 0.98  # squared-cosine keep threshold


_EMB_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("img_vec", T.ArrayType(T.LongType())),
    ]
)


def grid_image_embed(media: DataFrame) -> DataFrame:
    """(media_id, img_vec): decode image bytes → GRID×GRID exact
    integer cell sums over the first frame's first channel.  Integer
    sums (not float means) so every downstream product is exact."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dronedb_spark.sources.gif import decode_gif_frames

        for pdf in it:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    fr = decode_gif_frames(bytes(content))[0, :, :, 0]
                except Exception:
                    continue
                h, w = fr.shape
                by, bx = h // GRID, w // GRID
                if by == 0 or bx == 0:
                    continue
                v = (
                    fr[: by * GRID, : bx * GRID]
                    .astype(np.int64)
                    .reshape(GRID, by, GRID, bx)
                    .sum(axis=(1, 3))
                    .reshape(-1)
                )
                rows.append({"media_id": int(mid), "img_vec": v.tolist()})
            yield pd.DataFrame(rows, columns=["media_id", "img_vec"])

    return media.mapInPandas(kernel, schema=_EMB_SCHEMA)


def numeric_caption_embed(caption: Column) -> Column:
    """Caption 'cells <n0> <n1> ...' → array<bigint> — the pluggable
    text-tower slot, here a pure-column parser."""
    return F.expr(
        "transform(slice(split(caption, ' '), 2, 10000), t -> CAST(t AS BIGINT))"
    )


def _dot(a: str, b: str, n: int) -> Column:
    """Exact BIGINT dot product unrolled to codegen'd literal terms —
    the HOF fold would be interpreted per row."""
    terms = " + ".join(
        f"element_at({a}, {i + 1}) * element_at({b}, {i + 1})" for i in range(n)
    )
    return F.expr(terms).cast("bigint")


def alignment_scores(
    media_with_captions: DataFrame, dims: int = GRID * GRID
) -> DataFrame:
    """(media_id, caption, score): squared cosine between the decoded
    image embedding and the caption embedding, exact to one final
    double division."""
    emb = grid_image_embed(
        media_with_captions.select("media_id", "content")
    )
    cap = media_with_captions.select(
        "media_id", "caption", numeric_caption_embed(F.col("caption")).alias("cap_vec")
    )
    j = emb.join(cap, "media_id")
    return j.select(
        "media_id",
        "caption",
        (
            (_dot("img_vec", "cap_vec", dims) * _dot("img_vec", "cap_vec", dims))
            .cast("double")
            / (_dot("img_vec", "img_vec", dims) * _dot("cap_vec", "cap_vec", dims))
            .cast("double")
        ).alias("score"),
    )


def alignment_filter(
    scored: DataFrame, min_cos2: float = DEFAULT_MIN_COS2
) -> DataFrame:
    """The surviving pairs: score ≥ the squared-cosine threshold."""
    return scored.filter(F.col("score") >= float(min_cos2))


# -------------------------------------------------------------- check --

_AL_N = 12
_AL_SIDE = 16


def _al_frame(i: int) -> np.ndarray:
    v = np.fromfunction(
        lambda y, x: (i * i * 13 + i * 29 + y * 5 + x * 11 + y * x * (i % 5))
        % 200,
        (_AL_SIDE, _AL_SIDE),
    )
    return np.repeat(v.astype(np.uint8)[:, :, None], 3, axis=2)


def _al_cells(i: int) -> list[int]:
    v = _al_frame(i)[:, :, 0].astype(np.int64)
    b = _AL_SIDE // GRID
    return (
        v.reshape(GRID, b, GRID, b).sum(axis=(1, 3)).reshape(-1).tolist()
    )


@check(
    "image_text_alignment",
    small=True,
    oracle=f"""
        WITH px AS (
            SELECT i.i AS id, y.y // 4 AS by, x.x // 4 AS bx,
                   CAST((i.i * i.i * 13 + i.i * 29 + y.y * 5 + x.x * 11
                         + y.y * x.x * (i.i % 5)) % 200 AS BIGINT) AS v
            FROM (SELECT unnest(range(0, {_AL_N})) AS i) i,
                 (SELECT unnest(range(0, {_AL_SIDE})) AS y) y,
                 (SELECT unnest(range(0, {_AL_SIDE})) AS x) x),
        cells AS (
            SELECT id, by * {GRID} + bx AS d, SUM(v) AS c
            FROM px GROUP BY id, by, bx),
        pairs AS (
            SELECT a.id,
                   CAST(SUM(a.c * b.c) AS BIGINT) AS num,
                   CAST(SUM(a.c * a.c) AS BIGINT) AS na,
                   CAST(SUM(b.c * b.c) AS BIGINT) AS nb
            FROM cells a
            JOIN cells b ON b.id = (a.id + a.id % 3) % {_AL_N} AND b.d = a.d
            GROUP BY a.id)
        SELECT id AS media_id,
               ROUND(CAST(num * num AS DOUBLE) / CAST(na * nb AS DOUBLE), 9)
                   AS score,
               CAST(num * num AS DOUBLE) / CAST(na * nb AS DOUBLE)
                   >= {DEFAULT_MIN_COS2} AS keep
        FROM pairs ORDER BY media_id""",
)
def q_image_text_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real GIF bytes + numeric captions → decode, embed both sides,
    exact squared-cosine, threshold.  Captions of ids with
    ``id % 3 != 0`` describe a DIFFERENT image — those pairs must score
    < the keep threshold while matched pairs score exactly 1.0."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dronedb_spark.sources.gif import encode_gif

        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                cap_src = (i + i % 3) % _AL_N
                rows.append(
                    {
                        "media_id": i,
                        "content": encode_gif([_al_frame(i)]),
                        "caption": "cells "
                        + " ".join(str(c) for c in _al_cells(cap_src)),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "content", "caption"])

    media = spread(spark.range(_AL_N)).mapInPandas(
        gen,
        schema=T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("content", T.BinaryType()),
                T.StructField("caption", T.StringType()),
            ]
        ),
    )
    scored = alignment_scores(media)
    return scored.select(
        "media_id",
        F.round("score", 9).alias("score"),
        (F.col("score") >= DEFAULT_MIN_COS2).alias("keep"),
    ).orderBy("media_id")
