"""WebDataset tar-shard sink + source — the de-facto container for
multimodal training data (public WebDataset format: POSIX tar files
whose consecutive members share a basename key, ``000123.gif`` +
``000123.txt`` + ``000123.json`` = one sample; loaders stream shards
sequentially).  A Spark pipeline that curates image–caption pairs
needs to EMIT this layout and to read it back for audit — both ends
here, pure stdlib ``tarfile``.

Determinism: members are written in (key, ext) order with zeroed
mtime/uid/gid/uname (the reproducible-artifact discipline), so a shard
is a byte-function of its samples — re-running the job yields
byte-identical shards, which is what makes shard-level content hashes
usable for sync (``operators/delta.py``).

Scale shape: shard assignment is ``sample_id DIV per_shard`` (no
shuffle beyond the repartition to one task per shard — the natural
write parallelism); each task writes ONE tar sequentially (tar is a
streaming format; a shard is some hundreds of MB by construction) and
emits only a manifest row.  Reading is the house binaryFile pattern:
one shard per task, members grouped by key in-task, bytes never move
except as output rows.

No reference counterpart; cites the public WebDataset format notes.
"""

from __future__ import annotations

import io
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dronedb_spark.suite import check
from dronedb_spark.tables import spread

PER_SHARD = 8  # fixture samples per shard


def _tar_add(tf: tarfile.TarFile, name: str, payload: bytes) -> None:
    info = tarfile.TarInfo(name=name)
    info.size = len(payload)
    info.mtime = 0
    info.uid = info.gid = 0
    info.uname = info.gname = ""
    tf.addfile(info, io.BytesIO(payload))


def write_shard(samples: list[tuple[str, dict[str, bytes]]]) -> bytes:
    """One shard's bytes from [(key, {ext: payload})] — members in
    (key, ext) order, reproducible headers."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for key, parts in sorted(samples, key=lambda kv: kv[0]):
            for ext in sorted(parts):
                _tar_add(tf, f"{key}.{ext}", parts[ext])
    return buf.getvalue()


def read_shard(data: bytes) -> list[tuple[str, str, bytes]]:
    """[(key, ext, payload)] from one shard's bytes."""
    out = []
    with tarfile.open(fileobj=io.BytesIO(data), mode="r") as tf:
        for m in tf.getmembers():
            if not m.isfile():
                continue
            key, dot, ext = m.name.rpartition(".")
            payload = tf.extractfile(m).read()
            out.append((key if dot else m.name, ext if dot else "", payload))
    return out


_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_members", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def write_webdataset(
    samples: DataFrame, out_dir: str, per_shard: int = PER_SHARD
) -> DataFrame:
    """Write (sample_id, image, caption) rows as ``shard-NNNNNN.tar``
    files under ``out_dir``; returns the manifest.  One task writes one
    shard: rows hash-partition on the shard number, each task groups
    its rows in-memory (a shard is bounded by construction) and streams
    one tar."""
    assigned = samples.withColumn(
        "shard_no", F.expr(f"sample_id DIV {per_shard}").cast("bigint")
    )

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        by_shard: dict[int, list] = {}
        for pdf in it:
            for sid, img, cap, sh in zip(
                pdf["sample_id"], pdf["image"], pdf["caption"], pdf["shard_no"]
            ):
                by_shard.setdefault(int(sh), []).append(
                    (
                        f"{int(sid):06d}",
                        {"gif": bytes(img), "txt": cap.encode("utf-8")},
                    )
                )
        rows = []
        for sh, items in by_shard.items():
            payload = write_shard(items)
            name = f"shard-{sh:06d}.tar"
            with open(os.path.join(out_dir, name), "wb") as f:
                f.write(payload)
            rows.append(
                {
                    "shard": name,
                    "n_samples": len(items),
                    "n_members": 2 * len(items),
                    "n_bytes": len(payload),
                }
            )
        yield pd.DataFrame(rows, columns=[f.name for f in _MANIFEST_SCHEMA.fields])

    return assigned.repartition("shard_no").mapInPandas(
        kernel, schema=_MANIFEST_SCHEMA
    )


_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("ext", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def read_webdataset(files: DataFrame) -> DataFrame:
    """(file_name, content) shards → one row per member."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for name, content in zip(pdf["file_name"], pdf["content"]):
                try:
                    members = read_shard(bytes(content))
                except Exception:
                    continue
                for key, ext, payload in members:
                    rows.append(
                        {
                            "shard": name,
                            "key": key,
                            "ext": ext,
                            "n_bytes": len(payload),
                            "content": payload,
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in _SAMPLE_SCHEMA.fields])

    return files.mapInPandas(kernel, schema=_SAMPLE_SCHEMA)


# -------------------------------------------------------------- check --

_WD_N = 20  # samples; PER_SHARD=8 → shards of 8, 8, 4


def _wd_image(i: int) -> bytes:
    import numpy as np

    from dronedb_spark.sources.gif import encode_gif

    v = np.fromfunction(lambda y, x: (i * 23 + y * 3 + x * 7) % 190, (8, 8))
    return encode_gif([np.repeat(v.astype("uint8")[:, :, None], 3, axis=2)])


def _wd_caption(i: int) -> str:
    return f"caption for sample {i}"


@check(
    "webdataset_roundtrip",
    small=True,
    oracle=f"""
        WITH ids AS (SELECT unnest(range(0, {_WD_N})) AS i),
        samples AS (
            SELECT 'shard-' || lpad(CAST(i // {PER_SHARD} AS VARCHAR), 6, '0')
                       || '.tar' AS shard,
                   i, length('caption for sample ' || i) AS cap_len
            FROM ids)
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(cap_len) AS BIGINT) AS caption_bytes,
               CAST(COUNT(*) AS BIGINT) AS images_intact
        FROM samples GROUP BY shard ORDER BY shard""",
)
def q_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write image+caption samples as real tar shards, read them back
    distributed, and verify: per shard, the sample count, caption byte
    mass, and how many images survived BYTE-IDENTICAL (must equal
    n_samples).  Scratch-dir check: collected in-function."""
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                rows = [
                    {
                        "sample_id": int(i),
                        "image": _wd_image(int(i)),
                        "caption": _wd_caption(int(i)),
                    }
                    for i in pdf["id"]
                ]
                yield pd.DataFrame(rows, columns=["sample_id", "image", "caption"])

        samples = spread(spark.range(_WD_N)).mapInPandas(
            gen,
            schema=T.StructType(
                [
                    T.StructField("sample_id", T.LongType()),
                    T.StructField("image", T.BinaryType()),
                    T.StructField("caption", T.StringType()),
                ]
            ),
        )
        write_webdataset(samples, td).collect()  # materialize the shards

        from dronedb_spark.sources.bridge import scan_binaries

        members = read_webdataset(scan_binaries(spark, td, "*.tar"))

        def verify(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                rows = []
                for _, r in pdf.iterrows():
                    i = int(r["key"])
                    if r["ext"] == "txt":
                        ok = bytes(r["content"]).decode("utf-8") == _wd_caption(i)
                        rows.append(
                            {"shard": r["shard"], "i": i, "cap_len": int(r["n_bytes"]) if ok else -1, "img_ok": 0}
                        )
                    elif r["ext"] == "gif":
                        rows.append(
                            {
                                "shard": r["shard"],
                                "i": i,
                                "cap_len": 0,
                                "img_ok": int(bytes(r["content"]) == _wd_image(i)),
                            }
                        )
                yield pd.DataFrame(rows, columns=["shard", "i", "cap_len", "img_ok"])

        stats = members.mapInPandas(
            verify,
            schema=T.StructType(
                [
                    T.StructField("shard", T.StringType()),
                    T.StructField("i", T.IntegerType()),
                    T.StructField("cap_len", T.LongType()),
                    T.StructField("img_ok", T.LongType()),
                ]
            ),
        )
        rows = (
            stats.groupBy("shard")
            .agg(
                F.countDistinct("i").cast("bigint").alias("n_samples"),
                F.sum("cap_len").cast("bigint").alias("caption_bytes"),
                F.sum("img_ok").cast("bigint").alias("images_intact"),
            )
            .orderBy("shard")
            .collect()
        )
    return spark.createDataFrame(
        [(r["shard"], r["n_samples"], r["caption_bytes"], r["images_intact"]) for r in rows],
        "shard string, n_samples bigint, caption_bytes bigint, images_intact bigint",
    )
