"""WARC / WET web-archive source — the Common-Crawl ingestion path: a
100 TB text pipeline starts from ``.warc.gz`` (raw HTTP captures) or
``.wet.gz`` (pre-extracted conversions), and this module reads both
into the documents shape the text operators consume.

Format (public ISO 28500 / WARC 1.0 spec): a record is a version line
``WARC/1.0``, CRLF-terminated named headers (``WARC-Type``,
``WARC-Target-URI``, ``WARC-Date``, ``Content-Type``,
``Content-Length``), one blank line, exactly ``Content-Length`` payload
bytes, then two blank lines.  ``.warc.gz`` files are CONCATENATED
per-record gzip members (the spec's random-access layout).

Parsing discipline: records are delimited by walking ``Content-Length``
— never by scanning for the ``WARC/1.0`` magic, which legally occurs
inside payloads (a page QUOTING a WARC file would desync a
magic-splitting reader).  Gzip members decompress incrementally via
``zlib`` ``unused_data`` chaining.

Scale shape: one file per task end-to-end (Arrow ``mapInPandas``; a
crawl segment is ~1 GB, the natural split), decode bytes never leave
the task — only the parsed rows (or extracted text) move.  HTML→text
is a pure-Python kernel on the already-decoded payload: tag/script/
comment stripping + entity decode + whitespace collapse, the C4-style
extraction.  Undecodable files and malformed records skip per-unit.

No reference counterpart (the C++ engine ingests sensor media, not web
archives); cites the public WARC spec and the C4/CCNet extraction
recipes.
"""

from __future__ import annotations

import gzip
import re
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dronedb_spark.suite import check
from dronedb_spark.tables import spread
from dronedb_spark.text.tokens import tokens

# ------------------------------------------------------------ writer --


def encode_warc_record(
    warc_type: str,
    payload: bytes,
    uri: str | None = None,
    date: str = "2024-01-01T00:00:00Z",
    content_type: str = "application/http; msgtype=response",
    rec_id: str = "urn:x-fixture:0",
) -> bytes:
    """One spec-shaped WARC/1.0 record (CRLF headers, exact
    Content-Length, double-CRLF trailer)."""
    headers = [
        ("WARC-Type", warc_type),
        ("WARC-Record-ID", f"<{rec_id}>"),
        ("WARC-Date", date),
        ("Content-Type", content_type),
        ("Content-Length", str(len(payload))),
    ]
    if uri is not None:
        headers.insert(1, ("WARC-Target-URI", uri))
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers)
    return head.encode("utf-8") + b"\r\n" + payload + b"\r\n\r\n"


def encode_warc(records: list[bytes], per_record_gzip: bool = True) -> bytes:
    """A .warc(.gz) file: concatenated records, each its own gzip
    member when compressed (the spec's random-access layout)."""
    if not per_record_gzip:
        return b"".join(records)
    return b"".join(
        gzip.compress(r, compresslevel=6, mtime=0) for r in records
    )


# ------------------------------------------------------------ parser --

_HDR_RE = re.compile(rb"([A-Za-z0-9_-]+):[ \t]*(.*?)\r?\n")


def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (unused_data chaining)."""
    out = []
    while data:
        d = zlib.decompressobj(wbits=31)
        out.append(d.decompress(data))
        out.append(d.flush())
        if d.unused_data == data:  # no progress — corrupt tail
            break
        data = d.unused_data
    return b"".join(out)


def parse_warc(data: bytes) -> list[dict]:
    """All records in one WARC file's bytes — Content-Length walking,
    never magic scanning; malformed trailing bytes stop the walk."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    recs = []
    pos = 0
    while pos < len(data):
        if not data.startswith(b"WARC/", pos):
            break
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            break
        head = data[pos : hdr_end + 2]
        fields = {
            k.decode("ascii").lower(): v.decode("utf-8", "replace")
            for k, v in _HDR_RE.findall(head)
        }
        try:
            n = int(fields["content-length"])
        except (KeyError, ValueError):
            break
        body_start = hdr_end + 4
        payload = data[body_start : body_start + n]
        if len(payload) < n:
            break
        recs.append(
            {
                "warc_type": fields.get("warc-type", ""),
                "target_uri": fields.get("warc-target-uri", ""),
                "warc_date": fields.get("warc-date", ""),
                "content_type": fields.get("content-type", ""),
                "content_length": n,
                "payload": payload,
            }
        )
        pos = body_start + n
        while data.startswith(b"\r\n", pos):  # record trailer
            pos += 2
    return recs


def http_body(payload: bytes) -> bytes:
    """Strip the captured HTTP response head from a response payload."""
    sep = payload.find(b"\r\n\r\n")
    return payload[sep + 4 :] if sep >= 0 else payload


_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&nbsp;": " ",
}


def html_to_text(html: bytes) -> str:
    """C4-style extraction: drop comments and script/style subtrees,
    strip tags, decode the common entities, collapse whitespace."""
    s = re.sub(rb"<!--.*?-->", b" ", html, flags=re.S)
    s = re.sub(rb"<(script|style)\b.*?</\1\s*>", b" ", s, flags=re.S | re.I)
    s = re.sub(rb"<[^>]*>", b" ", s)
    text = s.decode("utf-8", "replace")
    for ent, ch in _ENTITIES.items():
        text = text.replace(ent, ch)
    return " ".join(text.split())


# ---------------------------------------------------- spark operators --

_REC_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType()),
        T.StructField("rec_no", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def warc_records(files: DataFrame) -> DataFrame:
    """(file_name, content) → one row per WARC record — one file per
    task, undecodable files skip."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for name, content in zip(pdf["file_name"], pdf["content"]):
                try:
                    recs = parse_warc(bytes(content))
                except Exception:
                    continue
                for i, r in enumerate(recs):
                    rows.append({"file_name": name, "rec_no": i, **r})
            yield pd.DataFrame(
                rows, columns=[f.name for f in _REC_SCHEMA.fields]
            )

    return files.mapInPandas(kernel, schema=_REC_SCHEMA)


_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType()),
        T.StructField("rec_no", T.IntegerType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def warc_text_docs(records: DataFrame) -> DataFrame:
    """The documents table a crawl yields: ``response`` records pass
    HTTP-strip + HTML→text; ``conversion`` (WET) records pass through
    as already-extracted text.  Everything else (warcinfo, request,
    metadata) drops."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                if r["warc_type"] == "response":
                    txt = html_to_text(http_body(bytes(r["payload"])))
                elif r["warc_type"] == "conversion":
                    txt = " ".join(
                        bytes(r["payload"]).decode("utf-8", "replace").split()
                    )
                else:
                    continue
                rows.append(
                    {
                        "file_name": r["file_name"],
                        "rec_no": int(r["rec_no"]),
                        "target_uri": r["target_uri"],
                        "text": txt,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _TEXT_SCHEMA.fields]
            )

    return records.mapInPandas(kernel, schema=_TEXT_SCHEMA)


# -------------------------------------------------------------- checks --

_WC_N = 3  # files
_WC_M = 4  # response records per file


def _wc_html(fid: int, j: int) -> str:
    return (
        f"<html><head><title>Page {fid}-{j}</title>"
        "<script>var x = 1 < 2;</script>"
        '<style>p { color: red; }</style></head>'
        f"<body><h1>Doc {j}</h1>"
        f"<p>alpha &amp; beta w{fid}{j} gamma</p>"
        "<!-- crawler note --></body></html>"
    )


def _wc_wet_text(fid: int) -> str:
    return f"wet conversion text for file {fid} delta epsilon"


def _wc_expected_text(fid: int, j: int) -> str:
    return f"Page {fid}-{j} Doc {j} alpha & beta w{fid}{j} gamma"


def _warc_catalog_root() -> str:
    import os

    root = os.path.abspath(
        os.path.join(
            os.path.dirname(__file__), "..", "..", "tests", "fixtures", "warc_cat_v1"
        )
    )
    os.makedirs(root, exist_ok=True)
    for fid in range(_WC_N):
        recs = [
            encode_warc_record(
                "warcinfo",
                b"software: fixture-crawler/1.0\r\n",
                content_type="application/warc-fields",
                rec_id=f"urn:x-fixture:{fid}:info",
            )
        ]
        for j in range(_WC_M):
            html = _wc_html(fid, j).encode()
            http = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + f"Content-Length: {len(html)}\r\n\r\n".encode()
                + html
            )
            recs.append(
                encode_warc_record(
                    "response",
                    http,
                    uri=f"https://site{fid}.example.com/p{j}",
                    date=f"2024-01-0{fid + 1}T00:00:0{j}Z",
                    rec_id=f"urn:x-fixture:{fid}:{j}",
                )
            )
        recs.append(
            encode_warc_record(
                "conversion",
                _wc_wet_text(fid).encode(),
                uri=f"https://site{fid}.example.com/wet",
                content_type="text/plain",
                rec_id=f"urn:x-fixture:{fid}:wet",
            )
        )
        payload = encode_warc(recs)
        p = os.path.join(root, f"seg_{fid}.warc.gz")
        if not os.path.exists(p) or open(p, "rb").read() != payload:
            with open(p, "wb") as f:
                f.write(payload)
        os.utime(p, (1700000000, 1700000000))
    return root


# DuckDB reconstruction of the deterministic fixture html/text.
_D_HTML = (
    "'<html><head><title>Page ' || fid || '-' || j || '</title>"
    "<script>var x = 1 < 2;</script>"
    "<style>p { color: red; }</style></head>"
    "<body><h1>Doc ' || j || '</h1>"
    "<p>alpha &amp; beta w' || fid || j || ' gamma</p>"
    "<!-- crawler note --></body></html>'"
)
_D_TEXT = (
    "'Page ' || fid || '-' || j || ' Doc ' || j ||"
    " ' alpha & beta w' || fid || j || ' gamma'"
)


@check(
    "warc_record_inventory",
    oracle=f"""
        WITH ids AS (SELECT unnest(range(0, {_WC_N})) AS fid),
        js AS (SELECT unnest(range(0, {_WC_M})) AS j),
        resp AS (
            SELECT 'seg_' || fid || '.warc.gz' AS file_name,
                   CAST(j + 1 AS INT) AS rec_no,
                   'response' AS warc_type,
                   'https://site' || fid || '.example.com/p' || j AS target_uri,
                   CAST(length({_D_HTML})
                        + length('HTTP/1.1 200 OK' || chr(13) || chr(10)
                                 || 'Content-Type: text/html' || chr(13) || chr(10)
                                 || 'Content-Length: '
                                 || length({_D_HTML})
                                 || chr(13) || chr(10) || chr(13) || chr(10))
                        AS BIGINT) AS content_length
            FROM ids, js),
        info AS (
            SELECT 'seg_' || fid || '.warc.gz' AS file_name, CAST(0 AS INT),
                   'warcinfo', '',
                   CAST(length('software: fixture-crawler/1.0' || chr(13) || chr(10))
                        AS BIGINT)
            FROM ids),
        wet AS (
            SELECT 'seg_' || fid || '.warc.gz' AS file_name,
                   CAST({_WC_M} + 1 AS INT),
                   'conversion',
                   'https://site' || fid || '.example.com/wet',
                   CAST(length('wet conversion text for file ' || fid
                               || ' delta epsilon') AS BIGINT)
            FROM ids)
        SELECT * FROM resp UNION ALL SELECT * FROM info UNION ALL
        SELECT * FROM wet
        ORDER BY file_name, rec_no""",
)
def q_warc_record_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL per-record-gzip .warc.gz catalog → distributed parse → the
    record inventory: types, URIs, and Content-Lengths byte-exact
    (lengths prove the Content-Length walk, not magic splitting)."""
    from dronedb_spark.sources.bridge import scan_binaries

    files = scan_binaries(spark, _warc_catalog_root(), "*.warc.gz")
    return (
        warc_records(spread(files))
        .select("file_name", "rec_no", "warc_type", "target_uri", "content_length")
        .orderBy("file_name", "rec_no")
    )


@check(
    "warc_text_extract",
    small=True,
    oracle=f"""
        WITH ids AS (SELECT unnest(range(0, {_WC_N})) AS fid),
        js AS (SELECT unnest(range(0, {_WC_M})) AS j),
        resp AS (
            SELECT 'seg_' || fid || '.warc.gz' AS file_name,
                   CAST(j + 1 AS INT) AS rec_no,
                   'https://site' || fid || '.example.com/p' || j AS target_uri,
                   {_D_TEXT} AS text
            FROM ids, js),
        wet AS (
            SELECT 'seg_' || fid || '.warc.gz' AS file_name,
                   CAST({_WC_M} + 1 AS INT),
                   'https://site' || fid || '.example.com/wet',
                   'wet conversion text for file ' || fid || ' delta epsilon'
            FROM ids)
        SELECT file_name, rec_no, target_uri, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM (SELECT * FROM resp UNION ALL SELECT * FROM wet) t
        ORDER BY file_name, rec_no""",
)
def q_warc_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl → documents: HTML responses through comment/script/style
    strip + tag removal + entity decode + whitespace collapse, WET
    conversions passed through — text value-checked verbatim."""
    from dronedb_spark.sources.bridge import scan_binaries

    files = scan_binaries(spark, _warc_catalog_root(), "*.warc.gz")
    docs = warc_text_docs(warc_records(spread(files)))
    return docs.select(
        "file_name",
        "rec_no",
        "target_uri",
        "text",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    ).orderBy("file_name", "rec_no")


_BLOCK_CLOSE_RE = re.compile(rb"</(p|h[1-6]|li|div|td|title)\s*>|<br\s*/?>", re.I)


def html_to_blocks(html: bytes) -> str:
    """Block-aware variant of ``html_to_text``: block-closing tags become
    line breaks BEFORE tag stripping, so line-level gates (C4) see the
    page's block structure instead of one collapsed line.  Empty blocks
    drop; each surviving line is whitespace-collapsed like the flat
    extraction."""
    marked = _BLOCK_CLOSE_RE.sub(b"\x00", html)
    lines = [html_to_text(part) for part in marked.split(b"\x00")]
    return "\n".join(ln for ln in lines if ln)
