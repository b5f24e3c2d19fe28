"""Anchor-text extraction and per-target-host rollup — the edge
attributes of the crawl link graph.  ``text/linkgraph.py`` ranks hosts
by their link structure (PageRank); this module extracts WHAT the web
says about each target — the anchor strings pointing at it — which is
the classic relevance signal (anchor text describes the target, not
the source) and, in an LLM pipeline, a quality/topicality feature for
domain-level curation next to ``text/domains.py``'s rollups.

Beyond the reference (no crawl pipeline there).  Shapes:

  * link extraction rides the same Arrow kernel stage as
    ``sources/warc.py``'s text extraction — one pass over response
    payloads, bytes never leave the task, one row out per ``<a href>``;
    anchor inner HTML is tag-stripped/entity-decoded with the same
    ``html_to_text`` the document path uses;
  * target-host resolution is a pure column expression (the
    ``text/urls.py`` substring_index discipline — zero UDF): absolute
    http(s) hrefs take their own host, root-relative hrefs resolve to
    the SOURCE page's host, anything else (mailto:, javascript:,
    fragments) drops; full userinfo/port/IDN normalization belongs to
    ``urls.url_canonicalize`` and composes downstream;
  * the rollup is one hash shuffle on target_host with map-side
    combine — n_links, distinct source hosts, anchor token mass.

The driver check runs REAL .warc.gz bytes (a link-rich fixture built
by the ``sources/warc.py`` encoder) through parse → extract → resolve
→ rollup, against a closed-form DuckDB reconstruction.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dronedb_spark.sources.warc import (
    encode_warc,
    encode_warc_record,
    html_to_text,
    http_body,
    warc_records,
)
from dronedb_spark.suite import check
from dronedb_spark.text.tokens import words

_A_RE = re.compile(
    rb"<a\s[^>]*href\s*=\s*[\"']([^\"']+)[\"'][^>]*>(.*?)</a\s*>",
    re.S | re.I,
)


def extract_links(html: bytes) -> list[tuple[str, str]]:
    """Every (href, anchor_text) in the page; anchor inner HTML goes
    through the same strip/decode/collapse as document text."""
    out = []
    for href, inner in _A_RE.findall(html):
        out.append(
            (href.decode("utf-8", "replace").strip(), html_to_text(inner))
        )
    return out


_LINK_SCHEMA = T.StructType(
    [
        T.StructField("source_uri", T.StringType()),
        T.StructField("href", T.StringType()),
        T.StructField("anchor_text", T.StringType()),
    ]
)


def warc_links(records: DataFrame) -> DataFrame:
    """response records → one row per anchor (source_uri, href, text)."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                if r["warc_type"] != "response":
                    continue
                for href, text in extract_links(http_body(bytes(r["payload"]))):
                    rows.append(
                        {
                            "source_uri": r["target_uri"],
                            "href": href,
                            "anchor_text": text,
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in _LINK_SCHEMA.fields])

    return records.mapInPandas(kernel, schema=_LINK_SCHEMA)


_HOST_OF = "lower(substring_index(substring_index({u}, '://', -1), '/', 1))"


def resolve_target_host(links: DataFrame) -> DataFrame:
    """Add ``target_host``: absolute http(s) → own host; root-relative →
    source host; everything else drops (mailto:, javascript:, …)."""
    expr = (
        "CASE WHEN lower(href) LIKE 'http://%' OR lower(href) LIKE 'https://%' "
        f"THEN {_HOST_OF.format(u='href')} "
        "WHEN startswith(href, '/') "
        f"THEN {_HOST_OF.format(u='source_uri')} "
        "ELSE NULL END"
    )
    return links.withColumn("target_host", F.expr(expr)).filter(
        F.col("target_host").isNotNull()
    )


def anchor_rollup(links: DataFrame) -> DataFrame:
    """Per target host: in-link count, distinct linking hosts, anchor
    token mass — one map-side-combinable shuffle."""
    src_host = F.expr(_HOST_OF.format(u="source_uri"))
    toks = F.size(words("anchor_text"))
    return (
        links.select("target_host", src_host.alias("src_host"), toks.alias("n_toks"))
        .groupBy("target_host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_links"),
            F.countDistinct("src_host").cast("bigint").alias("n_src_hosts"),
            F.sum("n_toks").cast("bigint").alias("anchor_tokens"),
        )
    )


# ------------------------------------------------------------ fixture --

_AL_N = 3  # files / source hosts
_AL_M = 4  # pages per host


def _al_html(fid: int, j: int) -> str:
    nxt = (fid + 1) % _AL_N
    return (
        f"<html><body><h1>Hub {fid}-{j}</h1>"
        f'<a href="https://site{nxt}.example.com/p{j}">forward link to page {j}</a>'
        f'<a href="/local/p{(j + 1) % _AL_M}">local nav {j}</a>'
        '<a href="https://cdn.assets.example.net/lib.js">shared <b>cdn</b> asset</a>'
        '<a href="mailto:ops@example.com">write to us</a>'
        f"<p>filler paragraph for page {j}</p></body></html>"
    )


def _links_catalog_root() -> str:
    import os

    root = os.path.abspath(
        os.path.join(
            os.path.dirname(__file__), "..", "..", "tests", "fixtures",
            "warc_links_v1",
        )
    )
    os.makedirs(root, exist_ok=True)
    for fid in range(_AL_N):
        recs = []
        for j in range(_AL_M):
            html = _al_html(fid, j).encode()
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
                    date=f"2024-02-0{fid + 1}T00:00:0{j}Z",
                    rec_id=f"urn:x-fixture:links:{fid}:{j}",
                )
            )
        payload = encode_warc(recs)
        p = os.path.join(root, f"seg_{fid}.warc.gz")
        if not os.path.exists(p) or open(p, "rb").read() != payload:
            with open(p, "wb") as f:
                f.write(payload)
        os.utime(p, (1700000000, 1700000000))
    return root


@check(
    "anchor_text_rollup",
    oracle=f"""
        WITH ids AS (SELECT unnest(range(0, {_AL_N})) AS fid),
        js AS (SELECT unnest(range(0, {_AL_M})) AS j),
        fwd AS (
            SELECT 'site' || ((fid + 1) % {_AL_N}) || '.example.com' AS target_host,
                   'site' || fid || '.example.com' AS src_host,
                   5 AS n_toks
            FROM ids, js),
        nav AS (
            SELECT 'site' || fid || '.example.com',
                   'site' || fid || '.example.com', 3
            FROM ids, js),
        cdn AS (
            SELECT 'cdn.assets.example.net',
                   'site' || fid || '.example.com', 3
            FROM ids, js),
        links AS (
            SELECT * FROM fwd UNION ALL SELECT * FROM nav
            UNION ALL SELECT * FROM cdn)
        SELECT target_host,
               CAST(COUNT(*) AS BIGINT) AS n_links,
               CAST(COUNT(DISTINCT src_host) AS BIGINT) AS n_src_hosts,
               CAST(SUM(n_toks) AS BIGINT) AS anchor_tokens
        FROM links GROUP BY target_host ORDER BY target_host""",
)
def q_anchor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL crawl bytes → anchors: per-target-host in-link counts,
    distinct linking hosts, and anchor token mass (mailto links must
    drop; the cdn anchor's inner <b> must strip)."""
    from dronedb_spark.sources.bridge import scan_binaries
    from dronedb_spark.tables import spread

    files = scan_binaries(spark, _links_catalog_root(), "*.warc.gz")
    links = resolve_target_host(warc_links(warc_records(spread(files))))
    return anchor_rollup(links).orderBy("target_host")


# --------------------------------------------------- anchor PageRank --


def anchor_host_edges(links: DataFrame) -> DataFrame:
    """(src, dst, w, outw): the weighted host graph the crawl's anchors
    actually draw — edge weight = anchor count, out-weight per source
    host as a window on the already-shuffled src partition (the
    ``linkgraph.domain_edges`` shape, fed by real bytes)."""
    from pyspark.sql import Window

    src_host = F.expr(_HOST_OF.format(u="source_uri"))
    pairs = links.select(
        src_host.alias("src"), F.col("target_host").alias("dst")
    ).groupBy("src", "dst").agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    return pairs.withColumn(
        "outw", F.sum("w").over(Window.partitionBy("src")).cast("bigint")
    )


def _anchor_pr_oracle() -> str:
    from dronedb_spark.text.linkgraph import N_ITER, SCALE

    # closed-form fixture edges: each site links its successor, itself
    # (nav) and the cdn, 4 anchors each; the cdn is a pure sink
    rows = []
    for f in range(_AL_N):
        h = f"site{f}.example.com"
        rows.append(f"('{h}', 'site{(f + 1) % _AL_N}.example.com', 4, 12)")
        rows.append(f"('{h}', '{h}', 4, 12)")
        rows.append(f"('{h}', 'cdn.assets.example.net', 4, 12)")
    doms = _AL_N + 1
    base = SCALE // doms
    steps = []
    for k in range(N_ITER):
        steps.append(f"""
        r{k + 1} AS (
            SELECT dm.domain,
                   CAST({(15 * base) // 100} + (85 * COALESCE(s.inflow, 0)) // 100
                        AS BIGINT) AS r
            FROM doms dm LEFT JOIN (
                SELECT e.dst AS domain,
                       CAST(SUM((r.r * e.w) // e.outw) AS BIGINT) AS inflow
                FROM edges e JOIN r{k} r ON r.domain = e.src
                GROUP BY e.dst) s ON dm.domain = s.domain)""")
    return (
        f"""WITH edges(src, dst, w, outw) AS (VALUES {", ".join(rows)}),
        doms AS (SELECT DISTINCT domain FROM (
            SELECT src AS domain FROM edges
            UNION ALL SELECT dst FROM edges) u),
        r0 AS (SELECT domain, CAST({base} AS BIGINT) AS r FROM doms),"""
        + ",".join(steps)
        + f"""
        SELECT domain, r AS rank FROM r{N_ITER} ORDER BY domain"""
    )


@check("anchor_pagerank", oracle=_anchor_pr_oracle())
def q_anchor_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL crawl bytes → anchor edges → the integerized superstep
    PageRank: the cdn sink must out-rank every site (it receives from
    all three and emits nothing) — rank-exact vs the unrolled oracle."""
    from dronedb_spark.sources.bridge import scan_binaries
    from dronedb_spark.sources.warc import warc_records
    from dronedb_spark.tables import spread
    from dronedb_spark.text.linkgraph import pagerank_over_edges

    files = scan_binaries(spark, _links_catalog_root(), "*.warc.gz")
    links = resolve_target_host(warc_links(warc_records(spread(files))))
    return pagerank_over_edges(anchor_host_edges(links)).orderBy("domain")
