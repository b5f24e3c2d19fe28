"""The corpus tokenizer (``dronedb_spark.text.tokens``): its rule against
DuckDB's on input the fixtures never hold, the one-tokenizer rule over
the package source, and the stamp digest's NULL and empty-catalog
guards."""

from __future__ import annotations

import hashlib
import re
from pathlib import Path

import duckdb

PKG = Path(__file__).resolve().parent.parent / "dronedb_spark"

EDGE_TEXTS = ["", " ", "a  b", " a", "a ", "a\tb", "a b c", None]


def test_tokens_and_words_match_duckdb(spark):
    """``tokens`` is DuckDB ``string_split(s, ' ')`` and ``words`` its
    ``list_filter(..., x -> x <> '')`` on empty, blank, doubled,
    leading/trailing-space, tab and NULL text."""
    from dronedb_spark.text.tokens import tokens, words

    rows = list(enumerate(EDGE_TEXTS))
    df = spark.createDataFrame(rows, "i int, s string")
    got = {
        r["i"]: (r["t"], r["w"])
        for r in df.select("i", tokens("s").alias("t"), words("s").alias("w")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        i: (t, w)
        for i, t, w in con.execute(
            "SELECT i, string_split(s, ' '),"
            " list_filter(string_split(s, ' '), x -> x <> '') FROM t"
        ).fetchall()
    }
    assert got == want
    assert got[2] == (["a", "", "b"], ["a", "b"])
    assert got[7] == (None, None)


def test_no_inline_corpus_split_outside_tokens_module():
    """Every Spark-side whitespace tokenize goes through ``tokens`` or
    ``words``: no ``F.split(<x>, " ")`` anywhere else, and no Spark SQL
    ``split(text, ' ')`` outside simhash's shared-dialect token query."""
    f_split = re.compile(r'F\.split\((?:[^()]|\([^()]*\))*,\s*" "\s*\)')
    sql_split = re.compile(r"(?<![\w.])split\(text, ' '\)")
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        src = path.read_text()
        if rel != "text/tokens.py" and f_split.search(src):
            hits.append(rel)
        if rel != "text/simhash.py" and sql_split.search(src):
            hits.append(rel)
    assert hits == []


def test_stamp_tree_digest_value_and_null_guard(spark):
    """The bucketed digest equals hashlib's, and one NULL hash makes the
    root checksum NULL, as the string fold it replaced did."""
    from dronedb_spark.operators.delta import stamp_tree_digest

    rows = [(f"d{i % 7}/f{i:03d}.jpg", hashlib.sha256(str(i).encode()).hexdigest()) for i in range(200)]
    buckets: dict[int, list[tuple[str, str]]] = {}
    for p, h in rows:
        buckets.setdefault(int(hashlib.md5(p.encode()).hexdigest()[0], 16), []).append((p, h))
    root = "".join(
        hashlib.sha256("".join(p + h for p, h in sorted(b)).encode()).hexdigest()
        for _, b in sorted(buckets.items())
    )
    ent = spark.createDataFrame(rows, "path string, hash string")
    assert stamp_tree_digest(ent).collect()[0]["checksum"] == hashlib.sha256(root.encode()).hexdigest()
    with_null = ent.unionByName(spark.createDataFrame([("z.jpg", None)], "path string, hash string"))
    assert stamp_tree_digest(with_null).collect()[0]["checksum"] is None


def test_stamp_tree_digest_empty_catalog_matches_oracle(spark):
    """An empty catalog stamps as sha256 of the empty string on both
    sides: the oracle's outer ``string_agg`` over no buckets is NULL
    without its COALESCE."""
    from dronedb_spark.operators.delta import TREE_DIGEST_SQL, stamp_tree_digest

    ent = spark.createDataFrame([], "path string, hash string")
    con = duckdb.connect()
    con.execute("CREATE TABLE entries (path VARCHAR, hash VARCHAR)")
    oracle = con.execute(TREE_DIGEST_SQL).fetchall()
    assert [tuple(r) for r in stamp_tree_digest(ent).collect()] == oracle
    assert oracle == [(hashlib.sha256(b"").hexdigest(),)]
