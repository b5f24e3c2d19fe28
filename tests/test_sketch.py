"""HLL sketch (text/sketch.py): estimate accuracy vs the exact distinct
count, register mergeability, and the map-side-combine plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from dronedb_spark.tables import load
from dronedb_spark.text.sketch import M, hll_estimate, hll_token_registers


def test_hll_estimate_within_error_bound(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    exact = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter("tok <> ''")
        .agg(F.countDistinct("tok"))
        .collect()[0][0]
    )
    est = hll_estimate(hll_token_registers(docs))
    # sigma = 1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert abs(est - exact) / exact < 0.20, (est, exact)


def test_hll_registers_merge_by_max(spark, sf_dir):
    """Sketching two halves and max-merging the registers must equal
    sketching the union — the mergeability contract."""
    docs = load(spark, sf_dir, "documents")
    a = hll_token_registers(docs.filter(F.col("doc_id") % 2 == 0))
    b = hll_token_registers(docs.filter(F.col("doc_id") % 2 == 1))
    merged = (
        a.unionByName(b).groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))
    )
    whole = hll_token_registers(docs)
    got = {(r["bucket"], r["max_rho"]) for r in merged.collect()}
    want = {(r["bucket"], r["max_rho"]) for r in whole.collect()}
    assert got == want


def test_hll_register_plan_partial_aggregates(spark, sf_dir):
    from dronedb_spark.plans.inspect import has_partial_aggregation

    q = hll_token_registers(load(spark, sf_dir, "documents"))
    assert has_partial_aggregation(q)


def test_bm25_plan_prunes_tokens_before_aggregation(spark, sf_dir):
    """The query-term join must broadcast (term-count-sized) and the tf
    aggregation must partial-aggregate; no cartesian beyond the 1-row
    scalar attaches."""
    from dronedb_spark.plans.inspect import has_partial_aggregation, physical_plan
    from dronedb_spark.tables import load
    from dronedb_spark.text.bm25 import bm25_scores

    q = bm25_scores(load(spark, sf_dir, "documents"), ["join", "hash"])
    plan = physical_plan(q)
    assert "BroadcastHashJoin" in plan
    assert has_partial_aggregation(q)


def test_bm25_scores_rank_relevant_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "join hash join shuffle join"),
            (2, "join only once here today"),
            (3, "nothing relevant at all here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["score"] for r in
            __import__("dronedb_spark.text.bm25", fromlist=["bm25_scores"])
            .bm25_scores(docs, ["join", "hash", "shuffle"]).collect()}
    assert 3 not in rows          # no matching terms → no row
    assert rows[1] > rows[2] > 0  # more matched terms/tf → higher score


def test_cms_counters_merge_by_sum(spark, sf_dir):
    """Sketching two corpus halves and element-wise SUM-merging the
    counters must equal sketching the union — the CMS mergeability
    contract (the HLL twin of test_hll_registers_merge_by_max)."""
    from dronedb_spark.text.sketch import cms_token_sketch

    docs = load(spark, sf_dir, "documents")
    a = cms_token_sketch(docs.filter(F.col("doc_id") % 2 == 0))
    b = cms_token_sketch(docs.filter(F.col("doc_id") % 2 == 1))
    merged = (
        a.unionByName(b).groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_token_sketch(docs)
    got = {(r["row"], r["col"], r["cnt"]) for r in merged.collect()}
    want = {(r["row"], r["col"], r["cnt"]) for r in whole.collect()}
    assert got == want and len(want) > 100


def test_hll_set_algebra_estimates_and_union_law(spark, sf_dir):
    """The exact-integer harmonic states support (a) raw estimates
    within HLL's error envelope of the exact truths and (b) the
    inclusion-exclusion intersection — and the union state equals the
    max-merge of the two sides' registers."""
    import math

    from dronedb_spark.tables import load
    from dronedb_spark.text.sketch import (
        M,
        hll_set_algebra,
        hll_user_registers,
        merge_registers,
    )
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    rows = {r["set_name"]: r for r in hll_set_algebra(ev, "purchase", "error").collect()}
    alpha = 0.7213 / (1 + 1.079 / M)
    C = alpha * M * M * 2.0**61

    def est(r):
        e = C / r["s_inv"]
        if e <= 2.5 * M and r["n_zero"] > 0:  # linear counting regime
            e = M * math.log(M / r["n_zero"])
        return e

    for name in ("a", "b", "union"):
        r = rows[name]
        e = est(r)
        # raw-estimate envelope (no small-range correction): generous
        # 3x the ~1.04/sqrt(m) standard error
        assert abs(e - r["exact_distinct"]) <= 3 * 1.04 / math.sqrt(M) * r["exact_distinct"] + 3
    inter_est = est(rows["a"]) + est(rows["b"]) - est(rows["union"])
    exact_inter = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .intersect(ev.filter(F.col("event_type") == "error").select("user_id"))
        .count()
    )
    assert abs(inter_est - exact_inter) <= 0.35 * rows["union"]["exact_distinct"]
    # union state == max-merge of the two register tables
    merged = {
        (r["bucket"], r["max_rho"])
        for r in merge_registers(
            [hll_user_registers(ev, "purchase"), hll_user_registers(ev, "error")]
        ).collect()
    }
    direct = {
        (r["bucket"], r["max_rho"])
        for r in hll_user_registers(
            ev.filter(F.col("event_type").isin(["purchase", "error"])), None
        ).collect()
    }
    assert merged == direct


def test_bm25_duplicate_doc_id_matches_exploded_definition(spark):
    """A repeated doc_id gets ONE length — the sum of its rows' non-empty
    tokens, as the exploded-count definition gives — so the tf join does
    not fan out.  Checked against DuckDB SQL of that definition."""
    import duckdb

    from dronedb_spark.text.bm25 import B, K1, bm25_scores

    rows = [
        (1, "join hash join shuffle join"),
        (2, "join only once here today"),
        (2, "hash  and hash again"),
        (3, "nothing relevant at all here"),
        (4, "shuffle the join"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["score"])
        for r in bm25_scores(docs, ["join", "hash", "shuffle"]).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = con.execute(
        f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        toks_ne AS (SELECT * FROM toks WHERE tok <> ''),
        q AS (SELECT unnest(['join', 'hash', 'shuffle']) AS tok),
        dl AS (SELECT doc_id, COUNT(1) AS dl FROM toks_ne GROUP BY doc_id),
        nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        ad AS (SELECT AVG(dl) AS avgdl FROM dl),
        tf AS (
            SELECT t.doc_id, t.tok, COUNT(1) AS tf
            FROM toks_ne t JOIN q USING (tok) GROUP BY t.doc_id, t.tok),
        dft AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
        idf AS (
            SELECT tok, ln((n - df + 0.5) / (df + 0.5) + 1.0) AS idf
            FROM dft CROSS JOIN nd),
        scored AS (
            SELECT tf.doc_id,
                   idf.idf * tf.tf
                   / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / ad.avgdl)) AS part
            FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id) CROSS JOIN ad)
        SELECT doc_id, ROUND(SUM(part), 6) AS score FROM scored GROUP BY doc_id
        ORDER BY doc_id"""
    ).fetchall()
    assert got == [(d, s) for d, s in want]
    assert [d for d, _ in got] == [1, 2, 4]
