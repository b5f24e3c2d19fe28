"""Local mirror of the driver's t2 gate: run every registered check's
Spark query AND its DuckDB oracle on the same parquet and compare them
with ``dronedb_spark.suite.compare_rows`` (column names in order, row
count, order-insensitive values), and hold each check's plan shape to
its ``PLANS.json`` entry."""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pytest

from dronedb_spark.plans.inspect import plan_shape
from dronedb_spark.suite import compare_rows, load_all
from dronedb_spark.tables import TABLE_NAMES, reset_run_cache

REGISTRY = load_all()


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _check_plan_shape(name, shape, ledger):
    """The plan-shape ledger check: ``shape`` must equal the check's
    PLANS.json entry exactly, so a plan that grows or shrinks needs a
    ledger update (``python tools/plan_ledger.py NAME``) in the same
    change, and the ledger never goes stale."""
    assert name in ledger, (
        f"{name}: no PLANS.json entry — run python tools/plan_ledger.py {name}"
    )
    want = ledger[name]
    moved = [
        f"{k} {want.get(k, 0)} → {shape.get(k, 0)}"
        for k in sorted(set(want) | set(shape))
        if want.get(k, 0) != shape.get(k, 0)
    ]
    assert not moved, (
        f"{name}: plan shape moved from PLANS.json ({', '.join(moved)}); if"
        f" intended, run python tools/plan_ledger.py {name}"
    )


_INTEGRAL_SPARK = {"tinyint", "smallint", "int", "bigint"}
_FLOATING_SPARK = {"float", "double"}


def _lint_oracle_render(name, sdf, con, oracle):
    """The two defect classes the r12 driver gate surfaced (gini /
    setexif): (a) oracle column ORDER must equal the Spark column order
    — the driver records schema order and the judge sim compares
    positionally; (b) the driver renders the DuckDB side through
    pandas, so an integral Spark column whose oracle twin comes back
    float64 (e.g. an uncast SUM: BIGINT -> HUGEINT -> float64) hashes
    as '149174.0' vs '149174' even though the values are equal — and
    vice versa for a floating Spark column with an integer oracle twin."""
    pdf = con.execute(oracle).df()
    d_cols = [c.lower() for c in pdf.columns]
    s_cols = [c.lower() for c in sdf.columns]
    assert s_cols == d_cols, (
        f"{name}: oracle column ORDER {d_cols} != spark order {s_cols}"
    )
    spark_types = {c.lower(): t for c, t in sdf.dtypes}
    for col in pdf.columns:
        kind = pdf[col].dtype.kind
        st = spark_types[col.lower()]
        if st in _INTEGRAL_SPARK and kind == "f" and not pdf[col].isna().any():
            raise AssertionError(
                f"{name}: integral spark column {col!r} ({st}) renders "
                f"float64 from the oracle — add a CAST(... AS BIGINT)"
            )
        if st in _FLOATING_SPARK and kind in "iu":
            raise AssertionError(
                f"{name}: floating spark column {col!r} ({st}) renders "
                f"integer from the oracle — cast the oracle to DOUBLE"
            )


# Budget split: the 400+-check parity matrix alone costs ~8 min, so the
# default run keeps a deterministic third of it (md5(name) % 3, stable
# across rounds) plus the next driver window — the first 50 checks in
# gate order, the ones the driver gates next; the very slowest checks are
# always deferred to the full pass (SPARK_GRAFT_FULL_TESTS=1).  No test
# is deleted — the skipped share carries @pytest.mark.heavy.
_TEST_SOURCES = "".join(p.read_text() for p in Path(__file__).parent.glob("test_*.py"))
# Plan tests read a check's PLANS.json entry through the ``plan_ledger``
# fixture, by literal name, in place of building its live plan.  Each
# check so read runs here by default, which holds its entry to the live
# plan in every run however the window rotates (and
# test_ledger_reads_run_by_default keeps the reads literal).
_LEDGER_READS = set(re.findall(r'plan_ledger\["(\w+)"\]', _TEST_SOURCES))
# Seven checks outside the window and the hash third ran by default
# before the window was derived; they stay in the default run so that
# none of their passing tests turns into a skip.
_ALWAYS_DEFAULT = set(list(REGISTRY)[:50]) | _LEDGER_READS | {
    "decontam_channel_report",
    "decontam_removal_plan",
    "incremental_dedup_probe",
    "lm_doc_perplexity",
    "lm_doc_perplexity_10x",
    "pack_sequences_chunks",
    "rbo_prefix_stability",
}
_ALWAYS_HEAVY = {
    # the slowest single rows of the timed r14 full run (>6 s each):
    # full-pass only, regardless of the hash split
    "domain_components",          # 87 s — the recursive-CTE oracle
    "ivfpq_residual_store_probe",
    "ivfpq_store_probe",
    "ivfpq_residual_top10",
    "ivfpq_adc_top10",
    "ivfpq_rerank_top10",
    "containment_store_probe",
    "stockpile_detect",
    "stockpile_single",
}


def _default_share(name: str) -> bool:
    import hashlib

    if name in _ALWAYS_HEAVY:
        return False
    if name in _ALWAYS_DEFAULT:
        return True
    return int(hashlib.md5(name.encode()).hexdigest(), 16) % 3 == 0


_PARITY_PARAMS = [
    name
    if _default_share(name)
    else pytest.param(name, marks=pytest.mark.heavy)
    for name in sorted(REGISTRY)
]


@pytest.mark.parametrize("name", _PARITY_PARAMS)
def test_parity(name, spark, sf_dir, plan_ledger):
    chk = REGISTRY[name]
    reset_run_cache(spark)
    sdf = chk.spark_fn(spark, sf_dir)
    _check_plan_shape(name, plan_shape(sdf), plan_ledger)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    if chk.oracle is None:
        assert len(s_rows) >= 0
        return

    con = _duck(sf_dir)
    res = con.execute(chk.oracle)
    d_cols = [d[0].lower() for d in res.description]
    d_rows = res.fetchall()

    compare_rows(s_cols, s_rows, d_cols, d_rows)
    _lint_oracle_render(name, sdf, con, chk.oracle)



def test_ledger_reads_run_by_default():
    """Every PLANS.json entry a plan test reads is a registered check that
    test_parity runs in the default share (``_ALWAYS_HEAVY`` would defer
    it), and every read names its check literally, so the scan above
    sees it."""
    computed = re.search(r'plan_ledger\[(?!")', _TEST_SOURCES)
    assert not computed, "read a PLANS.json entry by its literal check name"
    assert _LEDGER_READS
    unchecked = sorted(
        n for n in _LEDGER_READS if n not in REGISTRY or not _default_share(n)
    )
    assert not unchecked, f"entries read but not checked by default: {unchecked}"


def test_ivf_kmeans_trains_and_covers_all_vectors(spark, sf_dir):
    from pyspark.sql import functions as F

    from dronedb_spark.tables import load
    from dronedb_spark.vectors.ivf import (
        N_CENTROIDS, _centroids, ivf_kmeans_cells, ivf_kmeans_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    cells = ivf_kmeans_cells(emb).collect()
    assert sum(r["n"] for r in cells) == emb.count()
    assert 1 <= len(cells) <= N_CENTROIDS
    # training actually moved the centroids off the seed vectors
    cents = {r["cid"]: r["c_emb"] for r in ivf_kmeans_centroids(emb).collect()}
    seeds = {r["cid"]: r["c_emb"] for r in _centroids(emb).collect()}
    moved = sum(
        1 for cid in cents
        if cid in seeds and any(abs(a - b) > 1e-6 for a, b in zip(cents[cid], seeds[cid]))
    )
    assert moved >= 1


def test_neardup_clusters_consistent_with_pairs(spark, sf_dir):
    from dronedb_spark.tables import load
    from dronedb_spark.text.dedup import neardup_clusters, neardup_pairs

    docs = load(spark, sf_dir, "documents")
    labels = {r["doc_id"]: r["cluster_id"] for r in neardup_clusters(docs).collect()}
    pairs = neardup_pairs(docs).collect()
    # every paired doc got a label; paired docs share a cluster; the
    # cluster id is the component minimum
    for p in pairs:
        assert labels[p["doc_a"]] == labels[p["doc_b"]]
    for doc, lab in labels.items():
        assert lab <= doc


def test_pii_metrics_counts_injected_pii(spark, sf_dir):
    from pyspark.sql import functions as F

    from dronedb_spark.text.pii import _PII_CORPUS, pii_metrics
    from dronedb_spark.tables import register_views

    register_views(spark, sf_dir, ["documents"])
    m = pii_metrics(spark.sql(_PII_CORPUS))
    rows = {r["doc_id"]: r for r in m.collect()}
    for doc_id, r in rows.items():
        if doc_id % 4 == 0:
            assert r["n_emails"] >= 1
        elif doc_id % 4 == 1:
            assert r["n_ips"] >= 1
        elif doc_id % 4 == 2:
            assert r["n_longids"] >= 1


def test_lsh_calibration_identities(spark):
    """tp+fn == n_true, tp+fp == n_cand, n_true non-increasing in tau,
    and a crafted mid-jaccard pair is true at 30/50 but not at 70."""
    from dronedb_spark.text.dedup import lsh_calibration

    base = [f"w{i}" for i in range(20)]
    half = base[:15] + [f"x{i}" for i in range(5)]   # j ~ 13/23 ~ 0.57
    rows = [
        (1, " ".join(base)),
        (2, " ".join(half)),
        (3, " ".join(f"y{i}" for i in range(20))),   # unrelated
        (4, " ".join(base)),                         # exact dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["tau_pct"]: r for r in lsh_calibration(docs).collect()}
    for t, r in out.items():
        assert r["tp"] + r["fn"] == r["n_true"], (t, r)
        assert r["tp"] + r["fp"] == r["n_cand"], (t, r)
    # n_cand is tau-independent
    assert len({r["n_cand"] for r in out.values()}) == 1
    # truth shrinks with tau: pair (1,2) [and (2,4)] drop out at 70
    assert out[30]["n_true"] >= out[70]["n_true"]
    assert out[30]["n_true"] == 3   # (1,2), (2,4), (1,4)
    assert out[70]["n_true"] == 1   # only the exact dup (1,4)


def test_lsh_calibration_enforces_caps(spark):
    """The truth join's quadratic guards are IN-OPERATOR: a boilerplate
    shingle shared by every doc is dropped by max_df (so it neither
    materializes the all-pairs bucket nor counts toward Jaccard), and
    sample_fraction deterministically thins the doc set on both the
    truth and candidate sides."""
    from dronedb_spark.text.dedup import lsh_calibration

    # 40 docs: all share one boilerplate 3-gram ("the same header");
    # only docs 0/1 share real content beyond it
    rows = [(0, "the same header alpha beta gamma delta epsilon zeta"),
            (1, "the same header alpha beta gamma delta epsilon eta")]
    rows += [
        (i, f"the same header u{i} v{i} w{i} x{i} y{i} z{i}")
        for i in range(2, 40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # capped: boilerplate (df=40 > 10) is dropped — the only true pairs
    # come from genuinely shared content, NOT the 780-pair header bucket
    out = {r["tau_pct"]: r for r in
           lsh_calibration(docs, max_df=10).collect()}
    assert out[30]["n_true"] == 1          # docs 0/1 only
    # uncapped (max_df above the corpus) the header mass is back: every
    # pair shares >= 1 shingle, so low-tau truth explodes
    raw = {r["tau_pct"]: r for r in
           lsh_calibration(docs, max_df=10_000).collect()}
    assert raw[30]["n_true"] == 1          # 1 shared gram of ~14 is < 30%
    assert raw[70]["n_true"] <= raw[30]["n_true"]
    # sampling: deterministic subset -> counts can only shrink, and the
    # same fraction gives identical results across invocations
    s1 = sorted(tuple(r) for r in
                lsh_calibration(docs, sample_fraction=0.5).collect())
    s2 = sorted(tuple(r) for r in
                lsh_calibration(docs, sample_fraction=0.5).collect())
    assert s1 == s2
    full = {r["tau_pct"]: r for r in lsh_calibration(docs).collect()}
    samp = {r[0]: r for r in s1}
    for t in samp:
        assert samp[t][1] <= full[t]["n_true"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        lsh_calibration(docs, sample_fraction=0.0)
