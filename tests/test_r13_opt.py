"""Pins for the round-13 OPTIMIZATION rewrites: each changed operator's
new plan must reproduce the old formulation's answers exactly (the
bench may get faster; the values may not move)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------- containment ----


def test_containment_posting_list_matches_self_join(spark):
    """The posting-list + self-pair/window plan == the reference
    kept-⋈-kept formulation, on a corpus with planted excerpts,
    boilerplate (df-capped) shingles and df-1 docs."""
    from dronedb_spark.text.containment import containment_pairs

    base = [
        (1, "a b c d e f g h i j k l m n o p"),
        (2, "c d e f g h i j"),                      # contained in 1
        (3, "z1 z2 z3 z4 z5 z6"),                    # unrelated
        (4, "a b c d e f g h i j k l m n o p"),      # exact dup of 1
    ]
    # boilerplate: one shingle shared by everyone (df above the cap)
    boil = [(10 + i, f"the same header u{i} v{i} w{i} x{i}") for i in range(30)]
    docs = spark.createDataFrame(base + boil, "doc_id long, text string")

    new = containment_pairs(docs, max_df=5)

    # reference: the pre-r13 join plan, inlined
    from dronedb_spark.text.dedup import _shingle_df

    sh = (
        _shingle_df(docs)
        .select("doc_id", F.explode("sh").alias("s"))
        .distinct()
    )
    df_ok = (
        sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 5).select("s")
    )
    kept = sh.join(df_ok, "s")
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_src"))
    ref = (
        kept.alias("a").join(kept.alias("b"), "s")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("src_id"),
                 F.col("b.doc_id").alias("dst_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        .join(sizes.withColumnRenamed("doc_id", "src_id"), "src_id")
        .select("src_id", "dst_id", "n_common",
                F.col("n_src").cast("bigint").alias("n_src"),
                F.expr("n_common * 1000000 DIV n_src").cast("bigint")
                .alias("containment_micro"))
        .filter(F.col("containment_micro") >= 800_000)
    )
    assert _rows(new.select(*ref.columns)) == _rows(ref)


def test_containment_dst_pred_equals_post_filter(spark):
    """dst_pred inside pair generation == unrestricted pairs filtered on
    dst afterwards — same n_src (self-pairs stay unconditional)."""
    from dronedb_spark.text.containment import containment_pairs

    docs = spark.createDataFrame(
        [(i, "w%d a b c d e f g h i j k" % (i % 3)) for i in range(12)],
        "doc_id long, text string",
    )
    full = containment_pairs(docs, max_df=20).filter("dst_id % 3 = 1")
    pred = containment_pairs(docs, max_df=20, dst_pred="y % 3 = 1")
    assert _rows(pred.select(*full.columns)) == _rows(full)


# -------------------------------------------------------- segdedup ----


def test_segment_tally_window_equals_join(spark):
    from dronedb_spark.text.segdedup import corpus_segments, segment_dedup_tally

    docs = spark.createDataFrame(
        [(1, " ".join(["dup"] * 16)), (2, " ".join(["dup"] * 8)),
         (3, " ".join(f"u{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    new = segment_dedup_tally(docs)
    segs = corpus_segments(docs)
    counts = segs.groupBy("seg").agg(F.count(F.lit(1)).alias("n_occ"))
    ref = (
        segs.join(counts, "seg").groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_segs"),
             F.sum((F.col("n_occ") > 1).cast("bigint")).alias("n_dup_segs"),
             F.sum((F.col("n_occ") == 1).cast("bigint")).alias("n_kept_segs"))
        .orderBy("doc_id")
    )
    assert _rows(new) == _rows(ref)


# ----------------------------------------------------- attribution ----


def test_attribution_melted_first_last(spark):
    """The melted one-pass first/last rollup on crafted journeys where
    first != last and one channel never appears as last."""
    import datetime as dt

    from dronedb_spark.operators.attribution import attribution_report

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, typ, s):
        return (eid, uid, typ, t0 + dt.timedelta(seconds=s))

    rows = [
        ev(1, 1, "view", 0), ev(2, 1, "click", 10), ev(3, 1, "purchase", 20),
        ev(4, 2, "click", 0), ev(5, 2, "view", 10), ev(6, 2, "purchase", 20),
        ev(7, 3, "view", 0), ev(8, 3, "purchase", 5),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {r["channel"]: r for r in attribution_report(events).collect()}
    assert got["view"]["first_touch"] == 2 and got["view"]["last_touch"] == 2
    assert got["click"]["first_touch"] == 1 and got["click"]["last_touch"] == 1
    assert got["view"]["n_journeys"] == 3 and got["click"]["n_journeys"] == 2
    # linear: j1 view 1/2, j2 view 1/2, j3 view 1/1 -> 2_000_000 micro
    assert got["view"]["linear_micro"] == 2_000_000
    assert got["click"]["linear_micro"] == 1_000_000


# ---------------------------------------------------------- btrank ----


def test_bradley_terry_driver_loop_matches_engine_mm(spark):
    """The driver-side MM loop (r13) reproduces the engine-side
    broadcast-join formulation bit-for-bit on a non-trivial duel
    table (the pre-r13 implementation, inlined as the reference)."""
    from dronedb_spark.text.btrank import (
        N_ITER, _directed, bradley_terry, player_wins, source_duels,
    )

    docs = spark.createDataFrame(
        [(i, f"s{(i * 7) % 5}", 10 + (i * 13) % 37) for i in range(60)],
        "doc_id long, source string, n_chars long",
    )
    games = source_duels(docs)
    new = bradley_terry(games)

    directed = _directed(games)
    wins = player_wins(games)
    totals = directed.groupBy("i").agg(F.sum("n_ij").alias("n_games_i"))
    strengths = wins.select("i", F.lit(1.0).alias("p"))
    n_players = wins.select(F.count(F.lit(1)).alias("n_players"))
    for _ in range(N_ITER):
        pi = strengths.select(F.col("i"), F.col("p").alias("p_i"))
        pj = strengths.select(F.col("i").alias("j"), F.col("p").alias("p_j"))
        denom = (
            directed.join(F.broadcast(pi), "i")
            .join(F.broadcast(pj), "j")
            .groupBy("i")
            .agg(F.sum((F.col("n_ij") / (F.col("p_i") + F.col("p_j")))
                       .cast("decimal(38,15)")).cast("double").alias("denom"))
        )
        raw = wins.join(denom, "i").select(
            "i", (F.col("w") / F.col("denom")).alias("p"))
        total = raw.agg(F.sum(F.col("p").cast("decimal(38,15)"))
                        .cast("double").alias("p_sum"))
        strengths = raw.crossJoin(F.broadcast(total)).crossJoin(
            F.broadcast(n_players)).select(
            "i", (F.col("p") * F.col("n_players") / F.col("p_sum")).alias("p")
        ).localCheckpoint()
    ref = (
        strengths.join(wins, "i").join(totals, "i")
        .select("i", F.col("p").alias("strength"),
                F.col("w").cast("bigint").alias("w"),
                F.col("n_games_i").cast("bigint").alias("n_games"))
    )
    assert _rows(new) == _rows(ref)


# ---------------------------------------------------------- winnow ----


def test_winnow_posting_list_matches_self_join(spark):
    from dronedb_spark.text.winnow import winnow_fingerprints, winnow_overlap

    docs = spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(30))),
         (2, "xx yy zz " + " ".join(f"a{i}" for i in range(30))),
         (3, " ".join(f"b{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    new = winnow_overlap(docs)
    fps = winnow_fingerprints(docs)
    rare = (fps.groupBy("fp").agg(F.countDistinct("doc_id").alias("df"))
            .filter(F.col("df") <= 10).select("fp"))
    kept = fps.join(rare, "fp", "left_semi")
    ref = (
        kept.select(F.col("doc_id").alias("doc_a"), "fp")
        .join(kept.select(F.col("doc_id").alias("doc_b"), "fp"), "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_shared"))
    )
    assert _rows(new) == _rows(ref)


# ------------------------------------------------- plan assertions ----


def test_no_sort_merge_join_in_broadcast_fixed_plans(spark, sf_dir, plan_ledger):
    """The three joins force-broadcast in r13 stay broadcast.  Two of the
    checks run parity by default, which holds their PLANS.json entries to
    the live plan; the third is built here."""
    from dronedb_spark.plans.inspect import plan_shape
    from dronedb_spark.suite import load_all

    assert "SortMergeJoin" not in plan_ledger["retrieval_mrr"]
    assert "SortMergeJoin" not in plan_ledger["langid_nb_model"]
    df = load_all()["filtered_ivf_top10"].spark_fn(spark, sf_dir)
    assert "SortMergeJoin" not in plan_shape(df)


# ------------------------------------------------- multiclass F1 ----


def test_multiclass_f1_confusion_marginals_match_direct_aggregates(spark):
    """The single-pass confusion-matrix formulation == the pre-r13
    three-aggregates-over-j shape, on a prediction set with an
    all-wrong class (zero tp), a never-predicted class (n_pred = 0)
    and a predicted-only class (n_true = 0)."""
    from dronedb_spark.text.mclasseval import multiclass_f1

    truth = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "de"), (4, "de"), (5, "fr")],
        "doc_id long, lang string",
    )
    pred = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, "de"), (4, "es"), (5, "en")],
        "doc_id long, pred_lang string",
    )
    new = _rows(multiclass_f1(pred, truth))

    # reference: the pre-r13 three-aggregate formulation, inlined
    j = pred.join(truth.select("doc_id", F.col("lang").alias("true_lang")), "doc_id")
    t = j.groupBy(F.col("true_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"))
    p = j.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pred"))
    tp = (j.filter(F.col("pred_lang") == F.col("true_lang"))
          .groupBy(F.col("true_lang").alias("lang"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("tp")))
    spine = (
        t.join(p, "lang", "full_outer").join(tp, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    ref = _rows(spine.select(
        "lang", "n_true", "n_pred", "tp",
        (F.col("n_pred") - F.col("tp")).cast("bigint").alias("fp"),
        (F.col("n_true") - F.col("tp")).cast("bigint").alias("fn"),
        F.expr("CASE WHEN n_pred + n_true = 0 THEN NULL ELSE 2 * tp END")
        .cast("bigint").alias("f1_num"),
        F.expr("CASE WHEN n_pred + n_true = 0 THEN NULL ELSE n_pred + n_true END")
        .cast("bigint").alias("f1_den"),
    ))
    assert new == ref
    # the fixture really exercises the edge rows
    by_lang = {r[0]: r for r in new}
    assert by_lang["fr"][3] == 0          # all-wrong class: tp = 0
    assert by_lang["fr"][2] == 0          # never predicted: n_pred = 0
    assert by_lang["es"][1] == 0          # predicted-only: n_true = 0
