"""Scale guardrails: assert the physical plans we designed for.

A 100 TB deployment lives or dies on these properties; pinning them in
tests means a refactor that silently turns a pushed filter into a full
scan fails here first (SURVEY §4: X1-X3 pushdown, broadcast joins,
partial aggregation)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dronedb_spark.plans.inspect import (
    exchange_count,
    has_broadcast_join,
    has_cartesian,
    has_partial_aggregation,
    plan_shape,
    pushed_filters,
    physical_plan,
)
from dronedb_spark.tables import load


def _join_then_group(spark, big):
    small = spark.range(10).toDF("k")
    return big.join(small, F.col("id") == F.col("k")).groupBy("k").count()


def test_plan_shape_counts_broadcast_apart_from_shuffle(spark):
    """One partition joined to a broadcast, then grouped: no shuffle."""
    q = _join_then_group(spark, spark.range(0, 1000, 1, 1))
    assert plan_shape(q)["BroadcastExchange"] == 1 and "Exchange" not in plan_shape(q)
    assert exchange_count(q) == 0 and has_broadcast_join(q)


def test_plan_shape_is_the_same_before_and_after_execution(spark):
    """The walk reads AQE's initial plan, which running the query (and
    settling AQE's final plan) does not change."""
    q = _join_then_group(spark, spark.range(1000))
    before = plan_shape(q)
    q.collect()
    assert plan_shape(q) == before


def test_plan_shape_descends_into_cached_plan(spark):
    cached = spark.range(100).withColumn("x", F.col("id") * 2).persist()
    try:
        shape = plan_shape(cached.groupBy((F.col("id") % 3).alias("m")).count())
    finally:
        cached.unpersist()
    # the Range lives only in the cached plan
    assert shape["InMemoryTableScan"] == 1 and shape["Range"] == 1, shape


def test_plan_shape_descends_into_scalar_subquery(spark):
    q = spark.sql("SELECT id FROM range(9) WHERE id > (SELECT max(id) FROM range(5))")
    shape = plan_shape(q)
    # the max aggregate and the second range exist only in the subquery
    assert shape["Subquery"] == 1 and shape["Range"] == 2 and shape["HashAggregate"] == 2, shape


def test_plan_shape_counts_pushed_scans(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert plan_shape(li.filter("l_quantity > 10"))["pushed_scans"] == 1
    assert "pushed_scans" not in plan_shape(li.select("l_quantity"))


@pytest.fixture(scope="module")
def entries_parquet(spark, tmp_path_factory):
    """The catalog as it would actually be stored — Parquet on disk (the
    derived in-memory entries can't show scan pushdown)."""
    from dronedb_spark.catalog.derive import entries_df

    p = str(tmp_path_factory.mktemp("entries_store") / "entries")
    entries_df(spark, "/root/testdata/sf0.001").write.mode("overwrite").parquet(p)
    return spark.read.parquet(p)


def test_search_filter_pushed_to_scan(spark, entries_parquet):
    from dronedb_spark.operators.search import search

    q = search(entries_parquet, "src1/doc_*2.txt")
    pf = pushed_filters(q)
    # the LIKE-with-escape itself can't push, but the planner must push at
    # least the IsNotNull guard; the depth filter pushes fully
    assert "PushedFilters" in pf and "[]" not in pf.split("PushedFilters: ")[1][:4]


def test_depth_prune_pushed(spark, entries_parquet):
    q = entries_parquet.filter(F.col("depth") <= 1).select("path")
    assert "LessThanOrEqual(depth,1)" in pushed_filters(q)


def test_type_filter_pushed(spark, entries_parquet):
    q = entries_parquet.filter(F.col("type").isin(3, 4, 5)).select("path", "type")
    assert "In(type, [3,4,5])" in pushed_filters(q)


def test_column_pruning(spark, entries_parquet):
    from dronedb_spark.plans.inspect import formatted

    f = formatted(entries_parquet.select("path", "size"))
    read = [line for line in f.splitlines() if "ReadSchema" in line][0]
    assert "path" in read and "size" in read and "polygon" not in read and "hash" not in read


def test_region_revenue_broadcasts_dims(spark):
    from dronedb_spark.operators.relational import region_revenue

    q = region_revenue(
        load(spark, "/root/testdata/sf0.001", "region"),
        load(spark, "/root/testdata/sf0.001", "nation"),
        load(spark, "/root/testdata/sf0.001", "customer"),
        load(spark, "/root/testdata/sf0.001", "orders"),
        load(spark, "/root/testdata/sf0.001", "lineitem"),
    )
    assert has_broadcast_join(q)
    assert not has_cartesian(q)


def test_q1_partial_aggregation(spark):
    from dronedb_spark.operators.relational import pricing_summary

    q = pricing_summary(load(spark, "/root/testdata/sf0.001", "lineitem"))
    assert has_partial_aggregation(q)


def test_minhash_no_cartesian_one_shuffle_for_pairs(spark):
    from dronedb_spark.text.dedup import neardup_pairs

    q = neardup_pairs(load(spark, "/root/testdata/sf0.001", "documents"))
    assert not has_cartesian(q)


# The tests that read ``plan_ledger`` pin a design property of a
# registered check on its PLANS.json entry; test_parity holds that entry
# to the live plan in every default run (its ``_LEDGER_READS``), and these
# keep a blind ledger rewrite from dropping the property.


def _nested_loop_or_cartesian(shape: dict[str, int]) -> bool:
    return "CartesianProduct" in shape or "BroadcastNestedLoopJoin" in shape


def test_knn_broadcasts_query_vector(plan_ledger):
    shape = plan_ledger["knn_cosine_top10"]
    assert shape.get("BroadcastExchange")
    # top-k must be TakeOrderedAndProject, not a global sort
    assert shape.get("TakeOrderedAndProject") == 1 and "Sort" not in shape


def test_meta_join_broadcasts_agg_side(spark):
    from dronedb_spark.catalog.derive import entries_df, entries_meta_df
    from dronedb_spark.operators.meta import entries_with_meta

    q = entries_with_meta(
        entries_df(spark, "/root/testdata/sf0.001"),
        entries_meta_df(spark, "/root/testdata/sf0.001"),
    )
    assert has_broadcast_join(q)


def test_bucketed_catalogs_join_without_shuffle(spark, tmp_path_factory):
    """SCALE.md sync-algebra claim: with both catalog snapshots bucketed by
    path, the delta anti-join needs NO exchange — bucketing
    (HashPartitioning on path) satisfies the join's clustering requirement
    since the join keys (path, hash) contain the bucket key."""
    from dronedb_spark.catalog.derive import entries_df

    wh = str(tmp_path_factory.mktemp("warehouse"))
    for variant, tbl in (("a", "ent_bucketed_a"), ("b", "ent_bucketed_b")):
        (
            entries_df(spark, "/root/testdata/sf0.001", variant)
            .write.mode("overwrite")
            .bucketBy(8, "path")
            .sortBy("path")
            .option("path", f"{wh}/{tbl}")
            .saveAsTable(tbl)
        )
    a = spark.table("ent_bucketed_a")
    b = spark.table("ent_bucketed_b")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # J5/J3 shape: join on the bucket key itself
        q1 = a.join(b, ["path"], "left_anti")
        assert "Exchange" not in physical_plan(q1), physical_plan(q1)
        # J2 shape: join keys (path, hash) ⊃ bucket key — co-partitioning
        # on the subset is enabled in session.py
        # (spark.sql.requireAllClusterKeysForCoPartition=false)
        q2 = a.join(b, ["path", "hash"], "left_anti")
        assert "Exchange" not in physical_plan(q2), physical_plan(q2)
        assert q2.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_interval_join_no_nested_loop(spark):
    """The bucketed range join must plan as an equi-join on _bkt — never a
    BroadcastNestedLoopJoin/cartesian over the raw containment predicate
    (that is the O(|E|*|W|) shape the bucketing exists to avoid)."""
    from dronedb_spark.operators.interval import q_interval_join

    q = q_interval_join(spark, "/root/testdata/sf0.001")
    plan = physical_plan(q)
    assert not has_cartesian(q)
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_window_min_single_scan(plan_ledger):
    """The correlated-MIN rewrite must read lineitem once (window min), not
    twice (decorrelated aggregate + self-join)."""
    shape = plan_ledger["q2_min_cost_supplier"]
    assert shape["Scan parquet"] == 1 and shape["Window"] == 1, shape


def test_asof_join_single_shuffle_per_side(plan_ledger):
    """The union-merge as-of join is one exchange for the union input (the
    window partition) plus the final order — no join operator at all."""
    shape = plan_ledger["asof_join_events"]
    assert not [n for n in shape if "Join" in n], shape


def test_raster_kernels_group_by_raster_no_single_partition(spark):
    """VERDICT r1: stockpile/contour kernels must fan out one task per
    raster (hash partition on raster_id), never a coalesce(1) funnel."""
    from dronedb_spark.raster.contours import contour_segments
    from dronedb_spark.raster.stockpile import detect_stockpiles
    from dronedb_spark.raster.synth import multi_dem_df

    for q in (detect_stockpiles(multi_dem_df(spark)), contour_segments(multi_dem_df(spark))):
        plan = physical_plan(q)
        assert "Coalesce 1" not in plan and "coalesce(1)" not in plan.lower(), plan
        assert "FlatMapGroupsInPandas" in plan
        assert "hashpartitioning(raster_id" in plan


def test_ingest_listing_is_distributed_scan(spark, tmp_path):
    """VERDICT r1: add()'s file discovery must be the binaryFile scan, not
    a driver-materialized path list — pinned by (a) a FileScan binaryFile
    in the ingest plan and (b) no .collect( in add()/rescan() source."""
    import inspect

    from dronedb_spark.catalog.store import DatasetCatalog
    from dronedb_spark.sources.fs import ingest

    root = tmp_path / "scan_ds"
    root.mkdir()
    (root / "a.txt").write_text("a")
    q = ingest(spark, str(root))
    assert "binaryFile" in physical_plan(q)
    for meth in (DatasetCatalog.add, DatasetCatalog.rescan):
        assert ".collect(" not in inspect.getsource(meth)


def test_q8_q9_broadcast_dims_no_nested_loop(spark):
    """The widest TPC-H shapes (Q8: 7 joins, Q9: 4 joins) must keep every
    dimension role on the broadcast side and the fact pipeline free of
    cartesian/nested-loop fallbacks — at 100 TB these two plans are the
    difference between one fact shuffle and re-shuffling lineitem per
    dim."""
    from dronedb_spark.operators.tpch_ext import market_share, profit_by_nation

    sf = "/root/testdata/sf0.001"
    q8 = market_share(
        load(spark, sf, "region"), load(spark, sf, "nation"),
        load(spark, sf, "customer"), load(spark, sf, "orders"),
        load(spark, sf, "lineitem"), load(spark, sf, "part"),
        load(spark, sf, "supplier"),
    )
    p8 = physical_plan(q8)
    assert p8.count("BroadcastHashJoin") >= 3  # cn, region, sn roles
    assert not has_cartesian(q8)
    assert "BroadcastNestedLoopJoin" not in p8
    assert has_partial_aggregation(q8)

    q9 = profit_by_nation(
        load(spark, sf, "nation"), load(spark, sf, "supplier"),
        load(spark, sf, "part"), load(spark, sf, "orders"),
        load(spark, sf, "lineitem"),
    )
    p9 = physical_plan(q9)
    assert "BroadcastHashJoin" in p9
    assert not has_cartesian(q9)
    assert "BroadcastNestedLoopJoin" not in p9
    # the part name filter must apply at the part scan, below the join —
    # load() does not persist (tables.py), so it is the Filter directly
    # over the parquet scan of part
    assert "Contains(p_name" in p9


def test_spatial_join_no_cartesian(plan_ledger):
    """The grid-bucketed containment join must plan as an equi-join on the
    cell key — never a cartesian/nested-loop over the raw predicate."""
    shape = plan_ledger["spatial_join_counts"]
    assert shape.get("BroadcastHashJoin") and not _nested_loop_or_cartesian(shape)


def test_mvt_pbf_sink_single_shuffle(spark):
    """The tile sink is ONE exchange (repartition on the tile key); the
    per-group applyInPandas formulation (an extra sort-aggregate shape
    with ms-level per-tile overhead) must not come back."""
    from dronedb_spark.functions.mvt import mvt_encode, mvt_write_tiles
    from dronedb_spark.operators.vector_query import features_df

    feats = features_df(spark, "/root/testdata/sf0.001").filter(
        (F.col("dataset_id") == "vec1") & (F.col("layer") == "parcels")
    )
    tiles = mvt_write_tiles(mvt_encode(feats, 10))
    plan = physical_plan(tiles)
    assert not has_cartesian(tiles)
    # exactly one round-robin/hash repartition introduced by the sink
    # (the features source itself is shuffle-free)
    assert exchange_count(tiles) == 1, plan


def test_codec_bridges_no_shuffle_before_decode(spark):
    """File bytes must decode where they are scanned: the LAZ/TIFF bridge
    plans contain no exchange below the decode mapInPandas (spread() is a
    no-op when the scan already has >= default parallelism; on the tiny
    fixture it may add at most the one explicit spread repartition)."""
    from dronedb_spark.sources.bridge import (
        _laz_catalog_root, las_point_table, scan_binaries,
    )

    files = scan_binaries(spark, _laz_catalog_root(), "*.laz")
    pts = las_point_table(files)  # no spread: raw scan partitioning
    assert exchange_count(pts) == 0, physical_plan(pts)


def test_nested_rollup_broadcasts_roots(spark):
    """Dataset-root ownership must be a broadcast join (the root list is
    tiny); a shuffle join over 100M entries on a prefix predicate would
    be a scale-killer."""
    from dronedb_spark.catalog.derive import entries_df
    from dronedb_spark.catalog.nested import rollup_nested

    ent = entries_df(spark, "/root/testdata/sf0.001")
    out = rollup_nested(ent, ["src1", "src2"])
    # a path-prefix predicate cannot hash-join; the correct plan is a
    # BroadcastNestedLoopJoin with the tiny root list as the build side
    plan = physical_plan(out)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert not has_cartesian(out)


def test_all_tpch_shapes_no_cartesian(spark):
    """Sweep: every TPC-H-shaped check must plan without a cartesian
    product at sf0.001 — a join that loses its keys (e.g. a condition
    pushed wrongly) degrades to CartesianProduct and dies at scale."""
    from dronedb_spark.suite import load_all

    reg = load_all()
    qs = [n for n in reg if n[0] == "q" and n[1].isdigit()]
    assert len(qs) == 22
    bad = []
    for name in qs:
        df = reg[name].spark_fn(spark, "/root/testdata/sf0.001")
        plan = physical_plan(df)
        if "CartesianProduct" in plan:
            bad.append(name)
        elif "BroadcastNestedLoopJoin" in plan and "Cross" in plan:
            # allowed ONLY as the 1-row scalar-attach pattern: the cross
            # side must be a broadcast of an ungrouped aggregate
            if "BroadcastExchange IdentityBroadcastMode" not in plan:
                bad.append(name)
    assert not bad, f"cartesian product in: {bad}"


def test_sensor_lookup_broadcasts_dim(spark):
    """The sensor DB is a few-thousand-row dimension: the image side must
    join it via broadcast hash join (no shuffle of the images)."""
    from dronedb_spark.sources.sensors import builtin_sensor_df, resolve_sensor_size

    img = spark.range(1000).select(
        F.concat(F.lit("M"), (F.col("id") % 5).cast("string")).alias("make"),
        F.concat(F.lit("X"), (F.col("id") % 7).cast("string")).alias("model"),
        F.lit(4000).alias("width"), F.lit(3000).alias("height"),
        F.lit(None).cast("double").alias("fp_xres"),
        F.lit(None).cast("double").alias("fp_yres"),
        F.lit(None).cast("int").alias("fp_unit"),
    )
    q = resolve_sensor_size(img, builtin_sensor_df(spark))
    assert has_broadcast_join(q)
    assert not has_cartesian(q)


def test_stac_collection_rollup_partial_agg_single_exchange(spark, entries_parquet):
    """The Collection document rollup is one aggregation pass: partial
    (map-side) aggregation and a single exchange to the final agg."""
    from dronedb_spark.operators.stac import stac_collection_rollup

    q = stac_collection_rollup(entries_parquet)
    assert has_partial_aggregation(q)
    assert exchange_count(q) == 1


def test_sq8_array_path_broadcasts_query_no_explode(spark):
    """The SQ8 array scale path must not inflate rows (no Generate) and
    must broadcast the 1-row query side."""
    from dronedb_spark.vectors.quant import sq8_search_top10

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    q = sq8_search_top10(emb)
    plan = physical_plan(q)
    # the 1-row query side is broadcast (non-cross nested-loop, same shape
    # as knn_cosine), top-k is TakeOrderedAndProject, and the search path
    # has NO Generate: the dims explode happens once in the 64-row dims
    # aggregate, never on the database vectors
    assert "Broadcast" in plan
    assert "TakeOrderedAndProject" in plan
    assert not has_cartesian(q)


def test_stream_dedup_twin_partial_agg(spark):
    from dronedb_spark.suite import load_all

    reg = load_all()
    q = reg["stream_dedup_twin"].spark_fn(spark, "/root/testdata/sf0.001")
    assert has_partial_aggregation(q)
    assert not has_cartesian(q)


def test_features_sink_reread_prunes_partitions(spark, tmp_path_factory):
    """Layer-partitioned Parquet re-reads prune to one directory when the
    query filters on the partition key."""
    from dronedb_spark.operators.vector_query import features_df

    out = str(tmp_path_factory.mktemp("feat") / "features")
    features_df(spark, "/root/testdata/sf0.001").write.mode("overwrite").partitionBy(
        "layer"
    ).parquet(out)
    q = spark.read.parquet(out).filter(F.col("layer") == "roads").select("fid")
    from dronedb_spark.plans.inspect import formatted

    plan = formatted(q)
    assert "PartitionFilters" in plan and "layer" in plan.split("PartitionFilters")[1][:120]


def test_packing_prefix_sum_is_two_phase(spark):
    """The sequence-packing scan must never sort the corpus through a
    single-partition window; only the P-row partition-totals window may
    be unpartitioned."""
    from dronedb_spark.tables import load
    from dronedb_spark.text.packing import doc_spans

    q = doc_spans(load(spark, "/root/testdata/sf0.001", "documents"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the data-sized running sum is partitioned by _pid
    assert "partitionBy" not in plan  # formatting guard (never appears)
    windows = [seg for seg in plan.split("Window ")[1:]]
    datasized = [w for w in windows if "doc_id" in w.split("\n")[0]]
    assert datasized, "expected the intra-partition window over doc_id"
    assert all("_pid" in w.split("\n")[0] for w in datasized)
    assert not has_cartesian(q)


def test_lm_score_head_is_broadcast(plan_ledger):
    shape = plan_ledger["lm_doc_perplexity"]
    assert shape.get("BroadcastHashJoin")  # the hot head never shuffles
    # the 1-row corpus-totals broadcast cross join is deliberate; only a
    # data-sized cartesian is forbidden
    assert "CartesianProduct" not in shape


def test_pca_moments_single_reduce(spark):
    from dronedb_spark.suite import load_all

    reg = load_all()
    q = reg["embedding_covariance"].spark_fn(spark, "/root/testdata/sf0.001")
    assert has_partial_aggregation(q)
    # broadcast joins of the d-row sums / 1-row count are deliberate
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_tile_render_grid_broadcast(plan_ledger):
    shape = plan_ledger["raster_tile_render"]
    assert shape.get("BroadcastHashJoin") and not _nested_loop_or_cartesian(shape)


def test_elevation_profile_never_shuffles_pixels(spark):
    """r4 verdict #1: a broadcast hint on the LEFT of a left-outer join is
    ignored (no build-left), so the old plan shuffled the whole pixel
    table on (row,col) for a ≤4096-row profile.  The left-semi-then-
    broadcast shape must keep the pixel side exchange-free — both the
    DataFrame and the SQL variant."""
    from dronedb_spark.suite import load_all

    reg = load_all()
    for name in ("elevation_profile", "elevation_profile_dist"):
        q = reg[name].spark_fn(spark, "/root/testdata/sf0.001")
        plan = physical_plan(q)
        assert "SortMergeJoin" not in plan, name
        assert "Exchange hashpartitioning" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        assert not has_cartesian(q), name


def test_pull_plan_broadcasts_delta_side(spark):
    """pull_plan probes the corpus-sized local/base tables with
    broadcast left-semi joins of the change-sized delta; no sort-merge
    join may appear (the only exchange is the hash-group of the tiny
    content-hit set)."""
    from dronedb_spark.suite import load_all

    reg = load_all()
    q = reg["pull_delta_plan"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = physical_plan(q)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert not has_cartesian(q)


def test_incremental_dedup_probe_shape(plan_ledger):
    """The corpus-store probe is a bucket equi-join plus one grouped
    aggregation of the hit set — no cartesian anywhere, and the
    aggregation must partial-aggregate before its shuffle."""
    shape = plan_ledger["incremental_dedup_probe"]
    assert not _nested_loop_or_cartesian(shape) and shape["HashAggregate"] >= 2


def test_push_plan_no_broadcast_no_cartesian(plan_ledger):
    """push_plan anti-joins the two DISTINCT hash sets — both stamps are
    corpus-sized so nothing may be crossed; the hash de-dup must
    partial-aggregate map-side before its shuffle."""
    shape = plan_ledger["push_needed_files"]
    assert not _nested_loop_or_cartesian(shape) and shape["HashAggregate"] >= 2


def test_push_init_stale_base_refuses(spark):
    """Pushing on a stale base stamp must raise PullRequiredError before
    planning anything (pushmanager.cpp:34-36)."""
    import pytest as _pytest

    from dronedb_spark.operators.delta import PullRequiredError, push_init

    df = spark.range(1).selectExpr("'a' AS path", "'h' AS hash")
    with _pytest.raises(PullRequiredError):
        push_init(df, df, base_checksum="old", server_checksum="new")
    # matching checksums → plan proceeds (identical stamps: nothing needed)
    assert push_init(df, df, base_checksum="s", server_checksum="s").count() == 0


def test_push_plan_meta_sides_independently_optional(spark):
    """client_meta without server_meta means a server with no meta at
    all: every client meta id crosses the wire (used to AttributeError
    on server_meta.select)."""
    from dronedb_spark.operators.delta import push_plan

    df = spark.range(1).selectExpr("'a' AS path", "'h' AS hash")
    meta = spark.range(3).selectExpr("concat('m', id) AS id")
    got = sorted(
        r["item"]
        for r in push_plan(df, df, client_meta=meta, server_meta=None)
        .filter("kind = 'meta'")
        .collect()
    )
    assert got == ["m0", "m1", "m2"]


def test_band_store_bucketed_probe_shuffle_free_on_store_side(spark, tmp_path):
    """SCALE.md claims the persisted signature store, bucketed on the
    band keys on disk, makes the daily probe shuffle-free on the corpus
    side.  Pin it: write band_store with bucketBy(band_id, bk), join a
    probe batch, and assert the store scan is bucketed with the plan's
    ONLY hash exchange on the probe side — with the store bucketed, the
    10B-doc side moves zero bytes."""
    from dronedb_spark.plans.inspect import formatted
    from dronedb_spark.text.dedup import band_store, incremental_neardup

    docs = load(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    store_docs = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    spark.sql("DROP TABLE IF EXISTS sig_store_pin")
    (
        band_store(store_docs)
        .write.bucketBy(8, "band_id", "bk")
        .sortBy("band_id", "bk")
        .option("path", str(tmp_path / "sig_store"))
        .saveAsTable("sig_store_pin")
    )
    try:
        store = spark.table("sig_store_pin")
        probe = band_store(batch).withColumnRenamed("doc_id", "batch_doc")
        joined = probe.join(store, ["band_id", "bk"])
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = physical_plan(joined)
            fmt = formatted(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange hashpartitioning") == 1  # probe side only
        assert "Bucketed: true" in fmt
        # bucketed store must return the same probe result as an
        # in-memory store (bucket pruning/layout is layout-only)
        a = incremental_neardup(batch, store).orderBy("doc_id").collect()
        b = incremental_neardup(batch, band_store(store_docs)).orderBy("doc_id").collect()
        assert a == b and len(a) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS sig_store_pin")


def test_ivf_store_probe_prunes_partitions(spark, tmp_path):
    """The persisted IVF index is partitioned by cell; a probe must show
    the cell predicate as a PARTITION filter on the scan (directory-
    level pruning — only NPROBE of N_CENTROIDS cells are ever read) and
    return exactly what the non-store search returns."""
    from dronedb_spark.plans.inspect import formatted
    from dronedb_spark.vectors.ivf import NPROBE, ivf_probe_store, ivf_search, write_ivf_store

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf_store")
    write_ivf_store(emb, path)
    q = ivf_probe_store(spark, path, emb, query_vec_id=0, k=5)
    fmt = formatted(q)
    scan = fmt[fmt.index("PartitionFilters"):]
    assert "cell" in scan.split("\n")[0]  # pruning predicate on the scan
    got = [tuple(r) for r in q.collect()]
    want = [tuple(r) for r in ivf_search(emb, query_vec_id=0, k=5).collect()]
    assert got == want and len(got) == 5


def test_no_unbounded_persists():
    """Cache-hygiene guard (r7): every ``.persist(`` site in the package
    must be BOUNDED — unpersisted deterministically in the same
    function (bpe's try/finally iteration ladder) or issued through
    ``tables.barrier_persist`` (a keyed LRU capped at _BARRIER_MAX
    entries whose eviction unpersists).  A new bare persist anywhere
    else is a storage leak in a long-running service and fails here."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "dronedb_spark"
    allowed = {"text/bpe.py", "tables.py"}
    offenders = []
    for py in pkg.rglob("*.py"):
        rel = str(py.relative_to(pkg))
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if ".persist(" in code and rel not in allowed:
                offenders.append(f"{rel}:{i}")
    assert offenders == [], offenders


@pytest.mark.heavy
def test_ivfpq_store_probe_prunes_and_matches(spark, tmp_path):
    """The persisted IVF-PQ store is cell-partitioned CODES (no raw
    embeddings on disk — 16x smaller); a probe must (a) show the cell
    predicate in PartitionFilters (directory-level pruning), (b) read
    no embedding column at all, and (c) return exactly what the
    in-memory search returns with the same codebook."""
    from dronedb_spark.plans.inspect import formatted
    from dronedb_spark.vectors.ivfpq import (
        ivfpq_adc_search,
        ivfpq_probe_store,
        write_ivfpq_store,
    )
    from dronedb_spark.vectors.pq import pq_train

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    cb = pq_train(emb)
    path = str(tmp_path / "ivfpq_store")
    write_ivfpq_store(emb, path, codebook=cb)
    q = ivfpq_probe_store(spark, path, emb, query_vec_id=0, k=10, codebook=cb)
    fmt = formatted(q)
    scan = fmt[fmt.index("PartitionFilters"):]
    assert "cell" in scan.split("\n")[0]
    read_schema = [ln for ln in fmt.split("\n") if "ReadSchema" in ln and "code_0" in ln]
    assert read_schema and all("embedding" not in ln for ln in read_schema)
    got = [tuple(r) for r in q.collect()]
    want = [tuple(r) for r in ivfpq_adc_search(emb, 0, 10, codebook=cb).collect()]
    assert got == want and len(got) == 10


def test_bloom_screen_laws(spark):
    """Bloom sync screen: (a) NO false negatives — every hash actually
    on the server classifies 'check'; (b) the prefiltered push plan
    returns EXACTLY the unscreened plan's neededFiles; (c) the bit
    table never exceeds m rows."""
    from dronedb_spark.operators.bloom import (
        M_FLOOR,
        bloom_bits,
        bloom_classify,
        bloom_m_bits,
        push_plan_prefiltered,
    )
    from dronedb_spark.operators.delta import _push_fixture_sql, push_plan

    t = _push_fixture_sql("spark")
    server = spark.sql(t["server"])
    client = spark.sql(t["client"])
    bits, m = bloom_bits(server)
    assert m == M_FLOOR  # fixture is tiny: the wire-format floor
    assert bits.count() <= m
    cls = {r["hash"]: r["cls"] for r in bloom_classify(client, bits, m).collect()}
    on_server = {r["hash"] for r in server.collect()}
    for h, c in cls.items():
        if h in on_server:
            assert c == "check", h
    got = sorted(
        r["item"] for r in push_plan_prefiltered(client, server, bits, m).collect()
    )
    want = sorted(r["item"] for r in push_plan(client, server).collect())
    assert got == want and len(want) > 0
    # sizing law: m scales with the key count, never below the floor
    assert bloom_m_bits(1) == M_FLOOR
    assert bloom_m_bits(600) == 8192
    assert bloom_m_bits(10**6) == 2**24  # 16M bits ≥ 10 bits/key


def test_bloom_no_false_negatives_at_derived_size(spark):
    """The no-false-negative law at the SECOND derived size (600 keys →
    m = 8192): every stored hash still classifies 'check'."""
    from dronedb_spark.operators.bloom import (
        _LARGE_CLIENT_SPARK,
        _LARGE_SERVER_SPARK,
        bloom_bits,
        bloom_classify,
    )

    server = spark.sql(_LARGE_SERVER_SPARK)
    client = spark.sql(_LARGE_CLIENT_SPARK)
    bits, m = bloom_bits(server)
    assert m == 8192
    on_server = {r["hash"] for r in server.collect()}
    for r in bloom_classify(client, bits, m).collect():
        if r["hash"] in on_server:
            assert r["cls"] == "check"


def test_r7_operator_plan_shapes(spark, sf_dir):
    """One pin per round-7 operator family — the physical property each
    one's SCALE.md claim rests on."""
    from dronedb_spark.plans.inspect import has_cartesian, physical_plan
    from dronedb_spark.tables import load, register_views

    # chunking: NO exchange anywhere — a narrow fan-out
    from dronedb_spark.text.chunking import chunk_documents

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    p = physical_plan(chunk_documents(docs))
    assert "Exchange" not in p, p

    # shard shuffle: exactly one hash exchange (the shard partition)
    from dronedb_spark.text.sharding import shard_shuffle

    p = physical_plan(shard_shuffle(docs.select("doc_id")))
    assert p.count("Exchange hashpartitioning") == 1, p

    # compaction plan: one hash exchange (the per-folder window)
    from dronedb_spark.catalog.compact import compact_plan
    from dronedb_spark.catalog.derive import entries_df

    p = physical_plan(compact_plan(entries_df(spark, sf_dir)))
    # one exchange in the operator itself (the cached entries derivation
    # prints its own subtree below the InMemoryTableScan — exclude it)
    own = p.split("InMemoryTableScan", 1)[0]
    assert own.count("Exchange hashpartitioning") == 1, p

    # bloom classify: the bit table broadcasts; no cartesian
    from dronedb_spark.operators.bloom import bloom_bits, bloom_classify
    from dronedb_spark.operators.delta import _push_fixture_sql

    t = _push_fixture_sql("spark")
    bbits, bm = bloom_bits(spark.sql(t["server"]))
    q = bloom_classify(spark.sql(t["client"]), bbits, bm)
    p = physical_plan(q)
    assert "BroadcastHashJoin" in p and not has_cartesian(q)

    # eval decontam: map-only over the corpus (no exchange, no join)
    from dronedb_spark.vectors.evalfilter import eval_contaminated
    from pyspark.sql import functions as F

    emb = load(spark, sf_dir, "embeddings")
    q = eval_contaminated(emb, emb.filter(F.col("vec_id") % 17 == 0))
    p = physical_plan(q)
    assert "Exchange" not in p and "Join" not in p, p


def test_barrier_persist_collision_guard(spark):
    """barrier_persist serves a cached frame only when sameSemantics
    confirms the hit — a 32-bit semanticHash collision must fall
    through to a fresh persist, never substitute another pipeline's
    data."""
    from dronedb_spark import tables

    a = spark.range(10).selectExpr("id", "id * 2 AS x")
    b = spark.range(10).selectExpr("id", "id * 3 AS x")  # different plan
    key = (spark.sparkContext.applicationId, a.semanticHash())
    tables._BARRIER_CACHE.pop(key, None)
    tables._BARRIER_CACHE[key] = b  # simulate a hash collision
    got = tables.barrier_persist(a)
    assert got is not b
    assert [r["x"] for r in got.orderBy("id").collect()][:3] == [0, 2, 4]
    # the COLLIDED entry keeps its slot (it may be live in an earlier
    # caller — evicting would silently drop its cached data); the new
    # frame stays persisted for this caller but untracked, so an
    # a-equivalent plan collides again and gets another fresh persist
    assert tables._BARRIER_CACHE[key] is b
    again = tables.barrier_persist(spark.range(10).selectExpr("id", "id * 2 AS x"))
    assert again is not b and again is not got
    assert tables._BARRIER_CACHE[key] is b  # still undisturbed
    got.unpersist()
    again.unpersist()
    tables._BARRIER_CACHE.pop(key, None)


@pytest.mark.heavy
def test_r8_operator_plan_shapes(spark, sf_dir):
    """One pin per round-8 operator family — the physical property each
    one's SCALE.md claim rests on."""
    from pyspark.sql import functions as F

    from dronedb_spark.plans.inspect import has_cartesian, physical_plan
    from dronedb_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    # substring spans: occurrence counting is a window, never a join
    from dronedb_spark.text.substring import substring_dup_spans

    q = substring_dup_spans(docs)
    p = physical_plan(q)
    assert "Join" not in p and not has_cartesian(q), p

    # gopher gate: one narrow projection, no exchange
    from dronedb_spark.text.gopher import gopher_quality_flags

    p = physical_plan(gopher_quality_flags(docs))
    assert "Exchange" not in p, p

    # domain cap: the rank window is the only hash exchange
    from dronedb_spark.text.domains import domain_cap

    p = physical_plan(domain_cap(load(spark, sf_dir, "documents")))
    own = p.split("InMemoryTableScan", 1)[0]
    assert own.count("Exchange hashpartitioning") == 1, p

    # residual IVF-PQ: the cell filter runs BEFORE the residual/dot
    # stage (pruning shape), and the plan carries no cartesian
    from dronedb_spark.vectors.ivfpq import (
        ivfpq_residual_search,
        pq_train_residual,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = ivfpq_residual_search(emb, 0, 10, codebook=pq_train_residual(emb))
    assert not has_cartesian(q)
    got = {tuple(r) for r in q.collect()}
    assert len(got) == 10


@pytest.mark.heavy
def test_residual_store_probe_reads_no_embeddings(spark, sf_dir, tmp_path):
    """The residual serving store: probe plan prunes partitions to the
    probed cells and its scan schema carries no embedding column."""
    from dronedb_spark.plans.inspect import formatted
    from dronedb_spark.tables import load
    from dronedb_spark.vectors.ivfpq import (
        _centroid_floats,
        ivfpq_residual_probe_store,
        ivfpq_residual_search,
        pq_train_residual,
        write_ivfpq_residual_store,
    )

    emb = load(spark, sf_dir, "embeddings")
    cents = _centroid_floats(emb)
    cb = pq_train_residual(emb, cents)
    path = str(tmp_path / "res_store")
    write_ivfpq_residual_store(emb, path, codebook=cb, cents=cents)
    q = ivfpq_residual_probe_store(spark, path, emb, 0, 10, codebook=cb, cents=cents)
    f = formatted(q)
    assert "PartitionFilters" in f and "cell" in f.split("PartitionFilters", 1)[1][:200]
    read_schema = [ln for ln in f.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("embedding" not in ln for ln in read_schema)
    got = [tuple(r) for r in q.collect()]
    want = [
        tuple(r)
        for r in ivfpq_residual_search(emb, 0, 10, codebook=cb).collect()
    ]
    assert got == want and len(got) == 10


def test_r8_session_operator_plan_shapes(spark, sf_dir):
    """One pin per round-8 late-session operator family — the physical
    property each one's SCALE.md claim rests on."""
    from pyspark.sql import functions as F

    from dronedb_spark.plans.inspect import has_cartesian, physical_plan
    from dronedb_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    # heavy hitters pass 1: map-only (scan -> Arrow kernel, no exchange)
    from dronedb_spark.text.heavyhitters import mg_partition_summaries

    p = physical_plan(mg_partition_summaries(docs))
    assert "Exchange" not in p, p

    # binq hamming search: the query side broadcasts, never a sort-merge
    from dronedb_spark.vectors.binq import binq_hamming_topk

    emb = load(spark, sf_dir, "embeddings")
    q = binq_hamming_topk(emb, 0, 10)
    p = physical_plan(q)
    assert "SortMergeJoin" not in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p

    # anchors rollup: no join; at most the two-stage countDistinct
    # exchange pair on the rollup key
    from dronedb_spark.text.anchors import anchor_rollup, resolve_target_host

    links = spark.createDataFrame(
        [("https://a.com/x", "https://t.com/y", "hello world")],
        "source_uri string, href string, anchor_text string",
    )
    p = physical_plan(anchor_rollup(resolve_target_host(links)))
    assert "Join" not in p, p
    assert 1 <= p.count("Exchange hashpartitioning") <= 2, p

    # robots verdicts: rules broadcast into the URL side (no sort-merge)
    from dronedb_spark.text.robots import robots_allowed

    urls = spark.createDataFrame(
        [(1, "h.com", "/p")], "doc_id long, host string, path string"
    )
    rules = spark.createDataFrame(
        [("h.com", "*", "disallow", "/p")],
        "host string, agent string, rule string, path string",
    )
    q = robots_allowed(urls, rules)
    p = physical_plan(q)
    assert "SortMergeJoin" not in p, p

    # epoch copies: budgets broadcast; the only hash exchange is the
    # per-source fractional rank window
    from dronedb_spark.text.mixture import epoch_copies

    budgets = spark.createDataFrame(
        [("s", 10, 25)], "source string, n_docs long, budget long"
    )
    src_docs = spark.createDataFrame(
        [(i, "s") for i in range(10)], "doc_id long, source string"
    )
    p = physical_plan(epoch_copies(src_docs, budgets))
    assert "BroadcastHashJoin" in p and p.count("Exchange hashpartitioning") == 1, p

    # dataset diff: digests cross the join, never text (projection shows
    # md5 below the join, and no cartesian)
    from dronedb_spark.catalog.datadiff import dataset_diff

    q = dataset_diff(docs, docs.select("doc_id", F.upper("text").alias("text")))
    assert not has_cartesian(q)


def test_resample_ffill_semantics(spark):
    """Gap buckets carry the last prior observation; leading gaps stay
    null; counts exact; grid spans min..max for EVERY key."""
    from dronedb_spark.operators.resample import resample_ffill

    rows = [
        # key a: obs in bucket 0 and 2 (hour grid; ts in us precision)
        (1, "2024-01-01 00:10:00", "a", 1.0),
        (2, "2024-01-01 02:20:00", "a", 3.0),
        # key b: first obs only in bucket 2 -> leading gaps null
        (3, "2024-01-01 02:30:00", "b", 7.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string, value double"
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type", "value")
    got = {
        (r["event_type"], r["bucket"]): (r["n_events"], r["value_ffill"])
        for r in resample_ffill(ev).collect()
    }
    b0 = min(b for _, b in got)  # the grid's first bucket (TZ-agnostic)
    assert got[("a", b0)] == (1, 1.0)
    assert got[("a", b0 + 3600)] == (0, 1.0)      # gap carried forward
    assert got[("a", b0 + 7200)] == (1, 3.0)
    assert got[("b", b0)] == (0, None)            # leading gap stays null
    assert got[("b", b0 + 3600)] == (0, None)
    assert got[("b", b0 + 7200)] == (1, 7.0)
    assert len(got) == 6


def test_funnel_strict_order_and_window(spark):
    """A purchase BEFORE the first view never counts; the conversion
    window cuts late steps; independent mins would get both wrong."""
    from dronedb_spark.operators.funnel import funnel_times

    rows = [
        # user 1: purchase precedes view -> stops at reached=2 (view,click)
        (1, 1, "purchase", "2024-01-01 00:00:00"),
        (2, 1, "view", "2024-01-01 01:00:00"),
        (3, 1, "click", "2024-01-01 02:00:00"),
        # user 2: full ordered funnel inside the window
        (4, 2, "view", "2024-01-01 00:00:00"),
        (5, 2, "click", "2024-01-01 01:00:00"),
        (6, 2, "purchase", "2024-01-01 02:00:00"),
        # user 3: click arrives 3 days after view -> window cuts it
        (7, 3, "view", "2024-01-01 00:00:00"),
        (8, 3, "click", "2024-01-04 00:00:00"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_s string"
    ).selectExpr("event_id", "user_id", "event_type", "CAST(ts_s AS TIMESTAMP) AS ts")
    got = {r["user_id"]: r["reached"] for r in funnel_times(ev).collect()}
    assert got == {1: 2, 2: 3, 3: 1}
    # unbounded window recovers user 3's click
    got_unb = {
        r["user_id"]: r["reached"]
        for r in funnel_times(ev, within_s=None).collect()
    }
    assert got_unb[3] == 2


def test_cohort_retention_triangle(spark):
    """Cohort = first active week; offsets count survivors; offset-0
    rows equal cohort sizes."""
    from dronedb_spark.operators.cohorts import cohort_retention

    # weeks encoded directly through ts at week granularity (epoch week
    # 2817 == 2024-01-01 .. ): user 1 active weeks 0,1,2; user 2 weeks
    # 0,2; user 3 week 1 only
    base = "2024-01-01 00:00:00"
    rows = [
        (1, 1, base), (2, 1, "2024-01-08 00:00:00"), (3, 1, "2024-01-15 00:00:00"),
        (4, 2, base), (5, 2, "2024-01-15 00:00:00"),
        (6, 3, "2024-01-08 00:00:00"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string"
    ).selectExpr("event_id", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    got = {
        (r["cohort_week"] % 100, r["week_offset"]): r["n_active"]
        for r in cohort_retention(ev).collect()
    }
    w0 = min(k[0] for k in got)
    assert got == {
        (w0, 0): 2,      # users 1 and 2 start week 0
        (w0, 1): 1,      # only user 1 back in week 1
        (w0, 2): 2,      # both back in week 2
        (w0 + 1, 0): 1,  # user 3's cohort
    }


def test_rolling_active_window_bounds(spark):
    """An active day counts toward WAU for exactly window_days days."""
    from dronedb_spark.operators.cohorts import rolling_active_users

    rows = [(1, 10, "2024-01-01 12:00:00"), (2, 20, "2024-01-10 12:00:00")]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string"
    ).selectExpr("event_id", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    got = {r["day"]: (r["dau"], r["wau"]) for r in rolling_active_users(ev).collect()}
    d0 = min(got)
    # user 10 active d0: in WAU through d0+6, gone at d0+7
    assert got[d0] == (1, 1)
    assert got[d0 + 6] == (0, 1)
    assert got[d0 + 7] == (0, 0)
    # user 20 active d0+9
    assert got[d0 + 9] == (1, 1)
    assert len(got) == 10


def test_mad_outliers_robust_to_spike(spark):
    """One extreme spike flags itself without dragging the fence (the
    mean/sigma failure MAD exists to avoid)."""
    from dronedb_spark.operators.outliers import mad_outlier_rollup

    rows = [(i, "t", float(10 + (i % 3))) for i in range(20)]  # 10,11,12
    rows.append((99, "t", 10_000.0))  # the spike
    ev = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    r = mad_outlier_rollup(ev).collect()[0]
    assert r["n_outliers"] == 1 and r["sum_outlier_ids"] == 99
    assert 10.0 <= r["med"] <= 12.0 and r["mad"] <= 2.0


def test_substring_incremental_store_never_rereads_corpus(spark, tmp_path):
    """The anchor-store probe must anchor ONLY the batch: with the store
    persisted to Parquet, the probe plan's single Parquet scan is the
    8-byte hash store (no corpus text scan, no second md5 anchor
    subtree), the store join is an equi-join, and the result equals a
    full recompute over store ∪ batch restricted to batch docs."""
    from dronedb_spark.text.substring import (
        incremental_substring_spans,
        substring_anchor_store,
        substring_dup_spans,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    store_docs = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0).unionByName(
        store_docs.filter(F.col("doc_id") % 7 == 1).select(
            (F.col("doc_id") + 5000000).alias("doc_id"), "text"
        )
    )
    sp = str(tmp_path / "anchor_store")
    substring_anchor_store(store_docs).write.parquet(sp)
    # batch rows pinned local so the ONLY file scan left is the store
    batch_local = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in batch.collect()],
        "doc_id long, text string",
    )
    probe = incremental_substring_spans(batch_local, spark.read.parquet(sp))
    plan = physical_plan(probe)
    assert plan.count("Scan parquet") == 1          # the store, nothing else
    assert "ReadSchema: struct<ah:bigint>" in plan  # 8-byte hashes, no text
    assert not has_cartesian(probe)
    got = sorted(tuple(r) for r in probe.collect())
    # equivalence: full recompute over store ∪ batch, batch docs only
    full = substring_dup_spans(store_docs.unionByName(batch))
    batch_ids = {r["doc_id"] for r in batch_local.select("doc_id").collect()}
    want = sorted(
        tuple(r) for r in full.collect() if r["doc_id"] in batch_ids
    )
    assert got == want and len(got) > 0


def test_reservoir_sample_is_take_ordered_not_global_sort(spark):
    """The deterministic sample plans as TakeOrderedAndProject
    (per-partition top-N + N-row merge), never a global Sort+Exchange
    of the corpus; and the same (seed, N) names identical rows across
    different partitionings."""
    from dronedb_spark.text.reservoir import reservoir_sample

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source"
    )
    q = reservoir_sample(docs, n=20)
    plan = physical_plan(q)
    assert "TakeOrderedAndProject" in plan
    a = [tuple(r) for r in q.collect()]
    b = [tuple(r) for r in reservoir_sample(
        docs.repartition(13), n=20).collect()]
    assert a == b and len(a) == 20
