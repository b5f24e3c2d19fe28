"""Benchmark harness — times registry checks at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the
host's core count) and prints ONE JSON line.

Each row is timed by ``time_row``: an untimed warm run, then best-of-3,
every run starting from a reset run cache.  A check registered with
``small=True`` (top-k, paging, plans, rollups) is forced with
``collect()``, the realistic action for it; every other check with the
noop sink (full computation, no driver collect).  Row times depend only
on this run: no committed artifact feeds the timing.

Two modes (the driver's bench budget and stdout tail are both bounded,
so the official pass must stay compact):

* default (driver pass): times the curated ``DRIVER_SUBSET`` (~80 rows,
  every operator family represented) and prints a COMPACT final JSON
  line — totals + the 57-row ``LINE_ROWS`` map, sized to survive the
  driver's 2000-char stdout tail.  The complete per-row map for the
  pass is written to BENCH_SELF_DRIVER.json.
* ``SPARK_GRAFT_BENCH_FULL=1`` (builder pass): every registered check,
  in registry order (the derived driver gate order, see
  ``dronedb_spark.suite.load_all``), written to BENCH_SELF.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Union of every query name that ever appeared in a PARSED driver bench
# artifact (BENCH_r01–r06's `parsed.queries`; r07+ were unparseable).
# The driver contract forbids removing or renaming entries from the
# printed `queries` map, so the driver-visible line carries exactly
# these 57 rows (~1.8 KB as JSON — fits the driver's 2000-char stdout
# tail with headroom) and the driver pass must time every one of them.
# Order = BENCH_r06's map order; the prefix is the original 24-row r1
# headline (longitudinal comparability with BENCH_r01 / BASELINE).
LINE_ROWS = [
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_region_revenue",
    "parts_topk_per_brand", "events_hourly", "asof_join_events",
    "interval_join_windows", "catalog_search_like", "entries_meta_join",
    "stac_items_page", "delta_adds", "stamp_checksum",
    "dedup_minhash_signatures", "dedup_neardup_pairs", "dedup_corpus_segments",
    "knn_cosine_top10", "text_quality_metrics", "raster_area_stats",
    "zonal_volume_cutfill", "text_simhash", "ann_lsh_top5",
    "formula_engine_sweep", "copc_zorder_pages", "vector_query_page",
    "stac_items_keyset", "dedup_corpus_segments_10x", "multiraster_area_stats",
    "stockpile_detect", "contour_segments", "mvt_tile_features",
    "thermal_point_query", "pointcloud_laz_stats", "media_jpeg_channel_stats",
    "mvt_pbf_roundtrip", "shapefile_parse_features", "gpkg_parse_features",
    "q8_market_share", "q18_large_orders", "topojson_parse_features",
    "stac_collection_doc", "json_sink_roundtrip", "stream_dedup_twin",
    "sq8_adc_top10", "lm_doc_perplexity", "pack_sequences_chunks",
    "render_index_region", "rad_coarse_splats", "lm_doc_perplexity_10x",
    "pack_sequences_10x", "video_frame_decode", "incremental_dedup_probe",
    "delta_adds_10x", "push_needed_files", "winnow_overlap_pairs",
    "hll_token_registers", "cms_heavy_hitters", "bm25_query_scores",
]

# The driver pass times LINE_ROWS (mandatory — every row must appear in
# the printed line) plus curated representatives for the operator
# families added since r06 (text pipeline, dedup families, ANN serving,
# streaming twins, events/sessions, maintenance, eval, and the newest
# debuts).  Selection criterion: family coverage at bounded mass —
# single-pass sum ~55 s at sf0.1 on this host (BENCH_SELF), so warm +
# best-of-3 + stall retries stays ~12 min wall, inside the driver's
# budget (BENCH_r12 timed out on the full-registry protocol).  The
# scratch-dir store/build checks, the by-design quadratic in-cell
# twins, and the heavier family rows trimmed here all remain timed by
# the FULL (builder) pass — BENCH_SELF.json covers the whole registry.
DRIVER_SUBSET = LINE_ROWS + [
    # LM / text pipeline
    "tfidf_topterms",
    # dedup family representatives (beyond those already in LINE_ROWS)
    "paragraph_dedup", "url_canonical_dedup", "semdedup_cell_rollup",
    # ANN serving
    "ivfpq_adc_top10", "binq_hamming_top10", "pq_adc_top10",
    # streaming batch twins
    "stream_topk_counts_twin", "stream_decontam_hits_twin",
    # events / sessions
    "funnel_view_click_purchase", "sessionize_gap_windows",
    "events_rollup_counts",
    # maintenance / eval
    "zorder_layout_skipping", "compact_plan_groups", "classifier_pr_curve",
    # newest debuts
    "source_datacard", "sft_pack_batches", "fuzzy_blocked_matches",
    "attribution_report", "conformal_coverage", "km_user_survival",
    "domain_hits",
]

# The stable longitudinal metric: the original r1 headline rows.
_HEADLINE24 = LINE_ROWS[:24]


def time_row(spark, chk, sf_dir: str) -> float:
    """Steady-state seconds of one registry check: one UNTIMED warm run
    at the measured SF (footers, codegen, shuffle files), then best-of-3
    — local-mode block-manager cleanup occasionally stalls one task for
    seconds mid-sequence, and min-of-2 was noisy enough that
    round-over-round deltas needed manual re-probes.

    EVERY run, the warm one included, starts with the cross-call caches
    dropped, so each timed run materializes its own barrier persists
    from the parquet inputs instead of reading the warm run's."""
    from dronedb_spark.tables import reset_run_cache

    def run_once() -> float:
        reset_run_cache(spark)
        t0 = time.time()
        df = chk.spark_fn(spark, sf_dir)
        if chk.small:
            df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    run_once()
    runs = [run_once(), run_once(), run_once()]
    best = min(runs)
    # Local-mode scheduler hiccups dominate short queries.  ADAPTIVE
    # extra min-runs: only a short row whose three runs already disagree
    # (spread > 1.25x) pays for two more — stable rows add nothing, so
    # the full pass stays inside its budget (an unconditional best-of-5
    # pushed the wall past 50 minutes).
    if best < 2.0 and max(runs) > 1.25 * best:
        best = min(best, run_once(), run_once())
    # Stall insurance: a sustained host-level hiccup can inflate several
    # consecutive runs (observed: q1 at 8.5s across 3 runs, steady-state
    # 0.9s); retry up to 2 extra times while the best still looks stalled.
    extra = 0
    while best > 2.5 and extra < 2:
        best = min(best, run_once())
        extra += 1
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))

    from dronedb_spark.session import get_spark
    from dronedb_spark.suite import load_all

    full = os.environ.get("SPARK_GRAFT_BENCH_FULL", "") == "1"

    spark = get_spark("dronedb_spark_bench", cpus=cpus)
    registry = load_all()

    if full:
        # Builder pass: the whole registry, in registry order.
        rows = list(registry)
    else:
        # Driver pass: the curated family-coverage subset, bounded wall.
        rows = [n for n in DRIVER_SUBSET if n in registry]

    # Warm-up: JVM JIT + whole-stage-codegen class cache.  Every row also
    # takes its own untimed warm run at the measured SF (``time_row``).
    spark.range(1000).count()

    # Start the timed loop from a clean session: any persisted barriers,
    # cached relations or un-GC'd broadcasts left by registry import /
    # warm-up are dropped (the r11 finding: resident warm state inflated
    # early timed rows 2-3x — stamp_checksum 1.45s vs 0.60s clean).
    # Clearing is steady-state hygiene, not a benchmark trick — a real
    # cluster job starts without another workload's cache residue.
    from dronedb_spark.tables import reset_run_cache

    try:
        reset_run_cache(spark)
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass

    results: dict[str, float] = {}
    total = 0.0
    t_start = time.time()
    for name in rows:
        results[name] = round(time_row(spark, registry[name], sf_dir), 3)
        total += results[name]
        # Per-row progress on stderr: a driver timeout becomes
        # diagnosable (which row was running), and everything prints
        # BEFORE the final JSON line so the stdout tail still ends
        # with the parseable record.
        print(
            f"[bench {len(results)}/{len(rows)} t={time.time() - t_start:.0f}s]"
            f" {name}: {results[name]}s",
            file=sys.stderr, flush=True,
        )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Host 1-min load average at finish (r12 verdict #5): the sandbox
    # has documented external-load windows that inflate common rows
    # 1.2-1.35x on unchanged code — recording the load makes a noisy
    # snapshot self-documenting instead of a fake regression.
    try:
        loadavg = round(os.getloadavg()[0], 1)
    except OSError:
        loadavg = -1.0
    full_record = json.dumps(
        {
            "metric": "headline_queries_total_sec",
            "value": round(total, 3),
            "unit": "sec",
            "queries": results,
            "sf": sf_val,
            "load1m": loadavg,
        }
    )
    # Persist the COMPLETE per-query record beside the repo: the driver
    # keeps only a 2000-char stdout tail, which cannot hold a large
    # queries map — round-over-round comparison needs the full map on
    # disk.  The builder's full-registry snapshot keeps its historical
    # name; the driver pass writes its own file so a post-commit driver
    # run never clobbers the committed full-registry artifact.
    try:
        out = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_SELF.json" if full else "BENCH_SELF_DRIVER.json",
        )
        with open(out, "w") as fh:
            fh.write(full_record + "\n")
    except OSError:
        pass

    # The driver-visible line must be printed LAST and must FIT: the
    # driver records a 2000-char stdout tail (BENCH_r07-r12 were all
    # unparseable because the 384-row map overflowed it).  Emit totals
    # plus the 57-row LINE_ROWS map — the union of every row any parsed
    # driver artifact ever carried, so no entry is ever removed —
    # (~1.8 KB); stop Spark FIRST so no executor/shutdown chatter
    # prints after the line.
    line_map = {k: results[k] for k in LINE_ROWS if k in results}
    head24 = {k: results[k] for k in _HEADLINE24 if k in results}

    def _render(ndigits: int) -> str:
        return json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {k: round(v, ndigits) for k, v in line_map.items()},
                "headline24_total_sec": round(sum(head24.values()), 3),
                "n_queries": len(results),
                "sf": sf_val,
                "load1m": loadavg,
            }
        )

    # The line MUST fit the driver's 2000-char stdout tail (ADVICE: at
    # 7-8 chars per value the 57-row map leaves <100 chars of headroom).
    # A slow run can never silently produce another unparseable artifact:
    # degrade per-row rounding to 2 decimals if 3 would overflow, and
    # assert the invariant rather than hope.
    line = _render(3)
    if len(line) >= 1950:
        line = _render(2)
    assert len(line) < 2000, f"driver line {len(line)} chars overflows the 2000-char tail"
    try:
        spark.stop()
    except Exception:
        pass
    print(line, flush=True)


if __name__ == "__main__":
    main()
