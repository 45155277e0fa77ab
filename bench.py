#!/usr/bin/env python
"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline is the pages pipeline (synth -> extract -> mention parse ->
cell/tile assignment -> POI radius join -> rollup), reported both as
total seconds and pages/sec; individual operator timings follow.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default 16, not 32: /proc advertises 32 CPUs but the VM's sustained
# entitlement is far lower — measured pipeline at local[32] runs ~3x
# SLOWER than local[16] (oversubscription thrash).  $SPARK_GRAFT_CPUS
# still wins when the caller sets it.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
# pages scaled to the sf of the relational tables (sf0.1 ~ 600k lineitem)
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "150000"))
# tmpfs scratch: all local threads share one block device in this
# sandbox; real executors own their local disks (see BENCH/BASELINE.md)
WORKDIR = os.environ.get("SPARK_GRAFT_BENCH_WORKDIR", "/dev/shm/geotile_bench")
os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/geotile_bench_local")


def _contention_probe() -> float:
    """Fixed-work single-process CPU burner (same work unit as
    BENCH/scaling.py's hardware-ceiling probe): wall seconds for a
    constant pure-python loop.  Run before AND after the suite and
    emitted into the JSON so a round whose numbers are uniformly slow
    can be attributed to host co-load (probe >> idle baseline ~2-4 s)
    instead of a code regression, without a re-run."""
    t0 = time.time()
    n = 0
    for i in range(30000000):
        n += i * i
    return round(time.time() - t0, 3)


def main() -> None:
    import __spark_entry__ as entrymod
    from geotile import pipeline
    from geotile.session import get_spark

    probe_before = _contention_probe()
    load_before = os.getloadavg()[0]
    sf_tag = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("geotile-bench", cores=CPUS, shuffle_partitions=CPUS)

    timings: dict[str, float] = {}

    # headline: full pages pipeline (fresh workdir each run)
    shutil.rmtree(WORKDIR, ignore_errors=True)
    # pipeline's own stage timing (excludes the one-time executor/JIT
    # warm-up, which long-lived cluster executors don't pay per job)
    pm = pipeline.run_pipeline(spark, WORKDIR, n=N_PAGES, partitions=CPUS * 2)
    timings["pages_pipeline"] = round(pm["t_total"], 3)

    # operator suite on the driver's testdata at SF_DIR
    bench_queries = [
        "q1_pricing_summary", "q2_latest_position_per_key", "q5_broadcast_join_agg",
        "q6_cell_counts_salted", "q7_radius_search", "q8_knn_join", "q9_pip_join",
        "q10_tile_assign", "q12_dedup_exact", "q13_quality_features",
        "q15_lang_id", "q16_minhash_lsh_pairs", "q17_simhash_pairs",
        "q19_embed_topk", "q21_radius_join", "q22_raster_vector_join",
        "q36_hex_cells", "q38_knn_join_bulk", "q43_dedup_verified",
        "q44_sessionize", "q46_range_join", "q47_kmv_distinct",
        "q48_cosine_near_dup", "q49_deterministic_sample", "q50_top_tokens",
        "q51_route_proximity", "q52_text_embedding", "q53_text_near_dup_e2e",
        "q54_text_embedding_capped", "q55_tile_pyramid",
        "q56_stream_tile_pyramid", "q57_stream_sessionize",
        "q58_stream_cell_counts", "q59_capped_near_dup_e2e",
        "q60_route_proximity_gc", "q61_dedup_clusters", "q62_dbscan",
        "q63_bm25_topk", "q64_repetition_filter", "q65_stream_interval_join",
        "q66_window_suite", "q67_grouping_sets", "q68_chunk_dedup",
        "q69_pagerank", "q70_compact_cells", "q71_bfs_hops",
        "q72_source_quota", "q73_collocations", "q74_kmv_merge",
        "q75_cell_sample", "q76_cohort_retention", "q77_funnel",
        "q78_hex_pyramid", "q79_speed_filter", "q80_stay_points",
        "q81_od_matrix", "q82_colocation_pairs", "q83_triangle_counts",
        "q84_char_entropy", "q85_hex_disk", "q86_daily_trips",
        "q87_rate_anomalies", "q88_winsorize_lengths",
        "q89_heavy_hitters", "q90_scalar_quantize",
        "q91_stream_dedup", "q92_stream_radius_join",
        "q93_session_trips", "q94_bigram_logprob", "q95_table_stats",
        "q96_json_extract", "q97_crossface_hex_disk",
        "q98_triangle_counts_skew", "q99_bigram_logprob_floored",
        "q100_ws_class_tokens", "q101_pii_redaction",
        "q102_cell_density_smooth", "q103_decontaminate",
        "q104_semdedup", "q105_morans_i", "q106_knn_graph",
        "q107_stream_decontaminate", "q108_geofence_transitions",
        "q109_quadkey_rollup", "q110_boilerplate_screen",
        "q111_pack_sequences", "q112_mixing_weights",
        "q113_bearing_sectors", "q114_covisit_jaccard",
        "q115_radius_gyration", "q116_visit_entropy",
        "q117_anchor_cells", "q118_getis_ord", "q119_pq_adc_topk",
        "q120_cell_top_terms", "q121_hilbert_locality",
        "q122_source_kl_drift", "q123_hilbert_range_scan",
        "q124_dsir_weights", "q125_hll_registers", "q126_weighted_paths",
        "q127_stream_hll", "q128_polygon_measures", "q129_bloom_prefilter",
        "q130_stratified_split", "q131_emerging_hotspots",
        "q132_snapshot_diff", "q133_hausdorff_pairs", "q134_map_match",
        "q135_route_ngrams", "q136_stream_map_match", "q137_od_travel_times",
        "q138_hist_quantiles", "q139_knn_classify", "q140_cell_occupancy",
        "q141_url_dedup", "q142_kmeans", "q143_skyline",
        "q144_resample_track", "q145_token_bursts", "q146_boolean_search",
        "q147_polygon_fill", "q148_count_min", "q149_k_anonymize",
        "q150_stream_count_min", "q151_cell_trend", "q152_file_roundtrip",
        "q153_edit_dedup", "q154_revisit_rates", "q155_feature_corr",
        "q156_rendezvous_shards", "q157_turn_stats", "q158_prefix_policy",
        "q159_kwic", "q160_polygon_overlap", "q161_postings_compression",
        "q162_parse_latlon", "q163_dup_chunk_ratio", "q164_mad_outliers",
        "q165_partition_pruned_scan", "q166_label_propagation",
        "q167_markov_transitions", "q168_time_weighted_value",
        "q169_hybrid_rrf", "q170_curve_compare",
        "q171_phrase_search", "q172_adaptive_cover",
        "q173_minhash_calibration", "q174_containment_pairs",
        "q175_markov_backtest", "q176_ann_recall", "q177_kcore",
        "q178_textrank_keywords", "q179_source_js",
        "q180_cell_changepoint", "q181_poi_visits",
        "q182_session_sinuosity", "q183_decayed_heat",
        "q184_source_syndication", "q185_coverage_gaps",
        "q186_quantile_normalize", "q187_mobility_rank",
        "q188_best_snippet", "q189_cell_load_gini",
        "q190_spacetime_join", "q191_cluster_provenance",
        "q192_event_type_lift", "q193_stream_hist",
        "q194_ann_probe_sweep", "q195_l_diversity",
        "q196_idw_interpolate", "q197_dead_reckoning",
        "q198_rolling_active", "q199_lateness_audit",
        "q200_orc_roundtrip", "q201_phrase_merges",
        "q202_dedup_threshold_sweep", "q203_harmonic_centrality",
        "q204_convoys", "q205_graph_mixing", "q206_hll_error_audit",
        "q207_budget_apportionment", "q208_heat_peaks",
        "q209_stickiness", "q210_ivm_merge", "q211_fence_dwell",
        "q212_cover_selectivity", "q213_nearest_poi",
        "q214_attribution", "q215_compaction_plan", "q216_cell_blobs",
        "q217_ks_distance", "q218_first_digits", "q219_hourly_acf",
        "q220_spearman", "q221_mutual_knn", "q222_track_simplify",
        "q223_commute_anchors", "q224_convex_hulls",
        "q225_weighted_sample", "q226_zonal_stats",
        "q227_path_crossings", "q228_haar_energy",
        "q229_label_centroids", "q230_stream_records",
        "q231_gazetteer_mentions", "q232_half_sample_bootstrap",
        "q233_vocab_growth", "q234_corridor_raster",
        "q235_t_closeness", "q236_integrity_audit",
        "q237_stream_ivm_rollup", "q238_topk_churn",
        "q239_geary_c", "q240_ripley_pairs", "q241_theil_sen",
        "q242_clustering_coeff", "q243_rake_keywords", "q244_chi2_audit",
        "q245_kde_heat", "q246_step_directions", "q247_nn_distance_hist",
        "q248_kendall_tau", "q249_gravity_residuals", "q250_blob_profile",
        "q251_stream_transitions", "q252_time_decay_attribution",
        "q253_emerging_gi", "q254_knox_test", "q255_local_morans",
        "q256_percentile_bands", "q257_viewshed", "q258_ndcg_eval",
        "q259_link_prediction", "q260_polygon_validity", "q261_ipf_fit",
        "q262_activity_streaks", "q263_follow_patterns", "q264_ams_f2",
        "q265_catchment_access", "q266_session_gap_sweep",
        "q267_viterbi_paths", "q268_fair_share", "q269_triplet_audit",
        "q270_novelty_profile", "q271_seq_entropy", "q272_zipf_fit",
        "q273_distance_decay", "q274_cell_sync", "q275_peak_hours",
        "q276_debounce_audit", "q277_drainage_basins",
        "q278_join_counts", "q279_hull_diameter", "q280_nb_classify",
        "q281_ddsketch_quantiles", "q282_map_mrr_eval",
        "q283_isotonic_calibration", "q284_huff_shares",
        "q285_stream_ddsketch", "q286_dtw_consistency",
        "q287_lz_matches", "q288_prefix_recall", "q289_kmv_intersect",
        "q290_greedy_dispatch", "q291_ewma_alerts", "q292_source_mst",
        "q293_visit_motifs", "q294_rbo_eval", "q295_perm_test",
        "q296_curation_funnel", "q297_km_survival", "q298_eb_rates",
        "q299_jain_fairness", "q300_cell_hour_mi", "q301_fdr_screen",
        "q302_ppr_cells", "q303_cdc_chunks", "q304_variogram",
        "q305_recurrence_det", "q306_consensus_line",
        "q307_unicity_audit", "q308_token_bucket",
    ]
    from geotile import cache, textops

    qs = entrymod.queries()
    for name in bench_queries:
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        df.count()
        timings[name] = round(time.time() - t0, 3)
        cache.release(df)  # free operator-internal caches between queries

    # dedup path at FULL corpus scale (q33 gates on a 300-doc slice; the
    # scale claim for winnowing is measured here on all documents)
    t0 = time.time()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    wp = textops.winnow_pairs(docs)
    wp.count()
    cache.release(wp)
    timings["winnow_pairs_full"] = round(time.time() - t0, 3)

    # adversarial-skew dedup stress: Zipf-boilerplate corpus — the
    # hottest block appears in ~1/3 of ALL docs (fingerprint df >> the
    # max_df=16 cap), proving the frequency cap and filter-before-dedup
    # claims under skew the uniform synth corpus never exercises
    from pyspark.sql import functions as F

    from geotile import synth

    n_skew = max(N_PAGES // 30, 2000)
    skew = synth.synth_docs_skew(spark, n_skew, partitions=CPUS).persist()
    skew.count()
    hot = (textops.winnow_fingerprints(skew)
           .select(F.explode("fingerprints").alias("f"))
           .groupBy("f").agg(F.count("*").alias("df"))
           .agg(F.max("df").alias("mx"),
                F.sum(F.when(F.col("df") > 16, 1).otherwise(0)).alias("over"),
                F.count("*").alias("n_fp")).first())
    t0 = time.time()
    wp = textops.winnow_pairs(skew)
    n_wp = wp.count()
    cache.release(wp)
    timings["skew_winnow_pairs"] = round(time.time() - t0, 3)
    t0 = time.time()
    mp = textops.minhash_lsh_pairs(skew, threshold=0.5)
    n_mp = mp.count()
    cache.release(mp)
    timings["skew_minhash_pairs"] = round(time.time() - t0, 3)
    # the round-5 sketch/classifier additions under the SAME Zipf skew:
    # kmv_intersect's per-pair sketches must stay k-bounded when one
    # boilerplate block floods every source's vocabulary, and
    # nb_classify's token-keyed model join must absorb the hot tokens
    # (they land in every class with near-equal likelihood)
    skew_g = skew.withColumn(
        "grp", F.concat(F.lit("g"), F.pmod(F.xxhash64("doc_id"), F.lit(4))))
    t0 = time.time()
    ki = textops.kmv_intersect(skew_g, group="grp", k=64)
    n_ki = ki.count()
    cache.release(ki)
    timings["skew_kmv_intersect"] = round(time.time() - t0, 3)
    t0 = time.time()
    nbc = textops.nb_classify(skew_g, label_col="grp")
    n_nbc = nbc.count()
    timings["skew_nb_classify"] = round(time.time() - t0, 3)
    skew.unpersist()

    # graph stress: connected components over the q69-style synthesized
    # link graph PLUS a pathological LONG PATH component (a 4096-node
    # chain in an id range above the docs) — the worst case for
    # label-propagation-style algorithms (O(diameter) rounds); star
    # contraction must stay O(log^2 n) and the driver-side union-find
    # O(log n) numpy passes.  Distributed rounds are recorded, not just
    # wall time (0 while the graph fits graph.LOCAL_CC_MAX_EDGES).
    from geotile import graph

    docs_ids = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    n_docs = docs_ids.count()
    rand_edges = (docs_ids
                  .select("doc_id", F.explode(F.array([F.lit(j) for j in range(3)])).alias("j"))
                  .select(F.col("doc_id").alias("a"),
                          F.pmod(F.xxhash64(F.col("doc_id") * F.lit(3) + F.col("j")),
                                 F.lit(n_docs)).alias("b")))
    chain_base = 10_000_000_000
    chain = (spark.range(4095)
             .select((F.col("id") + chain_base).alias("a"),
                     (F.col("id") + chain_base + 1).alias("b")))
    t0 = time.time()
    cc = graph.connected_components(rand_edges.unionByName(chain), "a", "b")
    n_cc_nodes = cc.count()
    cc_rounds = cc._geotile_rounds
    chain_roots = (cc.where(F.col("node") >= chain_base)
                   .select("cluster_id").distinct().count())
    cache.release(cc)
    timings["graph_cc_longpath"] = round(time.time() - t0, 3)
    assert chain_roots == 1, "long-path chain must resolve to ONE component"

    # triangle-orientation skew stress: a MID-ID hub (worst case for id
    # orientation — the ordered wedge pivots on the middle vertex, so a
    # hub with half its neighbors below and half above yields (d/2)^2
    # wedge rows under ONE key) vs degree orientation (hub ranks above
    # all leaves -> zero hub wedges).  Wedge counts are computed exactly
    # from degree aggregates — the bounded-fan-out claim is a measured
    # number, not a docstring
    hub = n_docs // 2
    star98 = (docs_ids.where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") != hub))
              .select(F.lit(hub).cast("long").alias("a"), F.col("doc_id").alias("b")))
    ed98 = rand_edges.unionByName(star98).where(F.col("a") != F.col("b"))
    und98 = (ed98.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
             .distinct().persist())
    lo98 = und98.groupBy(F.col("v").alias("n")).agg(F.count("*").alias("c_lo"))
    hi98 = und98.groupBy(F.col("u").alias("n")).agg(F.count("*").alias("c_hi"))
    wedges_id = int(lo98.join(hi98, "n")
                    .agg(F.sum(F.col("c_lo") * F.col("c_hi"))).first()[0] or 0)
    deg98 = (und98.select(F.col("u").alias("n")).unionByName(und98.select(F.col("v").alias("n")))
             .groupBy("n").agg(F.count("*").alias("d")))
    du98 = deg98.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv98 = deg98.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lo_first98 = (F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
                  < F.struct(F.col("dv").alias("d"), F.col("v").alias("n")))
    out98 = (und98.join(du98, "u").join(dv98, "v")
             .select(F.when(lo_first98, F.col("u")).otherwise(F.col("v")).alias("a"))
             .groupBy("a").agg(F.count("*").alias("od")))
    wedges_deg = int(out98.agg(
        F.sum(F.col("od") * (F.col("od") - 1) / 2).cast("long")).first()[0] or 0)
    t0 = time.time()
    tri_id = graph.triangle_counts(und98, "u", "v")
    rows_id = sorted((r["node"], r["n_tri"]) for r in tri_id.collect())
    cache.release(tri_id)
    timings["tri_skew_id_oriented"] = round(time.time() - t0, 3)
    t0 = time.time()
    tri_deg = graph.triangle_counts_oriented(und98, "u", "v")
    rows_deg = sorted((r["node"], r["n_tri"]) for r in tri_deg.collect())
    cache.release(tri_deg)
    timings["tri_skew_degree_oriented"] = round(time.time() - t0, 3)
    assert rows_id == rows_deg, "orientation changed triangle counts"
    und98.unpersist()

    # streaming upsert throughput: N position updates over 4 micro-batch
    # files -> availableNow upsert_stream (LWW merge + snapshot commit
    # per batch) — measured, not asserted
    from pyspark.sql import functions as F

    from geotile import streaming

    n_stream = max(N_PAGES // 10, 1000)
    sdir = os.path.join(WORKDIR, "stream")
    shutil.rmtree(sdir, ignore_errors=True)
    updates = (spark.range(n_stream)
               .select(F.concat(F.lit("m"), (F.col("id") % (n_stream // 2))).alias("msisdn"),
                       ((F.col("id") * 7919 % 160000) / 1000.0 - 80.0).alias("lat"),
                       ((F.col("id") * 104729 % 340000) / 1000.0 - 170.0).alias("lon"),
                       F.col("id").alias("ts"),
                       (F.col("id") % 4).alias("b")))
    for b in range(4):
        (updates.where(F.col("b") == b).drop("b").coalesce(max(CPUS // 4, 1))
         .write.mode("overwrite").parquet(os.path.join(sdir, f"updates/b{b}")))
    t0 = time.time()
    q = streaming.upsert_stream(spark, os.path.join(sdir, "updates/b*"),
                                os.path.join(sdir, "state"),
                                os.path.join(sdir, "ckpt"))
    q.awaitTermination(600)
    t_stream = time.time() - t0
    timings["stream_upsert"] = round(t_stream, 3)
    stream_rows_per_sec = round(n_stream / t_stream, 1)

    probe_after = _contention_probe()
    load_after = os.getloadavg()[0]

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "bench_suite_total_sec",
        "value": total,
        "unit": "sec",
        "contention_probe_before_sec": probe_before,
        "contention_probe_after_sec": probe_after,
        "loadavg_before": round(load_before, 2),
        "loadavg_after": round(load_after, 2),
        "queries": timings,
        "sf": sf_tag,
        "pages": pm["pages"],
        "points": pm["points"],
        "joined_rows": pm["joined"],
        "pages_per_sec": round(pm["pages_per_sec"], 1),
        "stream_updates": n_stream,
        "stream_rows_per_sec": stream_rows_per_sec,
        "skew_docs": n_skew,
        "skew_fp_max_df": int(hot["mx"]),
        "skew_fp_over_cap": int(hot["over"]),
        "skew_fp_distinct": int(hot["n_fp"]),
        "skew_winnow_pairs_rows": int(n_wp),
        "skew_minhash_pairs_rows": int(n_mp),
        "graph_cc_nodes": int(n_cc_nodes),
        "graph_cc_rounds": int(cc_rounds),
        "tri_skew_wedges_id": wedges_id,
        "tri_skew_wedges_degree": wedges_deg,
        "cpus": CPUS,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
