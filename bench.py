#!/usr/bin/env python
"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 test data, ``SF_DIR``) on ``session.default_cores()``
($SPARK_GRAFT_CPUS, else every core the process may run on).

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

from geotile.session import default_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cores()
# pages scaled to the sf of the relational tables (sf0.1 ~ 600k lineitem)
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "150000"))
# tmpfs scratch: all local threads share one block device in this
# sandbox; real executors own their local disks (see BENCH/BASELINE.md)
WORKDIR = os.environ.get("SPARK_GRAFT_BENCH_WORKDIR", "/dev/shm/geotile_bench")
os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/geotile_bench_local")

# queries() entries the suite does not time, each with the reason
BENCH_SKIP = {
    "q3_delete_antijoin": "one broadcast anti-join, no spatial or text kernel",
    "q4_topk_per_group": "plain Spark window, no geotile code",
    "q11_s2_cells": "S2 kernel cost is timed per point by perfbench",
    "q14_token_count": "one narrow token-count pass and a tiny aggregate",
    "q18_ngram_jaccard": "fixed 300-doc slice, does not grow with sf",
    "q20_lsh_ann_topk": "one-query probe; q48 times the hyperplane LSH",
    "q23_pool_state": "timed in perfbench's positions workload",
    "q24_compat_cell_counts": "reference-compat kernel, pinned by golden vectors",
    "q25_upsert_lww": "LWW upsert timed as stream_upsert",
    "q26_rollup_agg": "plain Spark rollup, no geotile code",
    "q27_set_ops": "plain Spark set ops, no geotile code",
    "q28_semi_join": "plain Spark semi-join, no geotile code",
    "q29_pivot": "plain Spark pivot, no geotile code",
    "q30_compat_json_sink": "reference-compat sink, pinned by golden vectors",
    "q31_asof_window": "plain Spark window, no geotile code",
    "q32_cube_agg": "plain Spark cube, no geotile code",
    "q33_winnow_pairs": "300-doc slice; winnow_pairs_full times all documents",
    "q34_frame_sample": "fake-media plumbing over built-ins",
    "q35_ivf_ann_topk": "512-vector quantizer sample; q142 times k-means",
    "q37_decode_bounds": "decode round trip of the geohash kernel",
    "q39_compat_neighbors": "fixture rows, pinned by golden vectors",
    "q40_compat_distance": "fixture rows, pinned by golden vectors",
    "q41_compat_bbox": "fixture rows, pinned by golden vectors",
    "q42_compat_candidates": "fixture rows, pinned by golden vectors",
    "q45_percentiles": "plain Spark percentile, no geotile code",
}


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

    # headline: full pages pipeline (fresh workdir each run), timed by
    # the pipeline itself.  The first run is the cold session's: it
    # includes JIT/codegen compilation and the Python workers' start.
    # A second run on a fresh workdir in the same session is reported
    # beside it, outside ``queries``
    shutil.rmtree(WORKDIR, ignore_errors=True)
    pm = pipeline.run_pipeline(spark, WORKDIR, n=N_PAGES)
    timings["pages_pipeline"] = round(pm["t_total"], 3)
    pm_repeat = pipeline.run_pipeline(spark, os.path.join(WORKDIR, "repeat"), n=N_PAGES)

    # operator suite on the driver's testdata at SF_DIR: every queries()
    # entry except BENCH_SKIP, in query-number order
    from geotile import cache, textops

    qs = entrymod.queries()
    bench_queries = sorted((n for n in qs if n not in BENCH_SKIP),
                           key=lambda n: int(n[1:n.index("_")]))
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
        "pages_pipeline_repeat_sec": round(pm_repeat["t_total"], 3),
        "pages_per_sec_repeat": round(pm_repeat["pages_per_sec"], 1),
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
