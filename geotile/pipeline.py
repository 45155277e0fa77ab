"""End-to-end pages pipeline: synth/ingest -> extract -> mentions ->
tile assignment -> spatial join -> cell rollup, every stage committed
through the manifest layer so a killed run resumes mid-job.

``spark-submit --py-files geotile.zip geotile/pipeline.py --n 1000000``
is the cluster entry; the same function runs in-process for tests and
bench.  Stage graph (each stage = one manifest-committed table):

  pages      synth_pages (or external ingest)        partition: none; one Python
                                                     task and file per
                                                     PAGES_PER_TASK pages
  points     extract + mentions explode + cells      partition: gh2 (2-char prefix),
             (one Python task per PAGES_PER_TASK     rebalanced on gh2: one file per
             pages)                                  prefix, hot prefixes split
  joined     radius join vs the city POI set         partition: none (result)
  rollup     per-cell counts (salted aggregation)    partition: none
  store      latest point per url (LWW dedup)        external table, 16 buckets on url,
                                                     data under store/data.v<N>

At 100 TB the 'points' table is the big one; it is written partitioned
by the 2-char cell prefix so every later spatial join prunes partitions
at the scan.  write_stage shuffles it once by that prefix, so later
stages scan a few files per prefix instead of one per write task and
prefix.  Hot prefixes (Zipf cities) are handled by AQE: its rebalance
splits them into files of the advisory size, and its skew join
splitting + the salted rollup handle them downstream.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import engine, extract, synth, table

NCHARS = 5  # geohash length of the points stage
JOIN_RADIUS_M = 50000.0  # radius of the join stage's city queries
# rows per task of the pages and points Python passes.  A Python task's
# importlib.invalidate_caches() costs about 0.0001 s since the workers
# import pyspark from site-packages (geotile/_daemon.py; 0.09-0.16 s with
# Spark's zips on the path), but each task still pays the job's JVM and
# Arrow set-up; at about 21 us of work per page per pass a full task
# works about 1.4 s.  Measured, before the daemon, on 4 cores from 32k to
# 2M pages, smaller tasks (2^14, 2^15) made run_pipeline 13-21% slower
# at 2M pages from the extra tasks; this size loses where n is only a
# few tasks' worth and leaves cores idle (65k pages: one task per pass,
# 28% slower than 16 tasks)
PAGES_PER_TASK = 1 << 16


def _python_tasks(rows: int) -> int:
    """Tasks of a Python pass over ``rows`` pages: one per PAGES_PER_TASK."""
    return max(1, -(-rows // PAGES_PER_TASK))


def poi_queries(spark: SparkSession, radius_m: float = JOIN_RADIUS_M) -> DataFrame:
    rows = [(i, name, lat, lon, radius_m) for i, (name, lat, lon) in enumerate(synth.CITIES)]
    return spark.createDataFrame(
        rows, "query_id long, poi string, qlat double, qlon double, radius_m double")


def stage_pages(spark: SparkSession, workdir: str, n: int) -> str:
    path = os.path.join(workdir, "pages")
    params = {"n": n}
    if not table.is_complete(path, params=params):
        # one Python task per PAGES_PER_TASK pages: the fan-out depends
        # on n only, never on the session's core count, so the stored
        # table's file/row-group layout (hence every downstream scan's
        # split balance) does not depend on the parallelism the ingest
        # happened to run at
        df = synth.synth_pages(spark, n, _python_tasks(n))
        table.write_stage(df, path, parents=(), params=params)
    return path


POINTS_SCHEMA = ("url string, warc_ts timestamp, lat double, lon double, "
                 "geohash string, gh2 string, s2_cell long, tile string")


def _points_batches(nchars: int):
    """Fused pages -> points transform: html re-extraction + byte-
    identical check + mention parse + geohash/S2/tile assignment in ONE
    Arrow pass (five separate pandas-UDF stages would cross the JVM <->
    Python boundary five times; this crosses once)."""
    import numpy as np
    import pandas as pd

    from .kernel import geohash_np as gh
    from .kernel import s2_np, tiles_np

    def _tile_strings(lat, lon):
        x, y = tiles_np.tile_xy(lat, lon, 12)
        return pd.Series(x).astype(str).radd("12/").str.cat(
            pd.Series(y).astype(str), sep="/").to_numpy()

    def _fn(batches):
        for pdf in batches:
            text = extract.extract_text_pd(pdf["html"]).reset_index(drop=True)
            stored = pdf["text"].reset_index(drop=True)
            ok = (text == stored).to_numpy()
            t = text[ok].reset_index(drop=True)
            urls = pdf["url"].reset_index(drop=True)[ok].reset_index(drop=True)
            tss = pdf["warc_ts"].reset_index(drop=True)[ok].reset_index(drop=True)
            m = extract.parse_mentions_pd(t)
            if not len(m):
                yield pd.DataFrame({c.split(" ")[0]: [] for c in POINTS_SCHEMA.split(", ")})
                continue
            lat = m["lat"].to_numpy()
            lon = m["lon"].to_numpy()
            cells = gh.encode(lat, lon, nchars)
            yield pd.DataFrame({
                "url": urls.iloc[m["row_idx"]].to_numpy(),
                "warc_ts": tss.iloc[m["row_idx"]].to_numpy(),
                "lat": lat,
                "lon": lon,
                "geohash": cells,
                "gh2": pd.Series(cells).str[:2].to_numpy(),
                "s2_cell": s2_np.cell_id(lat, lon, 10).astype(np.int64),
                "tile": _tile_strings(lat, lon),
            })

    return _fn


def stage_points(spark: SparkSession, workdir: str, nchars: int = NCHARS) -> str:
    pages_path = os.path.join(workdir, "pages")
    path = os.path.join(workdir, "points")
    params = {"nchars": nchars}
    if not table.is_complete(path, parents=[pages_path], params=params):
        pages = table.read_stage(spark, pages_path)
        # one Python task per PAGES_PER_TASK pages, sized from the
        # manifest (no job); shuffle only when the scan packs the pages
        # files into fewer splits than that (html compresses well)
        target = _python_tasks(table.read_manifest(pages_path)["total_rows"])
        if pages.rdd.getNumPartitions() < target:
            pages = pages.repartition(target)
        points = pages.mapInPandas(_points_batches(nchars), schema=POINTS_SCHEMA)
        # write_stage rebalances the rows on gh2 (one shuffle after the
        # UDF pass, which runs once) and sorts each task's rows by
        # (gh2, geohash): about one file per prefix directory
        table.write_stage(points, path, partition_by=["gh2"],
                          parents=[pages_path], params=params,
                          sort_by=["gh2", "geohash"])
    return path


def stage_join(spark: SparkSession, workdir: str, radius_m: float = JOIN_RADIUS_M) -> str:
    points_path = os.path.join(workdir, "points")
    path = os.path.join(workdir, "joined")
    params = {"radius_m": radius_m}
    if not table.is_complete(path, parents=[points_path], params=params):
        points = table.read_stage(spark, points_path)
        # query set is a driver-side constant -> tuple fast path (no
        # createDataFrame/collect round-trip in the timed stage)
        qrows = [(i, lat, lon, radius_m)
                 for i, (_name, lat, lon) in enumerate(synth.CITIES)]
        joined = engine.radius_join(points, qrows)
        table.write_stage(joined.select("url", "query_id", "geohash", "dist_m"),
                          path, parents=[points_path], params=params)
    return path


def stage_rollup(spark: SparkSession, workdir: str) -> str:
    points_path = os.path.join(workdir, "points")
    path = os.path.join(workdir, "rollup")
    if not table.is_complete(path, parents=[points_path]):
        points = table.read_stage(spark, points_path)
        rollup = engine.salted_cell_counts(points)
        table.write_stage(rollup, path, parents=[points_path])
    return path


STORE_KEY = "url"
STORE_BUCKETS = 16


def _store_name(workdir: str) -> str:
    return "geotile_store_" + hashlib.sha256(
        os.path.abspath(workdir).encode()).hexdigest()[:10]


def _committed_store(workdir: str) -> dict | None:
    """The store manifest when it matches the points lineage AND the
    data directory it names is on disk; None when the store must be
    (re)built.  A manifest alone never counts as a committed store."""
    path = os.path.join(workdir, "store")
    m = table.read_manifest(path)
    if m is None or not os.path.isdir(m.get("location", "")):
        return None
    params = {"table": _store_name(workdir)}
    return m if table.is_complete(path, [os.path.join(workdir, "points")], params) else None


def stage_store(spark: SparkSession, workdir: str) -> str:
    """Keyed positions STORE: the latest mention per url, LWW on
    (warc_ts, payload) through :func:`table.lww_dedup`, lands in a
    bucketed catalog table — the AddPos upsert surface (SURVEY.md S1)
    built inside the resumable pipeline.  One dedup shuffle on url and
    one bucketed write.

    Storage: the catalog table ``geotile_store_<hash of workdir>`` is
    EXTERNAL, 16 buckets on url sorted by url, and every version of its
    data is a directory ``workdir/store/data.v<N>``.  The manifest
    ``workdir/store/_manifest.json`` records the points lineage, the
    committed data directory, the schema and the bucket spec; its
    commit is the stage's single commit point, and older data
    directories are deleted only after it.

    Resume contract: when the manifest matches and its data directory
    exists, the stage is skipped; if the catalog lacks the table (a new
    session) or points elsewhere, the table is re-registered from the
    manifest (metadata only, no job), not rebuilt.  A missing data
    directory rebuilds the store.  A store left under its merge-stage
    name by an interrupted :func:`table.merge_into` is renamed back by
    recover_merge on entry (tested)."""
    import shutil

    points_path = os.path.join(workdir, "points")
    path = os.path.join(workdir, "store")
    name = _store_name(workdir)
    m = _committed_store(workdir)
    if m is not None:
        if table.table_location(spark, name) != m["location"]:
            table.register_bucketed(spark, name, m["location"], m["schema_json"],
                                    m["bucket_by"], m["n_buckets"])
        return path
    table.recover_merge(spark, name)
    points = table.read_stage(spark, points_path)
    latest = table.lww_dedup(
        points.select("url", F.col("warc_ts").alias("ts"), "lat", "lon", "geohash"),
        STORE_KEY, "ts")
    table.write_bucketed(latest, name, STORE_KEY, STORE_BUCKETS,
                         path=table.next_version(os.path.join(path, "data")))
    loc = table.table_location(spark, name)
    params = {"table": name}
    table.commit_manifest(path, {
        "lineage": table.stage_lineage([points_path], params), "params": params,
        "partition_by": [], "partitions": table._footer_counts(loc, []),
        "schema_json": spark.table(name).schema.json(), "location": loc,
        "bucket_by": STORE_KEY, "n_buckets": STORE_BUCKETS})
    # past the commit point no manifest names the older data versions
    for d in os.listdir(path):
        old = os.path.join(os.path.dirname(loc), d)
        if d.startswith("data.v") and old != loc:
            shutil.rmtree(old)
    return path


def warm_up(spark: SparkSession) -> None:
    """Pre-fork the Python UDF workers at full parallelism.  run_pipeline
    does not call it; it stays only for perfbench's harness, which times
    it as part of ``setup_s``, until the harness takes it over (ROADMAP,
    "Next benchmark PR")."""
    p = spark.sparkContext.defaultParallelism
    spark.range(0, p, 1, p).mapInPandas(lambda it: it, schema="id bigint").count()


STAGES = ("pages", "points", "joined", "rollup", "store")


def run_pipeline(spark: SparkSession, workdir: str, n: int) -> dict:
    """Run (or resume) all stages; returns row counts and timings.

    ``joined`` and ``rollup`` are independent consumers of ``points``,
    so they run as CONCURRENT Spark jobs (two driver threads; the
    scheduler interleaves their tasks) — standard DAG-level parallelism
    that fills scheduling gaps instead of serializing two scans.

    A workdir whose every stage is committed is a no-op: the store at
    most re-attaches its catalog entry, and the result says ``resumed:
    True`` (every stage manifest existed and none was committed again)
    with ``pages_per_sec: None``.  ``t_total`` runs from pages to the
    committed store; in a cold session it includes the first run's JIT
    and codegen compilation and the Python workers' start."""
    def manifests():
        return {s: table.read_manifest(os.path.join(workdir, s)) for s in STAGES}

    before = manifests()
    t0 = time.time()
    stage_pages(spark, workdir, n)
    t1 = time.time()
    stage_points(spark, workdir)
    t2 = time.time()
    from concurrent.futures import ThreadPoolExecutor

    def _timed(fn, *a):
        s = time.time()
        fn(*a)
        return time.time() - s

    with ThreadPoolExecutor(max_workers=2) as ex:
        f_join = ex.submit(_timed, stage_join, spark, workdir)
        f_rollup = ex.submit(_timed, stage_rollup, spark, workdir)
        d_join = f_join.result()
        d_rollup = f_rollup.result()
    t4 = time.time()
    stage_store(spark, workdir)
    t5 = time.time()
    # a stage that ran committed a new manifest (a new committed_at)
    after = manifests()
    resumed = None not in before.values() and after == before
    m = {s: after[s]["total_rows"] for s in ("pages", "points", "joined", "store")}
    return {
        **m, "resumed": resumed,
        "t_pages": t1 - t0, "t_points": t2 - t1, "t_join": d_join,
        "t_rollup": d_rollup, "t_spatial": t4 - t2, "t_store": t5 - t4,
        "t_total": t5 - t0,
        "pages_per_sec": None if resumed else m["pages"] / max(t5 - t0, 1e-9),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=100000)
    ap.add_argument("--workdir", default="/tmp/geotile_pipeline")
    ap.add_argument("--cores", type=int, default=None,
                    help="default: session.default_cores()")
    args = ap.parse_args()
    # the session catalog creates its warehouse dir on first use; keep
    # it (empty: the store is external) inside the workdir
    import shlex

    warehouse = os.path.join(os.path.abspath(args.workdir), "spark-warehouse")
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", shlex.join(
        ["--conf", f"spark.sql.warehouse.dir={warehouse}", "pyspark-shell"]))
    from .session import get_spark

    spark = get_spark("geotile-pipeline", cores=args.cores)
    metrics = run_pipeline(spark, args.workdir, args.n)
    import json

    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
