"""Synth determinism, extraction invariants, manifest resume."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geotile import engine, extract, pipeline, synth, table


def test_synth_deterministic_across_partitionings(spark):
    a = synth.synth_pages(spark, 500, partitions=1).orderBy("url").collect()
    b = synth.synth_pages(spark, 500, partitions=7).orderBy("url").collect()
    assert len(a) == 500
    for ra, rb in zip(a, b):
        assert ra == rb  # byte-identical rows incl. html bytes and text


def test_synth_text_matches_extraction(spark):
    df = synth.synth_pages(spark, 300, partitions=3)
    df = extract.with_text(df, out="text2")
    assert df.where(F.col("text") != F.col("text2")).count() == 0


def test_extract_text_canonical():
    html = pd.Series([b"<html><head><title>T</title><style>p{}</style></head>"
                      b"<body><h1>A&amp;B</h1> <p>x  y</p><script>s;</script></body></html>"])
    assert extract.extract_text_pd(html)[0] == "T A&B x y"


def test_extract_text_invalid_utf8_and_mixed_inputs():
    # the vectorized Series.str.decode path must match bytes.decode
    # ("utf-8", "replace") exactly, and already-str / null rows pass
    # through — pins the errors="replace" contract (U+FFFD per bad byte)
    bad = b"<p>caf\xe9 \xff\xfe ok</p>"
    html = pd.Series([bad, "<p>already str</p>", None])
    got = extract.extract_text_pd(html)
    assert got[0] == bad.decode("utf-8", "replace") \
        .replace("<p>", " ").replace("</p>", " ").strip()
    assert "�" in got[0]
    assert got[1] == "already str"
    assert pd.isna(got[2])


def test_parse_mentions():
    t = pd.Series(["near beijing at 39.928167, 116.389550 and 91.5, 10.5 end",
                   "no coords here", "at -33.856784,151.215297"])
    m = extract.parse_mentions_pd(t)
    got = list(zip(m["row_idx"], m["lat"], m["lon"]))
    # 91.5 is out of latitude range -> rejected
    assert got == [(0, 39.928167, 116.389550), (2, -33.856784, 151.215297)]


def test_zipf_skew_produces_hot_cells(spark):
    pts = extract.explode_mentions(extract.with_mentions(
        synth.synth_pages(spark, 3000, partitions=4)))
    cells = engine.with_cell(pts).groupBy("geohash").count().collect()
    counts = sorted((r["count"] for r in cells), reverse=True)
    assert counts[0] > 10 * counts[len(counts) // 2]  # heavy head


def test_manifest_write_resume(spark, tmp_path):
    wd = str(tmp_path)
    df = synth.synth_pages(spark, 200, partitions=2)
    p = os.path.join(wd, "pages")
    m1 = table.write_stage(df, p, params={"n": 200})
    assert m1["total_rows"] == 200
    assert table.is_complete(p, params={"n": 200})
    assert not table.is_complete(p, params={"n": 300})  # param change invalidates
    assert table.verify_counts(spark, p)


def test_pipeline_end_to_end_and_resume(spark, tmp_path, monkeypatch):
    import hashlib

    monkeypatch.setattr(pipeline, "PAGES_PER_TASK", 500)  # 4 pages tasks
    wd = str(tmp_path)
    m = pipeline.run_pipeline(spark, wd, n=2000)
    assert m["pages"] == 2000
    assert m["points"] > 1000  # ~70% of pages have >=1 mention
    assert m["joined"] > 0
    for stage in ("pages", "points", "joined", "rollup"):
        assert table.verify_counts(spark, os.path.join(wd, stage))

    # the store holds exactly one row per distinct url
    store_name = "geotile_store_" + hashlib.sha256(
        os.path.abspath(wd).encode()).hexdigest()[:10]
    pts = table.read_stage(spark, os.path.join(wd, "points"))
    n_urls = pts.select("url").distinct().count()
    assert m["store"] == n_urls
    assert spark.table(store_name).count() == n_urls

    # resume: delete the joined stage only; rerun redoes just that stage
    mtime_points = os.path.getmtime(os.path.join(wd, "points", table.MANIFEST))
    mtime_store = os.path.getmtime(os.path.join(wd, "store", table.MANIFEST))
    os.remove(os.path.join(wd, "joined", table.MANIFEST))
    m2 = pipeline.run_pipeline(spark, wd, n=2000)
    assert m2["pages"] == m["pages"] and m2["joined"] == m["joined"]
    assert os.path.getmtime(os.path.join(wd, "points", table.MANIFEST)) == mtime_points
    # completed stages were skipped (fast) — including the store
    assert os.path.getmtime(os.path.join(wd, "store", table.MANIFEST)) == mtime_store
    assert m2["t_pages"] < 1.0 and m2["t_points"] < 1.0 and m2["t_store"] < 1.0

    # kill mid-merge: simulate a crash between merge_into's DROP and
    # RENAME (target gone, stage table holding the data), invalidate the
    # store manifest -> the next pipeline run self-heals and recommits
    spark.sql(f"ALTER TABLE {store_name} RENAME TO {store_name}__merge_stage")
    os.remove(os.path.join(wd, "store", table.MANIFEST))
    m3 = pipeline.run_pipeline(spark, wd, n=2000)
    assert m3["store"] == n_urls
    assert spark.table(store_name).count() == n_urls
    assert not spark.catalog.tableExists(f"{store_name}__merge_stage")


def test_store_holds_latest_point_per_url(spark, tmp_path, monkeypatch):
    """The store keeps, per url, the point with the greatest warc_ts,
    ties broken by the greatest (lat, lon, geohash): row for row equal
    to that pick made in pandas from the points stage."""
    monkeypatch.setattr(pipeline, "PAGES_PER_TASK", 500)  # 4 pages tasks
    wd = str(tmp_path)
    pipeline.run_pipeline(spark, wd, n=2000)
    pts = (table.read_stage(spark, os.path.join(wd, "points"))
           .select("url", F.col("warc_ts").alias("ts"), "lat", "lon", "geohash")
           .toPandas())
    # a page with several mentions gives one url several points of the
    # same warc_ts, so the tie-break decides some rows
    assert pts.groupby(["url", "ts"]).size().max() >= 2
    cols = ["url", "ts", "lat", "lon", "geohash"]
    want = (pts.sort_values(cols, ascending=[True, False, False, False, False])
            .drop_duplicates("url").reset_index(drop=True))
    got = (spark.table(pipeline._store_name(wd)).toPandas()
           .sort_values("url").reset_index(drop=True))
    pd.testing.assert_frame_equal(got[cols], want)


def test_fresh_run_pipeline_runs_no_dry_run(spark, tmp_path, monkeypatch):
    """A fresh run synthesizes its pages once, for its own pages stage:
    no dry run of the pipeline comes before the timed stages."""
    calls = []
    synth_pages = synth.synth_pages

    def counted(spark, n, *a, **kw):
        calls.append(n)
        return synth_pages(spark, n, *a, **kw)

    monkeypatch.setattr(synth, "synth_pages", counted)
    monkeypatch.setattr(pipeline, "PAGES_PER_TASK", 500)  # 2 pages tasks
    m = pipeline.run_pipeline(spark, str(tmp_path), n=1000)
    assert calls == [1000]
    assert m["pages"] == 1000 and m["resumed"] is False


def _store_files(wd):
    root = os.path.join(wd, "store")
    return {os.path.relpath(os.path.join(d, f), root): os.path.getmtime(os.path.join(d, f))
            for d, _dirs, fs in os.walk(root) for f in fs}


def test_store_cold_catalog_reattaches_without_rebuild(spark, tmp_path, monkeypatch):
    """A committed workdir is the whole state: with only the catalog
    entry gone (a new session), the rerun re-registers the external
    bucketed store from its manifest, rewrites nothing, and the
    re-attached table still plans the keyed merge without a shuffle."""
    monkeypatch.setattr(pipeline, "PAGES_PER_TASK", 500)  # 4 pages tasks
    wd = str(tmp_path / "wd")
    m = pipeline.run_pipeline(spark, wd, n=2000)
    assert m["resumed"] is False and m["pages_per_sec"] > 0
    name = pipeline._store_name(wd)
    before = _store_files(wd)
    spark.sql(f"DROP TABLE {name}")
    assert not spark.catalog.tableExists(name)
    m2 = pipeline.run_pipeline(spark, wd, n=2000)
    assert _store_files(wd) == before  # data files and manifest untouched
    assert m2["resumed"] is True and m2["pages_per_sec"] is None
    assert m2["t_store"] < 0.5
    assert {k: m2[k] for k in ("pages", "points", "joined", "store")} == \
        {k: m[k] for k in ("pages", "points", "joined", "store")}
    assert spark.table(name).count() == m["store"]

    info = {r[0]: r[1] for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()}
    assert info["Type"] == "EXTERNAL"
    assert info["Num Buckets"] == "16" and info["Bucket Columns"] == "[`url`]"
    assert info["Location"].removeprefix("file:").startswith(os.path.abspath(wd) + os.sep)

    upd = spark.createDataFrame(
        [("http://x/1", None, 1.0, 2.0, "s00")],
        "url string, ts timestamp, lat double, lon double, geohash string")
    table.write_bucketed(upd, name + "_upd", "url", 16, path=str(tmp_path / "upd"))
    merged = engine.upsert_positions_merge(spark.table(name), spark.table(name + "_upd"),
                                           key="url", ts="ts")
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    spark.sql(f"DROP TABLE {name}_upd")
    # nothing of the store ever landed in the session warehouse
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    stray = os.listdir(warehouse) if os.path.isdir(warehouse) else []
    assert not [d for d in stray if d.startswith(name)], stray


def test_store_lost_data_rebuilds(spark, tmp_path, monkeypatch):
    """A manifest without its data directory is not a committed store:
    the rerun rebuilds it (right count, data on disk again) instead of
    re-registering a missing location."""
    monkeypatch.setattr(pipeline, "PAGES_PER_TASK", 500)  # 4 pages tasks
    wd = str(tmp_path / "wd")
    m = pipeline.run_pipeline(spark, wd, n=2000)
    manifest = table.read_manifest(os.path.join(wd, "store"))
    shutil.rmtree(manifest["location"])
    m2 = pipeline.run_pipeline(spark, wd, n=2000)
    assert m2["resumed"] is False and m2["store"] == m["store"]
    rebuilt = table.read_manifest(os.path.join(wd, "store"))
    assert os.path.isdir(rebuilt["location"])
    assert spark.table(pipeline._store_name(wd)).count() == m["store"]
    # only the committed version is left on disk
    assert [d for d in os.listdir(os.path.join(wd, "store")) if d.startswith("data.v")] \
        == [os.path.basename(rebuilt["location"])]


def test_join_rows_identical_across_parallelism(spark, tmp_path, monkeypatch):
    """North-rule scaling-correctness: identical join output rows at
    different parallelism (same session, different shuffle partitioning)."""
    wd1, wd2 = str(tmp_path / "a"), str(tmp_path / "b")
    monkeypatch.setattr(pipeline, "PAGES_PER_TASK", 750)  # 2 pages tasks
    pipeline.run_pipeline(spark, wd1, n=1500)
    monkeypatch.setattr(pipeline, "PAGES_PER_TASK", 137)  # 11 pages tasks
    pipeline.run_pipeline(spark, wd2, n=1500)
    j1 = table.read_stage(spark, os.path.join(wd1, "joined"))
    j2 = table.read_stage(spark, os.path.join(wd2, "joined"))
    a = sorted(tuple(r) for r in j1.collect())
    b = sorted(tuple(r) for r in j2.collect())
    assert a == b


def test_compact_preserves_content_and_lineage(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    monkeypatch.setattr(pipeline, "PAGES_PER_TASK", 500)  # 6 pages tasks
    wd = str(tmp_path / "wd")
    pipeline.run_pipeline(spark, wd, n=3000)
    ppath = os.path.join(wd, "points")
    before = {tuple(r) for r in table.read_stage(spark, ppath)
              .select("url", "geohash").collect()}
    n_files_before = sum(1 for root, _d, fs in os.walk(ppath)
                         for f in fs if f.endswith(".parquet"))
    # row groups far smaller than the stage's files, so the check below
    # sees whether compact writes them
    monkeypatch.setattr(table, "CLUSTER_ROW_GROUP_BYTES", 2 << 10)
    m = table.compact(spark, ppath, target_mb=128)
    n_files_after = sum(1 for root, _d, fs in os.walk(ppath)
                        for f in fs if f.endswith(".parquet"))
    assert n_files_after <= n_files_before
    after = {tuple(r) for r in table.read_stage(spark, ppath)
             .select("url", "geohash").collect()}
    assert after == before
    assert table.verify_counts(spark, ppath)
    # lineage unchanged -> downstream stages still see the stage complete
    assert table.is_complete(ppath, parents=[os.path.join(wd, "pages")],
                             params=m["params"])
    # sort clustering survives the rewrite (row-group min/max pruning
    # depends on it) and the crash-safe .bak sibling is gone
    import pyarrow.parquet as pq

    pfiles = sorted(os.path.join(root, f) for root, _d, fs in os.walk(ppath)
                    for f in fs if f.endswith(".parquet"))
    col = pq.read_table(pfiles[0], columns=["geohash"]).to_pandas()["geohash"]
    assert list(col) == sorted(col)
    assert not os.path.exists(ppath + ".compact.bak")
    # the stage's row-group size survives too: geohash-ordered row groups
    groups = 0
    for f in pfiles:
        pf = pq.ParquetFile(f)
        gi = pf.schema_arrow.get_field_index("geohash")
        stats = [pf.metadata.row_group(i).column(gi).statistics
                 for i in range(pf.metadata.num_row_groups)]
        assert all(a.max <= b.min for a, b in zip(stats, stats[1:]))
        groups = max(groups, len(stats))
    assert groups >= 2


def _parquet_files(path):
    """{partition dir relative to ``path``: sorted parquet file paths}."""
    out = {}
    for root, _d, fs in os.walk(path):
        files = sorted(os.path.join(root, f) for f in fs if f.endswith(".parquet"))
        if files:
            out[os.path.relpath(root, path)] = files
    return out


@pytest.fixture(scope="module")
def points_run(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("points_run"))
    pipeline.run_pipeline(spark, wd, n=3000)
    return wd


def test_points_one_file_per_prefix(spark, points_run):
    """write_stage rebalances a partitioned stage on its partition
    columns: at test size every gh2 directory of points holds ONE file
    (not one per write task), still in (gh2, geohash) order with
    geohash-ordered row groups, and the manifest is what the footers
    and the lineage say."""
    import pyarrow.parquet as pq

    ppath = os.path.join(points_run, "points")
    dirs = _parquet_files(ppath)
    assert len(dirs) > 10 and all(d.startswith("gh2=") for d in dirs)
    assert all(len(files) == 1 for files in dirs.values()), dirs
    for files in dirs.values():
        pf = pq.ParquetFile(files[0])
        cells = pf.read(columns=["geohash"]).column(0).to_pylist()
        assert cells == sorted(cells)
        gi = pf.schema_arrow.get_field_index("geohash")
        stats = [pf.metadata.row_group(i).column(gi).statistics
                 for i in range(pf.metadata.num_row_groups)]
        assert all(a.max <= b.min for a, b in zip(stats, stats[1:]))
    m = table.read_manifest(ppath)
    assert m["partitions"] == table._footer_counts(ppath, ["gh2"])
    assert m["lineage"] == table.stage_lineage(
        [os.path.join(points_run, "pages")], {"nchars": pipeline.NCHARS})
    # the downstream stages scan those few files: joined is written by
    # one task per read split, a handful instead of one per points file
    assert len(_parquet_files(os.path.join(points_run, "joined"))["."]) < len(dirs)


def test_points_hot_prefix_split_at_small_advisory_size(spark, points_run, tmp_path,
                                                       monkeypatch):
    """The rebalance splits a hot prefix into files of the advisory
    partition size instead of funnelling it into one file; rows and
    per-partition counts do not change.  AQE splits a hot partition only
    at map-task boundaries, so at n <= PAGES_PER_TASK (one Python task)
    a prefix is one file holding at most one task's points: the test
    sizes the passes at 500 pages per task, 6 map tasks."""
    monkeypatch.setattr(pipeline, "PAGES_PER_TASK", 500)
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    wd = str(tmp_path / "wd")
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        pipeline.stage_pages(spark, wd, 3000)
        pipeline.stage_points(spark, wd)
    finally:
        spark.conf.set(key, old)
    small, base = os.path.join(wd, "points"), os.path.join(points_run, "points")
    m, m0 = table.read_manifest(small), table.read_manifest(base)
    hot = max(m["partitions"], key=m["partitions"].get)
    assert len(_parquet_files(small)[f"gh2={hot}"]) > 1
    assert m["partitions"] == m0["partitions"] == table._footer_counts(small, ["gh2"])
    assert m["lineage"] == m0["lineage"]

    def rows(p):
        return sorted(map(tuple, table.read_stage(spark, p).collect()))

    assert rows(small) == rows(base)


def test_python_passes_sized_by_rows(spark, tmp_path, monkeypatch):
    """The pages and points Python passes run one task per
    PAGES_PER_TASK pages, whatever the core count, and the sizing
    changes neither the rows nor the manifests."""
    sc = spark.sparkContext

    def run(wd, group):
        pipeline.stage_pages(spark, wd, 3000)
        sc.setJobGroup(group, group)
        try:
            pipeline.stage_points(spark, wd)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the stages that ran, in order; the write is last and the
        # Python map stage feeding its rebalance is the one before it
        st = sc.statusTracker()
        ids = sorted({s for j in st.getJobIdsForGroup(group)
                      for s in st.getJobInfo(j).stageIds})
        ran = [i for i in map(st.getStageInfo, ids) if i and i.numCompletedTasks]
        return len(_parquet_files(os.path.join(wd, "pages"))["."]), ran[-2].numTasks

    one, three = str(tmp_path / "one"), str(tmp_path / "three")
    assert run(one, "sized_default") == (1, 1)
    monkeypatch.setattr(pipeline, "PAGES_PER_TASK", 1000)
    assert run(three, "sized_1000") == (3, 3)

    def rows(wd):
        return sorted(map(tuple, table.read_stage(spark, os.path.join(wd, "points")).collect()))

    m1 = table.read_manifest(os.path.join(one, "points"))
    m3 = table.read_manifest(os.path.join(three, "points"))
    assert m1["total_rows"] > 0 and m1["partitions"] == m3["partitions"]
    assert m1["lineage"] == m3["lineage"]
    assert rows(one) == rows(three)

    # an empty ingest commits empty stages: the pages pass asks for one
    # task, and stage_points never calls repartition(0), which raises
    sizes = []
    synth_pages = synth.synth_pages
    monkeypatch.setattr(synth, "synth_pages",
                        lambda s, n, parts: sizes.append(parts) or synth_pages(s, n, parts))
    empty = str(tmp_path / "empty")
    pipeline.stage_pages(spark, empty, 0)
    pipeline.stage_points(spark, empty)
    assert sizes == [1]
    assert table.read_manifest(os.path.join(empty, "pages"))["total_rows"] == 0
    assert table.read_manifest(os.path.join(empty, "points"))["total_rows"] == 0


def test_bucketed_upsert_has_no_exchange(spark):
    """Co-bucketed storage removes the keyed upsert's wide shuffle:
    both scans report hash partitioning (and sort order) on the key,
    so the MERGE-shaped upsert and a co-bucketed join run with ZERO
    Exchange in the physical plan."""
    rows = [(f"m{i}", float(i % 90), float(i % 180), i) for i in range(1000)]
    df = spark.createDataFrame(rows, "msisdn string, lat double, lon double, ts long")
    # updates: newer ts for even keys + 50 brand-new keys
    upd_rows = [(f"m{i}", 1.0, 2.0, i + 1000) for i in range(0, 1000, 2)] + \
               [(f"n{i}", 3.0, 4.0, i) for i in range(50)]
    upd = spark.createDataFrame(upd_rows, "msisdn string, lat double, lon double, ts long")
    table.write_bucketed(df, "pos_bucketed", "msisdn", n_buckets=8)
    table.write_bucketed(upd, "upd_bucketed", "msisdn", n_buckets=8)
    state = spark.table("pos_bucketed")
    updates = spark.table("upd_bucketed")

    merged = engine.upsert_positions_merge(state, updates, key="msisdn", ts="ts")
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert merged.count() == 1050
    got = {r["msisdn"]: (r["lat"], r["ts"]) for r in merged.collect()}
    assert got["m0"] == (1.0, 1000)     # updated
    assert got["m1"] == (1.0, 1)        # untouched (lat = 1 % 90)
    assert got["n7"] == (3.0, 7)        # inserted

    # equivalence with the window-dedup form (which needs a shuffle)
    ref = {(r["msisdn"], r["lat"], r["ts"])
           for r in engine.upsert_positions(state, updates, key="msisdn", ts="ts").collect()}
    assert {(k, v[0], v[1]) for k, v in got.items()} == ref

    # a co-bucketed join never SHUFFLES either side (a BroadcastExchange
    # is fine — that's the optimal plan for a small side, not a shuffle)
    joined = state.join(updates.select("msisdn", F.col("ts").alias("ts2")), "msisdn")
    jplan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in jplan, jplan


def test_merge_into_bucketed_table(spark):
    """table.merge_into: the production MERGE INTO statement is tried
    first; on this sandbox's v1 parquet catalog it falls back to the
    merge-join form whose physical plan must be ZERO-Exchange over the
    co-bucketed scans, followed by the catalog swap.  End state equals
    the window-dedup upsert semantics."""
    rows = [(f"m{i}", float(i % 90), float(i % 180), i) for i in range(400)]
    df = spark.createDataFrame(rows, "msisdn string, lat double, lon double, ts long")
    upd_rows = [(f"m{i}", 1.0, 2.0, i + 400) for i in range(0, 400, 2)] + \
               [(f"n{i}", 3.0, 4.0, i) for i in range(20)]
    upd = spark.createDataFrame(upd_rows, "msisdn string, lat double, lon double, ts long")
    table.write_bucketed(df, "pos_merge_tgt", "msisdn", n_buckets=8)
    table.write_bucketed(upd, "pos_merge_upd", "msisdn", n_buckets=8)

    res = table.merge_into(spark, "pos_merge_tgt",
                           spark.table("pos_merge_upd"),
                           key="msisdn", ts="ts", n_buckets=8)
    # no v2 catalog in this sandbox -> the join fallback must have run,
    # and its merge computation must be shuffle-free
    assert res["path"] == "merge-join"
    assert "Exchange" not in res["plan"], res["plan"]

    got = {r["msisdn"]: (r["lat"], r["ts"])
           for r in spark.table("pos_merge_tgt").collect()}
    assert len(got) == 420
    assert got["m0"] == (1.0, 400)      # updated
    assert got["m1"] == (1.0, 1)        # untouched
    assert got["n7"] == (3.0, 7)        # inserted
    # merging the same updates again is idempotent
    upd2 = spark.createDataFrame(upd_rows, "msisdn string, lat double, lon double, ts long")
    table.write_bucketed(upd2, "pos_merge_upd", "msisdn", n_buckets=8)
    table.merge_into(spark, "pos_merge_tgt", spark.table("pos_merge_upd"),
                     key="msisdn", ts="ts", n_buckets=8)
    again = {r["msisdn"]: (r["lat"], r["ts"])
             for r in spark.table("pos_merge_tgt").collect()}
    assert again == got
    spark.sql("DROP TABLE IF EXISTS pos_merge_tgt")
    spark.sql("DROP TABLE IF EXISTS pos_merge_upd")


def test_compact_crash_recovery_all_states(spark, tmp_path):
    """Kill-between-steps: every on-disk state the compact swap can be
    interrupted in (tmp-only, bak+missing-path, bak+uncommitted-path,
    bak+committed-path) recovers via table.recover_compact to a stage
    that read_stage can read with conserved counts."""
    import shutil

    base = str(tmp_path / "stage")
    df = synth.synth_pages(spark, 300, partitions=3).select("url", "lang", "warc_ts")
    table.write_stage(df, base, partition_by=["lang"], params={"n": 300})
    m0 = table.read_manifest(base)
    golden = {tuple(r) for r in table.read_stage(spark, base).collect()}

    def clone(name):
        p = str(tmp_path / name)
        shutil.copytree(base, p)
        return p, p + ".compact.bak", p + ".compact.tmp"

    # state 1: crash after tmp written, before any swap
    p, bak, tmp = clone("s1")
    shutil.copytree(p, tmp)
    assert table.recover_compact(p) == "dropped_tmp"
    assert not os.path.exists(tmp)

    # state 2: crash between os.replace(path, bak) and os.replace(tmp, path)
    p, bak, tmp = clone("s2")
    shutil.copytree(p, tmp)
    os.replace(p, bak)
    assert table.recover_compact(p) == "restored_bak"
    assert not os.path.exists(bak) and not os.path.exists(tmp)

    # state 3: crash after new data moved in, before manifest commit
    p, bak, tmp = clone("s3")
    shutil.copytree(p, tmp)
    os.remove(os.path.join(tmp, table.MANIFEST))  # compact's tmp has no manifest
    os.replace(p, bak)
    os.replace(tmp, p)
    assert table.recover_compact(p) == "rolled_back"

    # state 4: crash after manifest commit, before bak cleanup
    p, bak, tmp = clone("s4")
    shutil.copytree(p, bak)
    assert table.recover_compact(p) == "dropped_bak"

    for name in ("s1", "s2", "s3", "s4"):
        p = str(tmp_path / name)
        assert table.recover_compact(p) == "clean"  # idempotent
        m = table.read_manifest(p)
        assert m is not None and m["partitions"] == m0["partitions"]
        assert {tuple(r) for r in table.read_stage(spark, p).collect()} == golden
        assert table.verify_counts(spark, p)


def test_merge_into_crash_recovery_and_dup_updates(spark):
    """(a) Raw updates with duplicate keys are LWW-deduped before the
    merge (the join fallback would otherwise emit duplicate keys);
    (b) a crash landing between DROP and RENAME (simulated by doing the
    swap by hand) is repaired by recover_merge on the next call."""
    rows = [(f"m{i}", 0.0, 0.0, i) for i in range(50)]
    df = spark.createDataFrame(rows, "msisdn string, lat double, lon double, ts long")
    table.write_bucketed(df, "pos_rec_tgt", "msisdn", n_buckets=4)
    # duplicate-key updates: the newer ts (lat=2.0) must win, once
    upd = spark.createDataFrame(
        [("m1", 1.0, 1.0, 100), ("m1", 2.0, 2.0, 200), ("x", 9.0, 9.0, 1)],
        "msisdn string, lat double, lon double, ts long")
    table.merge_into(spark, "pos_rec_tgt", upd, key="msisdn", ts="ts",
                     n_buckets=4)
    got = spark.table("pos_rec_tgt").where("msisdn = 'm1'").collect()
    assert len(got) == 1 and got[0]["lat"] == 2.0 and got[0]["ts"] == 200
    assert spark.table("pos_rec_tgt").count() == 51

    # simulate the crash window: stage exists, target dropped
    spark.sql("CREATE TABLE pos_rec_tgt__merge_stage AS SELECT * FROM pos_rec_tgt")
    spark.sql("DROP TABLE pos_rec_tgt")
    assert table.recover_merge(spark, "pos_rec_tgt") is True
    assert spark.table("pos_rec_tgt").count() == 51
    assert not spark.catalog.tableExists("pos_rec_tgt__merge_stage")
    # and merge_into itself self-heals on entry (no-op repair when fine)
    assert table.recover_merge(spark, "pos_rec_tgt") is False
    spark.sql("DROP TABLE IF EXISTS pos_rec_tgt")


def test_column_stats_exact(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (2, 7.5), (3, 5.0)],
        "k long, v double")
    got = {r["column"]: (r["n_rows"], r["n_null"], r["n_distinct"],
                         r["min"], r["max"])
           for r in table.column_stats(df, ["k", "v"]).collect()}
    assert got["k"] == (4, 0, 3, 1.0, 3.0)
    assert got["v"] == (4, 1, 2, 5.0, 7.5)


def test_snapshot_diff_classification(spark):
    old = spark.createDataFrame(
        [(1, "aaa", 10), (2, "bbb", 20), (3, "ccc", 30), (4, None, 40)],
        "k long, cell string, v long")
    new = spark.createDataFrame(
        [(2, "bbb", 20), (3, "cc2", 30), (4, None, 40), (5, "eee", 50)],
        "k long, cell string, v long")
    got = {r["k"]: (r["change"], r["old_cell"], r["new_cell"])
           for r in table.snapshot_diff(old, new, "k", ["cell", "v"]).collect()}
    assert got[1] == ("delete", "aaa", "")
    assert got[3] == ("update", "ccc", "cc2")
    assert got[5] == ("insert", "", "eee")
    # unchanged keys dropped — including the NULL == NULL (null-safe) one
    assert 2 not in got and 4 not in got
    # a NULL -> value transition is an update, not a false 'same'
    got2 = {r["k"]: r["change"] for r in table.snapshot_diff(
        old, new.withColumn("cell", F.when(F.col("k") == 4, "now")
                            .otherwise(F.col("cell"))),
        "k", ["cell"]).collect()}
    assert got2[4] == "update"


def test_snapshot_diff_bucketed_zero_exchange(spark):
    # with both snapshots bucketed by the key, the full-outer sort-merge
    # join needs NO Exchange — the same plan claim as the MERGE path
    old = spark.createDataFrame([(i, f"c{i}") for i in range(100)],
                                "k long, cell string")
    new = spark.createDataFrame([(i, f"c{i + (i % 7 == 0)}")
                                 for i in range(100)], "k long, cell string")
    table.write_bucketed(old, "sd_old", "k", n_buckets=4)
    table.write_bucketed(new, "sd_new", "k", n_buckets=4)
    try:
        o = spark.table("sd_old")
        n = spark.table("sd_new")
        out = table.snapshot_diff(o, n, "k", ["cell"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        changed = {r["k"] for r in out.collect()}
        assert changed == {i for i in range(100) if i % 7 == 0}
    finally:
        spark.sql("DROP TABLE IF EXISTS sd_old")
        spark.sql("DROP TABLE IF EXISTS sd_new")


def test_merge_rollup_ivm_identity(spark):
    """merge(base, delta) == direct recompute, including keys present
    in only one side."""
    from pyspark.sql import functions as F

    from geotile import table

    rows = [("a", 1, 10), ("a", 2, 20), ("b", 1, 5), ("c", 9, 9)]
    df = spark.createDataFrame(rows, "k string, part long, v long")

    def roll(d):
        return d.groupBy("k").agg(F.count("*").alias("n"),
                                  F.sum("v").alias("v_sum"))

    base = roll(df.where(F.col("part") < 2))    # a, b, c? (c part 9 no)
    delta = roll(df.where(F.col("part") >= 2))  # a, c
    merged = {r["k"]: (r["n"], r["v_sum"])
              for r in table.merge_rollup(base, delta,
                                          ["k"], ["n", "v_sum"]).collect()}
    direct = {r["k"]: (r["n"], r["v_sum"]) for r in roll(df).collect()}
    assert merged == direct
