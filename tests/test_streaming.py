"""Structured Streaming: file-source upsert stream, keyed state
operator, windowed cell counts."""

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from geotile import streaming, table


def _write_batch(spark, path, rows, idx):
    df = spark.createDataFrame(rows, streaming.POS_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, f"b{idx}"))


def test_upsert_stream_file_source(spark, tmp_path):
    updates_dir = str(tmp_path / "updates")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(updates_dir)
    # two batches of update files: second moves subscriber a and adds c
    _write_batch(spark, updates_dir, [("a", 39.928167, 116.389550, 100),
                                      ("b", 39.928667, 116.389550, 100)], 0)
    _write_batch(spark, updates_dir, [("a", 31.230416, 121.473701, 200),
                                      ("c", 57.649110, 10.407440, 150)], 1)
    q = streaming.upsert_stream(spark, updates_dir + "/b*", state_dir, ckpt)
    q.awaitTermination(120)
    state = streaming.read_state(spark, state_dir)
    rows = {r["msisdn"]: (r["lat"], r["geohash"]) for r in state.collect()}
    assert set(rows) == {"a", "b", "c"}
    assert rows["a"][1] == "wtw3s"  # migrated to Shanghai
    assert rows["b"][1] == "wx4g0"
    v = streaming.latest_state_version(state_dir)
    assert table.verify_counts(spark, os.path.join(state_dir, f"v{v:06d}"))


def test_upsert_stream_kill_and_resume(spark, tmp_path):
    """Crash/restart recovery end-to-end: a SECOND upsert_stream run
    with the same checkpoint resumes from the committed snapshot —
    already-drained update files are NOT reprocessed (checkpoint), the
    new micro-batch merges onto the RECOVERED state (snapshot), and a
    torn snapshot (no manifest) is ignored by the version resolver."""
    updates_dir = str(tmp_path / "updates")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(updates_dir)
    _write_batch(spark, updates_dir, [("a", 39.928167, 116.389550, 100),
                                      ("b", 39.928667, 116.389550, 100)], 0)
    q = streaming.upsert_stream(spark, updates_dir + "/b*", state_dir, ckpt)
    q.awaitTermination(120)  # run 1 drains batch 0, then the process "dies"
    v0 = streaming.latest_state_version(state_dir)
    assert v0 is not None
    # updates arrive while the stream is down
    _write_batch(spark, updates_dir, [("a", 31.230416, 121.473701, 200),
                                      ("c", 57.649110, 10.407440, 150)], 1)
    q2 = streaming.upsert_stream(spark, updates_dir + "/b*", state_dir, ckpt)
    q2.awaitTermination(120)
    # the restarted run saw ONLY the new files (checkpoint replay guard)
    assert sum(p["numInputRows"] for p in q2.recentProgress) == 2
    v1 = streaming.latest_state_version(state_dir)
    assert v1 > v0
    state = {r["msisdn"]: (r["lat"], r["ts"])
             for r in streaming.read_state(spark, state_dir).collect()}
    assert state == {"a": (31.230416, 200), "b": (39.928667, 100),
                     "c": (57.649110, 150)}
    assert table.verify_counts(spark, os.path.join(state_dir, f"v{v0:06d}"))
    assert table.verify_counts(spark, os.path.join(state_dir, f"v{v1:06d}"))
    # time travel: the pre-restart snapshot is still readable by version
    past = {r["msisdn"] for r in
            streaming.read_state(spark, state_dir, version=v0).collect()}
    assert past == {"a", "b"}
    with pytest.raises(ValueError):
        streaming.read_state(spark, state_dir, version=v1 + 17)
    # torn-write simulation: snapshots without a committed manifest are
    # invisible; readers fall back to the last GOOD snapshot, past the
    # two newest, both torn
    torn = os.path.join(state_dir, f"v{v1 + 1:06d}")
    shutil.copytree(os.path.join(state_dir, f"v{v1:06d}"), torn)
    for v in (v1, v1 + 1):
        os.remove(os.path.join(state_dir, f"v{v:06d}", table.MANIFEST))
    assert streaming.latest_state_version(state_dir) == v0
    fallback = {r["msisdn"] for r in streaming.read_state(spark, state_dir).collect()}
    assert fallback == {"a", "b"}


def _group_jobs(sc, group, fn):
    """(fn(), ids of the Spark jobs fn launched) under job group ``group``."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_read_state_takes_schema_from_manifest(spark, tmp_path):
    """read_state reads through the snapshot's manifest schema: no Spark
    job (a footer-inferring read launches one), and the same schema and
    rows as spark.read.parquet."""
    updates_dir = str(tmp_path / "updates")
    state_dir = str(tmp_path / "state")
    os.makedirs(updates_dir)
    _write_batch(spark, updates_dir, [("a", 39.928167, 116.389550, 100),
                                      ("b", 31.230416, 121.473701, 200)], 0)
    q = streaming.upsert_stream(spark, updates_dir + "/b*", state_dir,
                                str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    snap = os.path.join(state_dir, f"v{streaming.latest_state_version(state_dir):06d}")
    sc = spark.sparkContext
    state, jobs = _group_jobs(sc, "test-read-state", lambda: streaming.read_state(spark, state_dir))
    assert jobs == []
    inferred, inferred_jobs = _group_jobs(sc, "test-read-parquet",
                                          lambda: spark.read.parquet(snap))
    assert len(inferred_jobs) >= 1  # the probe sees a schema-inference job
    assert state.schema == inferred.schema
    assert sorted(map(tuple, state.collect())) == sorted(map(tuple, inferred.collect()))


def test_upsert_stream_snapshot_is_geohash_clustered(spark, tmp_path):
    """Every snapshot file is sorted by geohash and cut into row groups
    whose min/max do not overlap, so a cell filter skips row groups; a
    radius search over the snapshot equals a numpy brute force."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from geotile import engine
    from geotile.kernel import geohash_np as gh

    updates_dir = str(tmp_path / "updates")
    state_dir = str(tmp_path / "state")
    os.makedirs(updates_dir)
    rng = np.random.default_rng(11)
    n = 60_000
    lat, lon = rng.uniform(30.0, 45.0, n), rng.uniform(100.0, 125.0, n)
    pd.DataFrame({"msisdn": [f"m{i}" for i in range(n)], "lat": lat, "lon": lon,
                  "ts": np.arange(n, dtype=np.int64)}).to_parquet(
        os.path.join(updates_dir, "b0.parquet"), index=False)
    q = streaming.upsert_stream(spark, updates_dir, state_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    snap = os.path.join(state_dir, f"v{streaming.latest_state_version(state_dir):06d}")
    groups = 0
    for f in sorted(f for f in os.listdir(snap) if f.endswith(".parquet")):
        pf = pq.ParquetFile(os.path.join(snap, f))
        col = pf.schema_arrow.get_field_index("geohash")
        stats = [pf.metadata.row_group(i).column(col).statistics
                 for i in range(pf.metadata.num_row_groups)]
        assert all(a.max <= b.min for a, b in zip(stats, stats[1:]))
        cells = pf.read(columns=["geohash"]).column(0).to_pylist()
        assert cells == sorted(cells)
        groups += len(stats)
    assert groups >= 3
    state = streaming.read_state(spark, state_dir)
    for qlat, qlon, r in [(39.9, 116.4, 40_000.0), (31.2, 121.5, 120_000.0),
                          (44.99, 100.01, 25_000.0)]:
        got = {row["msisdn"] for row in engine.radius_search(state, qlat, qlon, r).collect()}
        d = gh.haversine_m(np.full(n, qlat), np.full(n, qlon), lat, lon)
        assert got == {f"m{i}" for i in np.flatnonzero(d <= r)}


def test_keyed_latest_stream_batchwise(spark, tmp_path):
    """applyInPandasWithState logic, driven through a real stream with
    availableNow over a file source."""
    updates_dir = str(tmp_path / "updates")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(updates_dir)
    _write_batch(spark, updates_dir, [("a", 1.0, 1.0, 100), ("a", 2.0, 2.0, 90)], 0)
    stream = spark.readStream.schema(streaming.POS_SCHEMA).parquet(updates_dir + "/b*")
    latest = streaming.keyed_latest_stream(stream)
    q = (latest.writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).collect()
    # ts=90 is stale relative to ts=100 within the same batch -> suppressed
    assert [(r["lat"], r["ts"]) for r in got] == [(1.0, 100)]


def test_radius_join_stream(spark, tmp_path):
    """Stream-static radius matching: each streamed position joins the
    broadcast query covers once; matches refine with the native
    haversine expression."""
    updates_dir = str(tmp_path / "updates")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckptr")
    os.makedirs(updates_dir)
    rows = [("a", 39.928167, 116.389550, 100),   # Beijing: matches q0
            ("b", 39.928667, 116.389550, 100),   # Beijing: matches q0
            ("c", 57.649110, 10.407440, 100)]    # Skagen: matches nothing
    _write_batch(spark, updates_dir, rows, 0)
    stream = spark.readStream.schema(streaming.POS_SCHEMA).parquet(updates_dir + "/b*")
    queries = [(0, 39.9286, 116.3895, 50000.0), (1, -33.8568, 151.2153, 50000.0)]
    matched = streaming.radius_join_stream(stream, queries)
    q = (matched.writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["msisdn"], r["query_id"]) for r in spark.read.parquet(out_dir).collect())
    assert got == [("a", 0), ("b", 0)]
    dists = [r["dist_m"] for r in spark.read.parquet(out_dir).collect()]
    assert all(d <= 50000.0 for d in dists)


def test_cell_count_stream_windowed(spark, tmp_path):
    updates_dir = str(tmp_path / "updates")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt3")
    os.makedirs(updates_dir)
    rows = [("a", 39.928167, 116.389550, 100), ("b", 39.928667, 116.389550, 100),
            ("c", 31.230416, 121.473701, 100)]
    df = spark.createDataFrame(rows, streaming.POS_SCHEMA) \
        .withColumn("event_time", F.to_timestamp(F.lit("2026-01-01 00:00:30")))
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(updates_dir, "b0"))
    stream = (spark.readStream
              .schema("msisdn string, lat double, lon double, ts long, event_time timestamp")
              .parquet(updates_dir + "/b*"))
    counts = streaming.cell_count_stream(stream)
    q = (counts.writeStream.format("memory").queryName("cellcounts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["geohash"]: r["n"] for r in spark.sql("SELECT * FROM cellcounts").collect()}
    assert got == {"wx4g0": 2, "wtw3s": 1}


def test_session_count_stream(spark, tmp_path):
    """Native session windows: two bursts separated by more than the
    gap form two sessions for 'a'; a single event forms one for 'b'."""
    updates_dir = str(tmp_path / "updates")
    ckpt = str(tmp_path / "ckpt4")
    os.makedirs(updates_dir)
    rows = [("a", 1.0, 1.0, 0, "2026-01-01 00:00:00"),
            ("a", 1.0, 1.0, 1, "2026-01-01 00:10:00"),   # same session (gap 30m)
            ("a", 1.0, 1.0, 2, "2026-01-01 02:00:00"),   # new session
            ("b", 2.0, 2.0, 3, "2026-01-01 00:05:00")]
    df = spark.createDataFrame(
        [(m, la, lo, t) for m, la, lo, t, _ in rows],
        streaming.POS_SCHEMA).withColumn(
        "event_time", F.to_timestamp(
            F.element_at(F.array(*[F.lit(r[4]) for r in rows]),
                         (F.col("ts") + 1).cast("int"))))
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(updates_dir, "b0"))
    stream = (spark.readStream
              .schema("msisdn string, lat double, lon double, ts long, event_time timestamp")
              .parquet(updates_dir + "/b*"))
    sessions = streaming.session_count_stream(stream, gap="30 minutes")
    q = (sessions.writeStream.format("memory").queryName("sesscounts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["msisdn"], r["n"]) for r in
                 spark.sql("SELECT * FROM sesscounts").collect())
    assert got == [("a", 1), ("a", 2), ("b", 1)]


def test_dedup_stream(spark, tmp_path):
    """Replayed duplicates within the watermark horizon are suppressed;
    distinct (msisdn, ts) rows all pass."""
    updates_dir = str(tmp_path / "updates")
    out_dir = str(tmp_path / "outd")
    ckpt = str(tmp_path / "ckpt5")
    os.makedirs(updates_dir)
    rows = [("a", 1.0, 1.0, 100), ("a", 1.0, 1.0, 100),   # duplicate
            ("a", 2.0, 2.0, 200),                          # distinct ts
            ("b", 3.0, 3.0, 100), ("b", 3.0, 3.0, 100)]   # duplicate
    df = spark.createDataFrame(rows, streaming.POS_SCHEMA) \
        .withColumn("event_time", F.to_timestamp(F.from_unixtime(
            F.col("ts") + 1700000000)))
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(updates_dir, "b0"))
    stream = (spark.readStream
              .schema("msisdn string, lat double, lon double, ts long, event_time timestamp")
              .parquet(updates_dir + "/b*"))
    deduped = streaming.dedup_stream(stream)
    q = (deduped.writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["msisdn"], r["ts"]) for r in spark.read.parquet(out_dir).collect())
    assert got == [("a", 100), ("a", 200), ("b", 100)]


def test_tile_pyramid_stream(spark, tmp_path):
    """Streaming pyramid: windowed (zoom, x, y) counts match the batch
    tile_pyramid over the same rows, per window."""
    from geotile import engine

    updates_dir = str(tmp_path / "updates")
    os.makedirs(updates_dir)
    rows = [("a", 39.928167, 116.389550, 100), ("b", 39.928667, 116.389550, 100),
            ("c", 31.230416, 121.473701, 100), ("d", -33.856784, 151.215297, 100)]
    df = spark.createDataFrame(rows, streaming.POS_SCHEMA) \
        .withColumn("event_time", F.to_timestamp(F.lit("2026-01-01 00:00:30")))
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(updates_dir, "b0"))
    stream = (spark.readStream
              .schema("msisdn string, lat double, lon double, ts long, event_time timestamp")
              .parquet(updates_dir + "/b*"))
    pyr = streaming.tile_pyramid_stream(stream, min_zoom=3, max_zoom=6)
    q = (pyr.writeStream.format("memory").queryName("pyrcounts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["zoom"], r["x"], r["y"]): r["n"]
           for r in spark.sql("SELECT * FROM pyrcounts").collect()}
    batch = {(r["zoom"], r["x"], r["y"]): r["n"]
             for r in engine.tile_pyramid(
                 spark.createDataFrame(rows, streaming.POS_SCHEMA),
                 min_zoom=3, max_zoom=6).collect()}
    assert got == batch


def test_interval_join_stream(spark, tmp_path):
    """Stream-stream inner join with an event-time range bound: the
    completed finite stream must produce exactly the batch interval
    join of the same two legs."""
    import pandas as pd

    src = str(tmp_path / "ssj_src")
    os.makedirs(src)
    rows = []
    base = pd.Timestamp("2024-01-01 00:00:00")
    for uid in (1, 2):
        for i in range(6):
            rows.append((uid * 100 + i, base + pd.Timedelta(minutes=7 * i + uid), uid,
                         "left" if i % 2 == 0 else "right"))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "kind"])
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src + "/b0", mode="overwrite")

    ev = (spark.readStream
          .schema("event_id long, ts timestamp, user_id long, kind string")
          .parquet(src + "/b*"))
    left = (ev.where("kind = 'left'")
            .select("user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("a_id")))
    right = (ev.where("kind = 'right'")
             .select("user_id", F.col("ts").alias("r_ts"), F.col("event_id").alias("b_id")))
    j = streaming.interval_join_stream(left, right, "user_id",
                                       within="15 minutes", watermark="10 hours")
    q = (j.writeStream.format("memory").queryName("ssj_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["a_id"], r["b_id"]) for r in spark.table("ssj_test").collect()}

    batch = spark.read.parquet(src + "/b0")
    bl = batch.where("kind = 'left'").selectExpr("user_id", "ts AS l_ts", "event_id AS a_id")
    br = batch.where("kind = 'right'").selectExpr("user_id u2", "ts AS r_ts", "event_id AS b_id")
    expect = {(r["a_id"], r["b_id"]) for r in
              bl.join(br, (bl["user_id"] == br["u2"])
                      & (br["r_ts"] >= bl["l_ts"])
                      & (br["r_ts"] <= bl["l_ts"] + F.expr("INTERVAL 15 minutes"))).collect()}
    assert got == expect and len(got) > 0


def test_decontaminate_stream_matches_batch_occurrences(spark, tmp_path):
    """Stream-static decontamination == batch occurrence counts: the
    stream's inner join emits only contaminated docs, and the complete
    sink holds each doc's gram-occurrence hit count."""
    docs_dir = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckptd")
    os.makedirs(docs_dir)
    rows = [(0, "a b c d e"),       # 'a b c' + 'b c d' -> 2 hits
            (1, "x y z w"),         # clean -> no row
            (2, "a b c a b c d"),   # 'a b c' x2 + 'b c d' (+ 'c a b'?) -> count occurrences
            (3, "a b")]             # shorter than n -> clean
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(docs_dir, "b0"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(docs_dir + "/b*"))
    bench = spark.createDataFrame([(100, "a b c d")], "doc_id long, text string")
    out = streaming.decontaminate_stream(stream, bench, n=3)
    q = (out.writeStream.format("memory").queryName("decon_t")
         .option("checkpointLocation", ckpt)
         .outputMode("complete").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {r["doc_id"]: r["n_hits"]
           for r in spark.table("decon_t").collect()}
    # batch reference with the same gram builder
    from geotile import textops as t

    bg = set(r["g"] for r in bench.select(
        F.explode(t.token_ngrams(F.col("text"), 3)).alias("g")).collect())
    want = {}
    for did, txt in rows:
        hits = sum(1 for g in [" ".join(txt.split()[i:i + 3])
                               for i in range(max(0, len(txt.split()) - 2))]
                   if g in bg)
        if hits:
            want[did] = hits
    assert got == want and 0 in got and 1 not in got and 3 not in got


def test_map_match_stream_equals_batch(spark, tmp_path):
    """The streamed struct-min argmin must converge to batch map_match
    exactly — candidates for one point arrive across the broadcast
    cover parts, min() merges them idempotently."""
    from geotile import engine

    updates_dir = str(tmp_path / "updates")
    os.makedirs(updates_dir)
    rows = [("a", 0.1, 1.0, 100), ("b", 1.0, 2.1, 200),
            ("c", 57.0, 10.0, 300)]                     # c: no match
    _write_batch(spark, updates_dir, rows, 0)
    lines = spark.createDataFrame(
        [(7, [0.0, 0.0, 2.0], [0.0, 2.0, 2.0])],
        "line_id long, line_lat array<double>, line_lon array<double>")
    stream = spark.readStream.schema(streaming.POS_SCHEMA) \
        .parquet(updates_dir + "/b*")
    mm = streaming.map_match_stream(stream, lines, radius_m=50000.0,
                                    id_cols=["msisdn"])
    q = (mm.writeStream.format("memory").queryName("mm_sink")
         .outputMode("complete").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table("mm_sink").collect())
    batch = engine.map_match(
        engine.with_cell(spark.createDataFrame(rows, streaming.POS_SCHEMA)),
        lines, radius_m=50000.0, id_cols=["msisdn"])
    exp = sorted(tuple(r) for r in batch.collect())
    assert got == exp and len(got) == 2


def test_record_low_stream_multi_batch(spark, tmp_path):
    """Record-low detection carries state ACROSS micro-batches: a
    second batch's rows only record if they beat the first batch's
    best; within a batch rows process in order_col order."""
    src = str(tmp_path / "recs")
    out_dir = str(tmp_path / "rec_out")
    ckpt = str(tmp_path / "rec_ckpt")
    os.makedirs(src)
    schema = "source string, doc_id long, pr double"
    b0 = [("s", 1, 50.0), ("s", 3, 80.0), ("s", 2, 40.0)]
    # in doc_id order: 50 (record), 40 (record), 80 (no)
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(src + "/b0")
    stream = spark.readStream.schema(schema).parquet(src + "/b*")
    rec = streaming.record_low_stream(stream, key="source",
                                      order_col="doc_id", val_col="pr")
    q = (rec.writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["doc_id"], r["pr"]) for r in
                 spark.read.parquet(out_dir).collect())
    assert got == [(1, 50.0), (2, 40.0)]
    # batch 1: 45 does NOT beat 40; 10 does
    b1 = [("s", 4, 45.0), ("s", 5, 10.0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    q = (rec.writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["doc_id"], r["pr"]) for r in
                 spark.read.parquet(out_dir).collect())
    assert got == [(1, 50.0), (2, 40.0), (5, 10.0)]


def test_ivm_rollup_stream_multi_batch(spark, tmp_path):
    """Each micro-batch's delta merges into the prior snapshot; the
    final state equals the batch rollup over everything."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "ivm_src")
    state = str(tmp_path / "ivm_state")
    ckpt = str(tmp_path / "ivm_ckpt")
    os.makedirs(src)
    schema = "k string, v long"
    spark.createDataFrame([("a", 1), ("b", 2)], schema) \
        .coalesce(1).write.parquet(src + "/b0")
    spark.createDataFrame([("a", 10), ("c", 5)], schema) \
        .coalesce(1).write.parquet(src + "/b1")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/b*"))

    def delta(df):
        return df.groupBy("k").agg(F.count("*").cast("long").alias("n"),
                                   F.sum("v").cast("long").alias("v_sum"))

    q = streaming.ivm_rollup_stream(spark, stream, state, ckpt, delta,
                                    keys=["k"], sums=["n", "v_sum"])
    q.awaitTermination(120)
    got = {r["k"]: (r["n"], r["v_sum"])
           for r in streaming.read_state(spark, state).collect()}
    assert got == {"a": (2, 11), "b": (1, 2), "c": (1, 5)}
    # two snapshot versions exist (one per batch)
    assert streaming.latest_state_version(state) >= 1


def test_cell_transition_stream_matches_batch_lag(spark):
    """The q251 stream's run-to-completion output equals the batch lag
    window over the same positions (single-file source = global
    event_id order)."""
    import __spark_entry__ as E
    from pyspark.sql import Window, functions as F
    from geotile import engine

    sf = "/root/testdata/sf0.001"
    got = E._q251_stream_transitions(spark, sf).collect()
    pos = engine.with_cell(E._positions_df(spark, sf)) \
        .withColumn("cell", F.substring("geohash", 1, 3))
    w = Window.partitionBy("user_id").orderBy("event_id")
    want = (pos.withColumn("prev", F.lag("cell").over(w))
            .where(F.col("prev").isNotNull()
                   & (F.col("prev") != F.col("cell")))
            .select("user_id", "event_id",
                    F.col("prev").alias("from_cell"),
                    F.col("cell").alias("to_cell"))
            .orderBy("user_id", "event_id").collect())
    assert len(got) == len(want) > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
