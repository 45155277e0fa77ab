"""Structured Streaming surface: continuous position ingestion.

Maps the reference's feed loop (``Runtime_Thread``,
/root/reference/LoadModule/LoadModule.cpp:44-91 — a 5 s poll loop
writing through AddPos) onto Structured Streaming:

* :func:`upsert_stream` — file-source micro-batches -> ``foreachBatch``
  last-write-wins MERGE into a versioned state table (snapshot per
  batch, manifest-committed, so a crashed stream resumes from the last
  good snapshot + checkpoint — the shm-durability equivalent).
* :func:`keyed_latest_stream` — the same semantics fully inside the
  stream via ``applyInPandasWithState`` (keyed state per msisdn),
  emitting only rows whose position actually changed (the reference's
  cell-migration event, mapinfo.cpp:122-145).
* :func:`cell_count_stream` — watermarked sliding-window occupancy
  per cell (GetPoolState over event time).

Exactly-once: foreachBatch writes are idempotent by construction —
the state snapshot for batch N is derived from snapshot N-1 + batch N
and committed atomically through the manifest; replays overwrite the
same snapshot id.
"""

from __future__ import annotations

import os
from functools import reduce
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from . import engine, table

POS_SCHEMA = "msisdn string, lat double, lon double, ts long"


def _state_version_path(state_dir: str, version: int) -> str:
    return os.path.join(state_dir, f"v{version:06d}")


def latest_state_version(state_dir: str) -> int | None:
    """The newest version with a committed manifest, tried newest-first."""
    if not os.path.isdir(state_dir):
        return None
    versions = sorted((int(d[1:]) for d in os.listdir(state_dir)
                       if d[:1] == "v" and d[1:].isdigit()), reverse=True)
    return next((v for v in versions if os.path.isfile(
        os.path.join(_state_version_path(state_dir, v), table.MANIFEST))), None)


def read_state(spark: SparkSession, state_dir: str,
               version: int | None = None) -> DataFrame | None:
    """Read a committed state snapshot: the latest by default, or an
    explicit ``version`` for TIME TRAVEL across the LWW history (each
    micro-batch committed an immutable snapshot — the Iceberg-snapshot
    read pattern).  The schema comes from the snapshot's manifest, so
    the read launches no job to infer it from the footers."""
    if version is None:
        version = latest_state_version(state_dir)
        if version is None:
            return None
    path = _state_version_path(state_dir, version)
    if table.read_manifest(path) is None:
        raise ValueError(f"no committed snapshot v{version} under {state_dir}")
    return table.read_stage(spark, path)


def upsert_stream(spark: SparkSession, updates_dir: str, state_dir: str,
                  checkpoint_dir: str, available_now: bool = True):
    """File-source stream of position updates -> LWW-merged state
    snapshots.  Returns the started StreamingQuery."""
    updates = (spark.readStream.schema(POS_SCHEMA).parquet(updates_dir))

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        state = read_state(spark, state_dir)
        batch_df = engine.with_cell(batch_df)
        if state is None:
            merged = engine.upsert_positions(
                batch_df.limit(0), batch_df, key="msisdn", ts="ts")
        else:
            merged = engine.upsert_positions(state, batch_df, key="msisdn", ts="ts")
        out = _state_version_path(state_dir, int(batch_id))
        # geohash-sorted row groups: radius_search's cell filter reads
        # only the row groups its cover can match
        table.write_stage(merged, out, params={"batch_id": int(batch_id)},
                          sort_by=["geohash"])

    writer = (updates.writeStream.foreachBatch(_merge)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def keyed_latest_stream(updates: DataFrame) -> DataFrame:
    """Stateful keyed latest-position operator: emits a row per input
    update whose ts is >= the stored latest (out-of-order stale updates
    are suppressed) — AddPos's overwrite-if-newer as a stream operator."""
    out_schema = "msisdn string, lat double, lon double, ts long"
    state_schema = "lat double, lon double, ts long"

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        import numpy as np

        rows = pd.concat(list(pdfs), ignore_index=True)  # arrival order
        if state.exists:
            _s_lat, _s_lon, s_ts = state.get
        else:
            s_ts = -1
        # AddPos arrival-order LWW: accept an update iff its ts >= the
        # running latest; a late-arriving older ts is stale -> dropped
        ts = rows["ts"].to_numpy(np.int64)
        running = np.maximum.accumulate(np.concatenate(([np.int64(s_ts)], ts)))[:-1]
        accept = ts >= running
        fresh = rows[accept]
        if len(fresh):
            last = fresh.iloc[-1]
            state.update((float(last["lat"]), float(last["lon"]), int(last["ts"])))
            yield pd.DataFrame({"msisdn": [key[0]] * len(fresh),
                                "lat": fresh["lat"].to_numpy(),
                                "lon": fresh["lon"].to_numpy(),
                                "ts": fresh["ts"].to_numpy()})
        else:
            yield pd.DataFrame({"msisdn": [], "lat": [], "lon": [], "ts": []})

    # emitted rows are final (an accepted update never mutates later) ->
    # "append" operator mode, compatible with append-only file sinks
    return (updates.groupBy("msisdn")
            .applyInPandasWithState(_update, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def radius_join_stream(updates: DataFrame, queries) -> DataFrame:
    """Continuous radius matching: every streamed position update is
    joined against the (static, driver-side) query set — the streaming
    form of the reference's feed loop that re-ran FindPos every 5 s
    (/root/reference/LoadModule/LoadModule.cpp:76-84), except matches
    are emitted exactly once per update instead of re-scanned.

    ``queries``: sequence of (query_id, qlat, qlon, radius_m).  Plan:
    stream-static broadcast join on the cell prefix (the static side is
    the precomputed cell cover with query attrs inline) + native
    haversine refine — no Python, no stream state."""
    import pandas as pd
    from pyspark.sql import functions as F

    from . import udfs
    from .engine import _fit_cover_radius

    spark = updates.sparkSession
    with_cell = engine.with_cell(updates)
    by_n: dict[int, list[tuple]] = {}
    for q_id, q_la, q_lo, q_r in queries:
        n, cells = _fit_cover_radius(float(q_la), float(q_lo), float(q_r), 5)
        by_n.setdefault(n, []).extend(
            (int(q_id), c, float(q_la), float(q_lo), float(q_r)) for c in cells)
    parts = []
    for n, rows in by_n.items():
        cov = spark.createDataFrame(
            pd.DataFrame(rows, columns=["query_id", "cell", "qlat", "qlon", "radius_m"]),
            "query_id long, cell string, qlat double, qlon double, radius_m double")
        key = F.col("geohash") if n == 5 else F.substring(F.col("geohash"), 1, n)
        parts.append(with_cell.join(F.broadcast(cov), key == cov["cell"], "inner")
                     .drop("cell"))
    out = reduce(DataFrame.unionByName, parts)
    dist = udfs.haversine_col(F.col("qlat"), F.col("qlon"), F.col("lat"), F.col("lon"))
    return (out.withColumn("dist_m", dist)
            .where(F.col("dist_m") <= F.col("radius_m"))
            .drop("qlat", "qlon", "radius_m"))


def dedup_stream(updates: DataFrame, keys: tuple[str, ...] = ("msisdn", "ts"),
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup for at-least-once sources: duplicates of
    ``keys`` arriving within the ``watermark`` horizon are suppressed
    (``dropDuplicatesWithinWatermark`` — state is BOUNDED by the
    horizon, unlike a plain streaming dropDuplicates whose key state
    grows forever).  The streaming twin of textops.exact_dedup for
    replayed/duplicated ingestion feeds."""
    return (updates.withWatermark("event_time", watermark)
            .dropDuplicatesWithinWatermark(list(keys)))


def session_count_stream(updates: DataFrame, gap: str = "30 minutes",
                         watermark: str = "1 hour",
                         key: str = "msisdn") -> DataFrame:
    """Event-time SESSION windows per key: a session extends while
    events keep arriving within ``gap``; the watermark closes sessions
    so append-mode sinks get final rows — the streaming twin of
    ``engine.sessionize`` (same gap semantics, Structured Streaming's
    native session_window state instead of a batch window pass)."""
    return (updates.withWatermark("event_time", watermark)
            .groupBy(F.session_window("event_time", gap).alias("win"),
                     F.col(key))
            .agg(F.count("*").alias("n")))


def cell_count_stream(updates: DataFrame, window: str = "1 minute",
                      watermark: str = "2 minutes") -> DataFrame:
    """Watermarked tumbling-window occupancy per cell — the streaming
    GetPoolState (mapinfo.cpp:473-497).  ``updates`` must carry an
    event-time timestamp column ``event_time``."""
    with_cell = engine.with_cell(updates)
    return (with_cell.withWatermark("event_time", watermark)
            .groupBy(F.window("event_time", window).alias("win"), F.col("geohash"))
            .agg(F.count("*").alias("n")))


def tile_pyramid_stream(updates: DataFrame, min_zoom: int = 3, max_zoom: int = 8,
                        window: str = "1 minute",
                        watermark: str = "2 minutes") -> DataFrame:
    """Watermarked tumbling-window tile-count PYRAMID: the streaming
    twin of :func:`geotile.engine.tile_pyramid` — every micro-batch row
    fans out into its (zoom, x, y) memberships with pure native
    expressions, then one windowed streaming aggregate maintains counts
    for all zoom levels at once.  ``updates`` must carry ``event_time``;
    late rows past the watermark are dropped by the engine, and state is
    bounded by (windows in horizon) x (occupied tiles)."""
    keys = engine.with_tile_pyramid_keys(updates, min_zoom=min_zoom,
                                         max_zoom=max_zoom, keep=["event_time"])
    return (keys.withWatermark("event_time", watermark)
            .groupBy(F.window("event_time", window).alias("win"),
                     "zoom", "x", "y")
            .agg(F.count("*").alias("n")))


def interval_join_stream(left: DataFrame, right: DataFrame, key: str,
                         left_ts: str = "l_ts", right_ts: str = "r_ts",
                         within: str = "30 minutes",
                         watermark: str = "1 hour") -> DataFrame:
    """Watermarked stream-stream INNER join: every left event matches
    right events of the same key whose timestamp falls in
    ``[left_ts, left_ts + within]``.

    The event-time range condition plus watermarks on BOTH sides is
    what lets Structured Streaming bound join state: a buffered left
    row can be evicted once the right watermark passes
    ``left_ts + within``, and vice versa — without the range bound the
    state grows forever.  Output is append-mode (inner-join matches
    are final the moment they are emitted)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = ((lw[key] == rw[key])
            & (rw[right_ts] >= lw[left_ts])
            & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}")))
    return lw.join(rw, cond, "inner").drop(rw[key])


def decontaminate_stream(docs: DataFrame, bench: DataFrame, n: int = 8,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Hygiene at ingest: the streaming form of
    :func:`geotile.textops.decontaminate` — every incoming document is
    checked against a STATIC benchmark's token n-gram set as it
    arrives, so contaminated pages never reach the corpus at all
    (batch decontamination scans what ingest already admitted).

    The stream side is a map-only explode (token_ngrams, native) plus
    a stream-static BROADCAST inner join — zero stream-side shuffle
    and ZERO join state (the static gram set is just a lookup).  The
    only stateful operator is the per-doc hit count, whose state is
    bounded by the number of CONTAMINATED documents (clean docs never
    produce a row).  Emits ``(id_col, n_hits)`` — n_hits counts gram
    OCCURRENCES (Structured Streaming forbids distinct aggregates;
    the batch operator's distinct-gram count is the dedup-exact
    variant), complete output mode."""
    from . import textops

    bench_grams = (bench.select(
        F.explode(textops.token_ngrams(F.col(text_col), n)).alias("g"))
        .distinct())
    hits = (docs.select(F.col(id_col),
                        F.explode(textops.token_ngrams(F.col(text_col), n))
                        .alias("g"))
            .join(F.broadcast(bench_grams), "g"))
    return hits.groupBy(id_col).agg(F.count("*").alias("n_hits"))


def map_match_stream(updates: DataFrame, lines: DataFrame, radius_m: float,
                     **kw) -> DataFrame:
    """Map matching AT INGEST: the IDENTICAL engine.map_match plan on a
    position stream — one operator definition for batch and stream so
    the argmin semantics cannot drift (the q125/q127 HLL discipline).
    The segment cover is computed driver-side from the static lines
    table and BROADCASTS into a stream-static join (no stream state in
    the filter stage); the struct-min argmin is the ONE stateful
    aggregate.  min() is associative + commutative + idempotent, so
    the finite-stream final table must equal batch map_match
    row-for-row — the q136 run-to-completion gate.  Aggregate state is
    one struct per matched point id within the aggregation scope; a
    production deployment bounds it by watermark-windowing the
    aggregate on event time (points arrive once, so a window never
    splits a point's candidate set)."""
    from .engine import map_match, with_cell

    return map_match(with_cell(updates), lines, radius_m, **kw)


def record_low_stream(updates: DataFrame, key: str = "source",
                      order_col: str = "doc_id",
                      val_col: str = "pr") -> DataFrame:
    """Stateful streaming RECORD detection: per key, emit a row iff
    its value is a new strict running MINIMUM — the alerting/monitoring
    primitive ("new best candidate", "new latency record") and the
    streaming half of the q225 weighted sampler (each record is the
    moment the sample's best element changed).

    A record is FINAL the moment it happens (later rows can't unmake
    it), so the operator is append-mode safe with one double of state
    per key.  Within a micro-batch rows are processed in ``order_col``
    order (explicit sort — micro-batch shuffles don't preserve file
    order), batches in arrival order; with a single-file source this
    equals global ``order_col`` order, which is what the q230 oracle
    states as a running-min window.

    Scale shape: one shuffle groups keys; state is O(1) per key (the
    current best); emissions are the records only."""
    import numpy as np

    out_schema = f"{key} string, {order_col} long, {val_col} double"
    state_schema = "best double"

    def _update(k, pdfs: Iterator[pd.DataFrame], state: GroupState):
        rows = (pd.concat(list(pdfs), ignore_index=True)
                .sort_values(order_col, kind="mergesort"))
        best = state.get[0] if state.exists else float("inf")
        vals = rows[val_col].to_numpy(float)
        running = np.minimum.accumulate(
            np.concatenate(([best], vals)))[:-1]
        accept = vals < running
        fresh = rows[accept]
        if len(fresh):
            state.update((float(fresh[val_col].iloc[-1]),))
            yield pd.DataFrame({
                key: fresh[key].to_numpy(),
                order_col: fresh[order_col].to_numpy(),
                val_col: fresh[val_col].to_numpy()})
        else:
            yield pd.DataFrame({key: [], order_col: [], val_col: []})

    return (updates.select(key, order_col, val_col)
            .groupBy(key)
            .applyInPandasWithState(_update, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def ivm_rollup_stream(spark: SparkSession, updates: DataFrame,
                      state_dir: str, checkpoint_dir: str,
                      delta_fn, keys, sums, available_now: bool = True):
    """Streaming INCREMENTAL VIEW MAINTENANCE: each micro-batch
    partial-aggregates to a delta rollup (``delta_fn``) and
    :func:`geotile.table.merge_rollup`-merges it into the versioned
    state snapshot — the q210 IVM identity (merge(base, delta) ==
    direct recompute) running continuously, which is how a 100-TB
    rollup stays fresh without rescanning history.  Snapshots commit
    through write_stage manifests, so replays overwrite the same
    version (idempotent, the upsert_stream discipline).

    Returns the started StreamingQuery."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        delta = delta_fn(batch_df)
        state = read_state(spark, state_dir)
        merged = delta if state is None else table.merge_rollup(
            state, delta, keys, sums)
        out = _state_version_path(state_dir, int(batch_id))
        table.write_stage(merged, out, params={"batch_id": int(batch_id)})

    writer = (updates.writeStream.foreachBatch(_merge)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def cell_transition_stream(updates: DataFrame, key: str = "user_id",
                           order_col: str = "event_id",
                           cell_col: str = "cell") -> DataFrame:
    """Stateful streaming CELL-TRANSITION detection: per key, emit a
    row the moment its cell differs from the previous fix's cell —
    the continuous form of the q108 geofence / q81 OD primitives (the
    event-time edge "user crossed a boundary", fired as it happens
    instead of reconstructed by a batch lag window).

    A transition is FINAL when it happens (later fixes can't unmake
    it), so append mode is sound with ONE string of state per key
    (the last seen cell).  Within a micro-batch rows are processed in
    ``order_col`` order (explicit sort — micro-batch shuffles don't
    preserve file order), batches in arrival order; with a
    single-file source this equals global order, which is what the
    q251 oracle states as a batch lag window.

    Scale shape: one shuffle groups keys; state is O(1) per key;
    emissions are the transitions only (a stationary key emits
    nothing).  Returns ``(key, order_col, from_cell, to_cell)``."""
    out_schema = (f"{key} long, {order_col} long, "
                  "from_cell string, to_cell string")
    state_schema = "last_cell string"

    import numpy as np

    def _update(k, pdfs: Iterator[pd.DataFrame], state: GroupState):
        rows = (pd.concat(list(pdfs), ignore_index=True)
                .sort_values(order_col, kind="mergesort"))
        prev = state.get[0] if state.exists else None
        arr = rows[cell_col].to_numpy(dtype=object)
        if len(arr) == 0:
            yield pd.DataFrame({key: [], order_col: [],
                                "from_cell": [], "to_cell": []})
            return
        prv = np.concatenate(([prev], arr[:-1]))
        mask = prv != arr
        if prev is None:
            mask[0] = False  # the key's first-ever fix is no transition
        state.update((str(arr[-1]),))
        sel = rows[mask]
        yield pd.DataFrame({
            key: sel[key].to_numpy(),
            order_col: sel[order_col].to_numpy(),
            "from_cell": prv[mask],
            "to_cell": sel[cell_col].to_numpy()})

    return (updates.select(key, order_col, cell_col)
            .groupBy(key)
            .applyInPandasWithState(_update, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))
