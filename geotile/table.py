"""Iceberg-style table layer: partitioned Parquet + JSON manifest with
per-partition lineage and row counts; resumable stages.

Plays the role of the reference's SysV shared-memory persistence
(/root/reference/GeoHash/ShareMemory.cpp:72-102: attach-if-same-size
else recreate; /root/reference/GeoHash/mapinfo.cpp:55-95: Load rebuilds
derived state).  Mapping:

  * shm segment-size check  -> schema fingerprint in _manifest.json
  * attach (resume)         -> stage with a valid manifest is skipped; an
                               external bucketed table is re-registered
                               over its data dir (register_bucketed)
  * Load() index rebuild    -> derived columns (cells) recomputed cheaply
  * pool counters           -> per-partition row counts in the manifest

On a cluster with an Iceberg catalog this module is replaced by real
Iceberg snapshots; the interface (write_stage/is_complete/read_stage)
is the contract.  No Iceberg runtime jar ships in this sandbox
(SURVEY.md §7), so the manifest layer implements the same semantics on
plain Parquet.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_manifest.json"
# row-group size of a sorted stage: small enough that a few-cell filter
# skips most of a snapshot, large enough to keep the write cheap
CLUSTER_ROW_GROUP_BYTES = 128 << 10


def _footer_counts(path: str, partition_by: list[str]) -> dict[str, int]:
    """Per-partition row counts from the parquet FOOTERS of what landed
    on disk — ground truth without a table scan (footer reads are
    milliseconds; at cluster scale the table format's own manifests
    provide the same numbers)."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    jobs: list[tuple[str, str]] = []
    for root, _dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        kv = dict(seg.split("=", 1) for seg in rel.split(os.sep) if "=" in seg)
        key = "|".join(kv.get(c, "") for c in partition_by) if partition_by else ""
        jobs.extend((key, os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    counts: dict[str, int] = {}
    if jobs:
        with ThreadPoolExecutor(max_workers=16) as ex:
            for (key, _), n in zip(jobs, ex.map(
                    lambda j: pq.ParquetFile(j[1]).metadata.num_rows, jobs)):
                counts[key] = counts.get(key, 0) + n
    else:
        counts[""] = 0
    return counts


def _schema_fingerprint(df: DataFrame) -> str:
    return hashlib.sha256(df.schema.json().encode()).hexdigest()[:16]


def _lineage_hash(parents: Sequence[str], params: dict) -> str:
    payload = json.dumps({"parents": list(parents), "params": params}, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def write_stage(df: DataFrame, path: str, partition_by: Sequence[str] = (),
                parents: Sequence[str] = (), params: dict | None = None,
                sort_by: Sequence[str] = ()) -> dict:
    """Write a stage output + manifest.  The manifest records the schema
    fingerprint, lineage hash (parent manifests + params), and row
    counts per partition value — the resume/conservation contract.

    ``partition_by``: the rows are first rebalanced on these columns
    (Spark's adaptive ``REBALANCE`` hint), so each partition directory
    gets one file at small sizes instead of one per write task; AQE
    merges small partitions and splits a hot value into files of
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``.

    ``sort_by``: each task sorts its rows by these columns and writes
    row groups of ``CLUSTER_ROW_GROUP_BYTES`` (:func:`_clustered_writer`),
    so a filter on the sort key skips row groups by their min/max.  The
    manifest records it and :func:`compact` re-applies it."""
    params = params or {}
    if partition_by:
        df = df.hint("rebalance", *partition_by)
    _clustered_writer(df, partition_by, sort_by).parquet(path)
    return commit_manifest(path, {
        "schema_json": df.schema.json(),
        "schema_fingerprint": _schema_fingerprint(df),
        "lineage": stage_lineage(parents, params),
        "partition_by": list(partition_by),
        "sort_by": list(sort_by),
        "partitions": _footer_counts(path, list(partition_by)),
        "params": params,
    })


def _clustered_writer(df: DataFrame, partition_by: Sequence[str],
                      sort_by: Sequence[str]):
    """The overwrite writer of a stage: partitioned by ``partition_by``;
    with ``sort_by``, sorted within each task (no shuffle) and cut into
    ``CLUSTER_ROW_GROUP_BYTES`` row groups."""
    w = (df.sortWithinPartitions(*sort_by).write
         .option("parquet.block.size", CLUSTER_ROW_GROUP_BYTES) if sort_by else df.write)
    w = w.mode("overwrite")
    return w.partitionBy(*partition_by) if partition_by else w


def commit_manifest(path: str, manifest: dict) -> dict:
    """The single commit point of a stage: stamp ``manifest`` (its
    ``total_rows`` summed from ``partitions``) and atomically replace
    ``path``/_manifest.json with it.  Data written before this call is
    uncommitted until it returns."""
    manifest = {**manifest, "format_version": 1, "committed_at": time.time(),
                "total_rows": int(sum(manifest["partitions"].values()))}
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(path, MANIFEST))  # atomic commit
    return manifest


def stage_lineage(parents: Sequence[str], params: dict | None = None) -> str:
    """Lineage hash of a stage: its parents' committed lineage (or their
    absence) plus its own params."""
    parent_hashes = []
    for p in parents:
        pm = read_manifest(p)
        parent_hashes.append(pm["lineage"] if pm else "missing:" + p)
    return _lineage_hash(parent_hashes, params or {})


def read_manifest(path: str) -> dict | None:
    p = os.path.join(path, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def is_complete(path: str, parents: Sequence[str] = (), params: dict | None = None) -> bool:
    """A stage is complete iff its manifest exists AND its lineage hash
    matches the current parents+params (the 'attach-if-same-size' check:
    a changed upstream or parameter invalidates the stage)."""
    m = read_manifest(path)
    return m is not None and m["lineage"] == stage_lineage(parents, params)


def read_stage(spark: SparkSession, path: str) -> DataFrame:
    m = read_manifest(path)
    if m and m.get("schema_json"):
        from pyspark.sql.types import StructType

        return spark.read.schema(StructType.fromJson(json.loads(m["schema_json"]))).parquet(path)
    return spark.read.parquet(path)


def write_bucketed(df: DataFrame, name: str, key: str, n_buckets: int = 16,
                   sort: bool = True, path: str | None = None) -> None:
    """Store a keyed table bucketed (and sorted) by ``key``.

    This is the storage layout that makes the engine's ONE unavoidable
    wide shuffle avoidable: a bucketed scan reports hash-partitioning
    on ``key``, so keyed upserts (window dedup / MERGE), joins, and
    aggregations on ``key`` between co-bucketed tables run with ZERO
    Exchange — verified by plan assertion in
    tests/test_pipeline.py::test_bucketed_upsert_has_no_exchange.
    At cluster scale this is the positions store keyed by url/msisdn
    (SURVEY.md §7.3's 'bucket the stored table by key').

    Where the data lives: without ``path`` the table is MANAGED, under
    the session's ``spark.sql.warehouse.dir``, and DROP TABLE deletes
    it.  With ``path`` it is EXTERNAL: its files live at ``path``
    (replaced if present), outlive DROP TABLE, and a new session can
    attach them again with :func:`register_bucketed`."""
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = path
    if path is None:
        # with the in-memory catalog a previous session's managed
        # location survives the dropped catalog entry; clear it so
        # saveAsTable can claim the path
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        loc = os.path.join(warehouse.removeprefix("file:"), name.split(".")[-1])
    shutil.rmtree(loc, ignore_errors=True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(name)


def register_bucketed(spark: SparkSession, name: str, path: str, schema_json: str,
                      key: str, n_buckets: int) -> None:
    """Attach the bucketed, sorted parquet data that
    :func:`write_bucketed` left at ``path`` as the EXTERNAL catalog
    table ``name`` (replacing any entry of that name).  Metadata only:
    no file is read or written, so a cold catalog gets its table back
    without a rebuild, and the scan still reports the bucketing the
    data was written with."""
    from pyspark.sql.types import StructType

    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in StructType.fromJson(json.loads(schema_json)))
    if _catalog_table(spark, name) is not None:
        spark.sql(f"DROP TABLE {name}")
    spark.sql(f"CREATE TABLE {name} ({cols}) USING parquet CLUSTERED BY ({key}) "
              f"SORTED BY ({key}) INTO {n_buckets} BUCKETS LOCATION '{path}'")


def _catalog_table(spark: SparkSession, name: str):
    """The session catalog's entry for table ``name`` (a JVM
    CatalogTable), None when there is none.  A lookup: no query runs."""
    state = spark._jsparkSession.sessionState()
    ident = state.sqlParser().parseTableIdentifier(name)
    return state.catalog().getTableMetadata(ident) if state.catalog().tableExists(ident) else None


def table_location(spark: SparkSession, name: str) -> str | None:
    """Data directory of the EXTERNAL catalog table ``name``; None when
    no such table exists or it is managed (its data then lives in the
    warehouse)."""
    meta = _catalog_table(spark, name)
    if meta is None or meta.tableType().name() != "EXTERNAL":
        return None
    return meta.location().getPath()


def next_version(path: str) -> str:
    """A fresh data directory beside ``path`` for the next version of an
    external table: ``<stem>.v<N+1>``, where ``path`` is the bare stem
    or one of its versions and N the highest version on disk."""
    parent, base = os.path.split(os.path.abspath(path))
    stem = re.sub(r"\.v\d+$", "", base)
    pat = re.compile(re.escape(stem) + r"\.v(\d+)")
    taken = [int(m.group(1)) for f in (os.listdir(parent) if os.path.isdir(parent) else ())
             if (m := pat.fullmatch(f))]
    return os.path.join(parent, f"{stem}.v{max(taken, default=0) + 1}")


def lww_dedup(df: DataFrame, key: str, ts: str) -> DataFrame:
    """One row per ``key``, last write wins: the newest ``ts`` survives,
    and ``ts`` ties break by a TOTAL order over the payload columns,
    each descending (ordering by ``ts`` alone would make the surviving
    row depend on scan order).  One window over ``key``: a single
    shuffle on it."""
    from pyspark.sql import Window

    tie = [F.col(c).desc() for c in df.columns if c not in (key, ts)]
    w = Window.partitionBy(key).orderBy(F.col(ts).desc(), *tie)
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def merge_into(spark: SparkSession, target: str, updates: DataFrame,
               key: str = "msisdn", ts: str = "ts",
               n_buckets: int = 16) -> dict:
    """Last-write-wins MERGE of ``updates`` into the catalog table
    ``target`` — the production API shape for the keyed positions
    store (AddPos upsert against bucketed storage).

    Path 1 (production): the ANSI ``MERGE INTO`` statement —
    ``WHEN MATCHED AND u.ts >= t.ts THEN UPDATE SET * WHEN NOT MATCHED
    THEN INSERT *`` — which an Iceberg/Delta v2 catalog executes as a
    bucket-pruned merge.  Path 2 (this sandbox): the built-in v1
    parquet session catalog rejects MERGE
    (UNSUPPORTED_FEATURE.TABLE_OPERATION — probed, no v2 catalog jar is
    available here), so the identical semantics run as
    :func:`geotile.engine.upsert_positions_merge` over the bucketed
    scans — a ZERO-Exchange sort-merge join (plan-asserted in
    tests/test_pipeline.py) — followed by a bucketed rewrite and a
    catalog swap (stage table + RENAME; an Iceberg catalog would make
    this step a snapshot commit instead).

    Where the data lives: a managed target's rewrite is managed too
    (session warehouse).  An EXTERNAL target's rewrite goes to a fresh
    versioned directory beside its location (:func:`next_version`), so
    its data never moves into the warehouse; the replaced directory is
    left in place for the caller, whose own commit point (a manifest,
    say) decides when it may go.

    Raw updates may carry several rows per key (the normal AddPos batch
    shape): they are LWW-deduped here first (:func:`lww_dedup`),
    because BOTH downstream forms require a key-unique source — the
    join form would emit duplicate keys, and a v2 MERGE raises a
    cardinality violation.

    The fallback's DROP + RENAME pair is not atomic; a crash between
    the two statements leaves the data under ``{target}__merge_stage``.
    :func:`recover_merge` (called automatically on entry) completes the
    interrupted rename, mirroring compact()'s crash-recovery contract.
    An Iceberg catalog would make the whole step one snapshot commit.

    Returns ``{"path": "merge-sql" | "merge-join", "plan": <physical
    plan of the merge computation, for plan assertions>}``."""
    from . import engine

    recover_merge(spark, target)
    updates = lww_dedup(updates, key, ts)
    upd_view = "_geotile_merge_updates_" + "".join(
        ch if ch.isalnum() else "_" for ch in target)
    updates.createOrReplaceTempView(upd_view)
    try:
        merge_sql = (
            f"MERGE INTO {target} t USING {upd_view} u ON t.{key} = u.{key} "
            f"WHEN MATCHED AND u.{ts} >= t.{ts} THEN UPDATE SET * "
            f"WHEN NOT MATCHED THEN INSERT *")
        try:
            spark.sql(merge_sql)
            return {"path": "merge-sql", "plan": ""}
        except Exception as e:
            # fall through ONLY on "this catalog cannot MERGE" — match
            # the error condition, not the statement text (which any
            # failed MERGE would echo)
            cond = getattr(e, "getCondition", lambda: None)() or ""
            if ("UNSUPPORTED_FEATURE" not in cond
                    and "does not support MERGE INTO" not in str(e)):
                raise
        state = spark.table(target)
        merged = engine.upsert_positions_merge(state, spark.table(upd_view),
                                               key=key, ts=ts)
        plan = merged._jdf.queryExecution().executedPlan().toString()
        stage = f"{target}__merge_stage"
        loc = table_location(spark, target)
        write_bucketed(merged, stage, key, n_buckets=n_buckets,
                       path=loc and next_version(loc))
        spark.sql(f"DROP TABLE {target}")
        spark.sql(f"ALTER TABLE {stage} RENAME TO {target}")
        return {"path": "merge-join", "plan": plan}
    finally:
        spark.catalog.dropTempView(upd_view)


def recover_merge(spark: SparkSession, target: str) -> bool:
    """Repair an interrupted merge_into swap: if the target table is
    gone but its merge stage exists (a crash landed between DROP and
    RENAME), complete the rename.  Returns True when a repair ran."""
    stage = f"{target}__merge_stage"
    if (not spark.catalog.tableExists(target)
            and spark.catalog.tableExists(stage)):
        spark.sql(f"ALTER TABLE {stage} RENAME TO {target}")
        return True
    return False


def compact(spark: SparkSession, path: str, target_mb: int = 128) -> dict:
    """Rewrite a stage's data files into ~``target_mb`` files (within
    each partition dir) — the table-format compactor's job.  A stage
    written with ``partition_by`` already lands with files of about the
    AQE advisory size (:func:`write_stage` rebalances it), so this is for
    unpartitioned stages written by many tasks and for a different
    ``target_mb``; its ``repartition`` is its only shuffle.  Content,
    partitioning, lineage, and per-partition counts are unchanged (the
    manifest is re-committed with the same lineage hash, so downstream
    ``is_complete`` checks still pass); only the file layout changes."""
    import shutil

    m = read_manifest(path)
    if m is None:
        raise ValueError(f"no manifest at {path}")
    total_bytes = sum(os.path.getsize(os.path.join(root, f))
                      for root, _d, files in os.walk(path) for f in files
                      if f.endswith(".parquet"))
    n_files = max(1, int(total_bytes // (target_mb << 20)) + 1)
    df = read_stage(spark, path)
    tmp = path.rstrip("/") + ".compact.tmp"
    df = df.repartition(n_files, *[F.col(c) for c in m["partition_by"]]) \
        if m["partition_by"] else df.coalesce(n_files)
    # re-apply the stage's clustering: repartition alone would destroy
    # the per-file sort and row groups that min/max pruning relies on
    _clustered_writer(df, m["partition_by"], m.get("sort_by") or []).parquet(tmp)
    new_counts = _footer_counts(tmp, m["partition_by"])
    if {k: int(v) for k, v in new_counts.items()} != \
            {k: int(v) for k, v in m["partitions"].items()}:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compaction row-count mismatch; aborted, original intact")
    # crash-safe swap: keep the original as a .bak sibling until the new
    # manifest is committed — no window where the stage has no data (a
    # crash mid-swap leaves either the original or original-in-.bak +
    # new data, both recoverable; the old rmtree-then-replace had a
    # window with NOTHING on disk)
    bak = path.rstrip("/") + ".compact.bak"
    shutil.rmtree(bak, ignore_errors=True)
    os.replace(path, bak)
    os.replace(tmp, path)
    m = commit_manifest(path, {**m, "partitions": new_counts})
    shutil.rmtree(bak, ignore_errors=True)  # commit point passed
    return m


def recover_compact(path: str) -> str:
    """Resolve a crash mid-:func:`compact` to a committed, readable
    stage.  The swap sequence is: write .compact.tmp -> move original to
    .compact.bak -> move tmp into place -> commit manifest -> drop bak;
    a kill between any two steps leaves exactly one of these states:

      * tmp only (crash before any swap): original intact — drop tmp.
      * bak present, ``path`` missing (between the two os.replace):
        restore bak -> path, drop tmp.
      * bak present, ``path`` has NO manifest (new data landed but its
        manifest never committed): the new data is uncommitted by
        definition — roll back to the original, drop the orphan.
      * bak present, ``path`` has a manifest (crash after the commit
        point): compaction succeeded — drop the stale bak.

    Returns the action taken ("clean" when nothing to do).  Idempotent;
    callers run it before read_stage/is_complete on restart."""
    import shutil

    bak = path.rstrip("/") + ".compact.bak"
    tmp = path.rstrip("/") + ".compact.tmp"
    state = "clean"
    if os.path.exists(bak):
        if not os.path.exists(path):
            os.replace(bak, path)
            state = "restored_bak"
        elif read_manifest(path) is None:
            shutil.rmtree(path)
            os.replace(bak, path)
            state = "rolled_back"
        else:
            shutil.rmtree(bak)
            state = "dropped_bak"
    if os.path.exists(tmp):
        shutil.rmtree(tmp, ignore_errors=True)
        if state == "clean":
            state = "dropped_tmp"
    return state


def verify_counts(spark: SparkSession, path: str) -> bool:
    """Conservation invariant: manifest row counts match a live recount
    (the reference's pool used+free=all check, mapinfo.cpp:473-497)."""
    m = read_manifest(path)
    if m is None:
        return False
    df = spark.read.parquet(path)
    if m["partition_by"]:
        counts = {"|".join(str(r[c]) for c in m["partition_by"]): r["n"]
                  for r in df.groupBy(*m["partition_by"]).agg(F.count("*").alias("n")).collect()}
    else:
        counts = {"": df.count()}
    return {k: int(v) for k, v in counts.items()} == {k: int(v) for k, v in m["partitions"].items()}


def column_stats(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """ANALYZE-style per-column statistics for numeric/temporal
    columns: ``(column, n_rows, n_null, n_distinct, min, max)`` with
    min/max cast to double for a uniform schema — what the optimizer's
    cost model and the manifest layer's data-quality checks read
    (the engine twin of GetPoolState's occupancy counters,
    /root/reference/GeoHash/mapinfo.cpp:473-497, generalized from pool
    fill levels to real table statistics).

    Scale shape: ONE aggregation job computes everything — counts,
    nulls, min/max, AND the exact distinct counts (multiple
    count_distinct aggregates share a single Expand-based scan) — so
    the whole ANALYZE is one pass over the table; swap
    approx_count_distinct in at 100 TB (documented trade; exact keeps
    the gate deterministic).  All-NULL columns and empty frames return
    NULL min/max rather than crashing."""
    aggs = []
    for c in cols:
        aggs += [F.count(F.lit(1)).alias(f"{c}__n"),
                 F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nn"),
                 F.count_distinct(F.col(c)).alias(f"{c}__nd"),
                 F.min(F.col(c).cast("double")).alias(f"{c}__mn"),
                 F.max(F.col(c).cast("double")).alias(f"{c}__mx")]
    base = df.agg(*aggs).first()

    def _f(v):
        return None if v is None else float(v)

    rows = [(c, int(base[f"{c}__n"]), int(base[f"{c}__nn"] or 0),
             int(base[f"{c}__nd"]), _f(base[f"{c}__mn"]), _f(base[f"{c}__mx"]))
            for c in cols]
    return df.sparkSession.createDataFrame(
        rows, "column string, n_rows long, n_null long, n_distinct long, "
              "min double, max double")


def snapshot_diff(old: DataFrame, new: DataFrame, key: str,
                  cols: Sequence[str]) -> DataFrame:
    """Change-data-capture between two snapshots of a keyed table —
    the read-side dual of :func:`merge_into` (which APPLIES changes,
    this EXTRACTS them; Delta/Iceberg expose the same thing as CDF /
    changelog scans).  Classifies every key as ``insert`` (new only),
    ``delete`` (old only) or ``update`` (present in both with any
    compared column differing, null-safely); unchanged keys are
    dropped.  Compared columns are emitted as STRINGS with ``''`` for
    the absent side — no nullable numeric output, so the result
    survives the pandas fetch intact (NaN-coercion gotcha).

    Scale shape: ONE co-partitioned full-outer shuffle on the key —
    with both snapshots bucketed by the key
    (:func:`write_bucketed`), the sort-merge join runs with zero
    Exchange exactly like the MERGE path (same plan assertion).  The
    output is the CHANGE SET (bounded by churn, not table size), so
    downstream incremental consumers never rescan the snapshots.
    """
    # plain USING-join on the (non-null by keyed-table contract) key:
    # an eqNullSafe join key would hash on (coalesce(k), isnull(k)) and
    # the planner DISABLES bucket co-partitioning for it — presence is
    # carried by indicator columns instead
    o = old.select(F.col(key),
                   *[F.col(c).alias(f"_o_{c}") for c in cols],
                   F.lit(True).alias("_in_o"))
    n = new.select(F.col(key),
                   *[F.col(c).alias(f"_n_{c}") for c in cols],
                   F.lit(True).alias("_in_n"))
    in_old = F.coalesce(F.col("_in_o"), F.lit(False))
    in_new = F.coalesce(F.col("_in_n"), F.lit(False))
    changed = F.lit(False)
    for c in cols:
        changed = changed | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    change = (F.when(~in_old, F.lit("insert"))
              .when(~in_new, F.lit("delete"))
              .when(changed, F.lit("update")))
    sel = [F.col(key), change.alias("change")]
    for c in cols:
        sel.append(F.coalesce(F.col(f"_o_{c}").cast("string"), F.lit(""))
                   .alias(f"old_{c}"))
        sel.append(F.coalesce(F.col(f"_n_{c}").cast("string"), F.lit(""))
                   .alias(f"new_{c}"))
    return (o.join(n, key, "full_outer")
            .select(*sel).where(F.col("change").isNotNull()))


def merge_rollup(old, delta, keys, sums):
    """Incremental view maintenance for ADDITIVE rollups: merge a base
    rollup table with a delta rollup by key — full-outer join,
    null-safe integer sums — the operation that keeps a 100-TB
    cell/count rollup fresh without recomputation.  Additivity is the
    contract (counts, integer sums, any commutative monoid column);
    the q210 gate proves ``merge(base, delta) == direct recompute``
    value for value, the IVM identity everything incremental rests
    on.  Both inputs are already-collapsed rollups, so the join moves
    rollup-sized frames only."""
    from pyspark.sql import functions as F

    o = old.select(*keys, *[F.col(c).alias(f"_o_{c}") for c in sums])
    d = delta.select(*keys, *[F.col(c).alias(f"_d_{c}") for c in sums])
    j = o.join(d, list(keys), "full")
    return j.select(
        *keys,
        *[(F.coalesce(f"_o_{c}", F.lit(0)) + F.coalesce(f"_d_{c}", F.lit(0)))
          .cast("long").alias(c) for c in sums])


def compaction_plan(files: DataFrame, target_bytes: int,
                    part_col: str = "part", size_col: str = "bytes",
                    id_col: str = "file_id") -> DataFrame:
    """Small-file compaction planning: greedy next-fit-decreasing bin
    packing of a file manifest into rewrite groups of ~``target_bytes``
    each — the planning half of an Iceberg ``rewrite_data_files``
    maintenance pass (the reference rebuilds its whole shm segment on
    resize, mapinfo.cpp:55-95; a table format compacts incrementally,
    and WHICH files co-rewrite is this plan).

    Walk order is (size DESC, id ASC) per partition; a file lands in
    the current bin iff it fits (``fill + size <= target``), else it
    opens the next bin — so an oversized file always gets a bin of its
    own.  Returns one row per file: ``(part, file_id, bytes, bin)``
    with bins numbered 1..B in walk order.

    Scale shape: the input is a FILE MANIFEST (metadata, ~one row per
    data file — millions of rows at 100 TB, never data-sized), grouped
    by partition; the greedy fill recurrence is inherently sequential
    per partition, so it runs as one pandas pass per partition group
    (a metadata-sized loop over files, not a data loop — the data
    itself is never read)."""
    import numpy as np
    import pandas as pd

    tgt = int(target_bytes)

    def _plan(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values([size_col, id_col], ascending=[False, True],
                              kind="mergesort").reset_index(drop=True)
        sizes = pdf[size_col].to_numpy()
        bins = np.empty(len(sizes), dtype=np.int64)
        b, fill = 1, 0
        for i in range(len(sizes)):          # files-per-partition loop
            s = int(sizes[i])
            if fill > 0 and fill + s > tgt:
                b += 1
                fill = 0
            fill += s
            bins[i] = b
        return pdf.assign(bin=bins)[[part_col, id_col, size_col, "bin"]]

    schema = f"{part_col} string, {id_col} long, {size_col} long, bin long"
    return (files.select(part_col, id_col, size_col)
            .groupBy(part_col).applyInPandas(_plan, schema))
