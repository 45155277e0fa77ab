"""Core engine operators (DataFrame-first, shuffle-aware).

Each operator documents (a) the reference behavior it generalizes
(file:line into /root/reference) and (b) the physical plan shape it is
designed to produce at 100 TB scale: which side broadcasts, what gets
pushed down to the scan, where the (single) shuffle lands, and how skew
is handled.  Distance/PIP refinement predicates are ALWAYS post-join
filters, never join conditions — a UDF in the join condition forces a
broadcast-nested-loop join.

Plan-shape discipline (SURVEY.md §4):
  * candidate cells are literals or a broadcast side -> partition/row
    pruning on the cell column reaches the parquet scan;
  * filter-refine = cheap cell equi-join, then exact predicate;
  * hot cells (dense urban tiles) -> two-level salted aggregation and
    AQE skew-join splitting (enabled in session.py).
"""

from __future__ import annotations

import math
from functools import reduce
from typing import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StringType,
                               StructField, StructType)

from . import udfs
from .kernel import geohash_np as gh
from .kernel import tiles_np

DEFAULT_NCHARS = 5  # ~= the reference's 12-bit "500 m" grid (mapinfo.h:13)

# meters per degree of latitude on the reference sphere
_M_PER_DEG = math.pi * gh.EARTH_RADIUS_M / 180.0


# ---------------------------------------------------------------------------
# Cell assignment (the reference's implicit Encode-on-every-op, mapinfo.cpp:116)
# ---------------------------------------------------------------------------


# Geohash character k interleaves a 3-bit slice ``a`` of one axis with a
# 2-bit slice ``b`` of the other (a2 b1 a1 b0 a0); this alphabet is base32
# permuted so that its ``(a << 2 | b)``-th letter is that digit's.
_B32_3X2 = "".join(chr(gh._BASE32[(a & 1) | (a & 2) << 1 | (a & 4) << 2
                                  | (b & 1) << 1 | (b & 2) << 2])
                   for a in range(8) for b in range(4))


def with_cell(df: DataFrame, lat: str = "lat", lon: str = "lon",
              nchars: int = DEFAULT_NCHARS, out: str = "geohash") -> DataFrame:
    """Materialize the canonical geohash cell column (``gh.encode``, 1 to
    12 chars) as ONE native expression — no Python crossing.  Narrow
    map — no shuffle; at scale this column is also the table's
    partition key.

    NULL and NaN coordinates land in cell 0 of their axis, as in
    ``gh.encode``; +-inf and out-of-range values clamp to the end cells.
    Code bit p (from the top) is lon's when p is even, lat's when odd,
    so each character reads its two axis slices straight from the
    lattice indices (``udfs.lattice_ij``): 2 * nchars references to
    them, small enough to stay inside codegen even where a filter on
    the cell is pushed below this projection and inlines it."""
    lat_bits, lon_bits = gh._axis_bits(nchars)
    i, j = udfs.lattice_ij(F.col(lat), F.col(lon), lat_bits, lon_bits)
    axes, nbits = (j, i), (lon_bits, lat_bits)  # axis e holds code bits p % 2 == e

    def top_bits(e, t, n):  # bits t .. t+n-1 of axis e, counted from its top
        return F.shiftright(axes[e], nbits[e] - t - n).bitwiseAND(F.lit((1 << n) - 1))

    chars = []
    for k in range(nchars):
        p = 5 * k
        e = p % 2
        idx = F.shiftleft(top_bits(e, p // 2, 3), 2).bitwiseOR(top_bits(1 - e, (p + 1) // 2, 2))
        chars.append(F.lit(_B32_3X2).substr((idx + 1).cast("int"), F.lit(1)))
    return df.withColumn(out, F.concat(*chars))


def with_cell_ref(df: DataFrame, lat: str = "lat", lon: str = "lon",
                  nbits: int = gh.GEO_PRECISION_BITS, out: str = "geohash") -> DataFrame:
    """Reference-exact cell column (compat mode; geohash.cpp:148-215)."""
    return df.withColumn(out, udfs.geohash_ref_udf(nbits)(F.col(lat), F.col(lon)))


# ---------------------------------------------------------------------------
# Keyed state: upsert / delete (AddPos / DelPos, mapinfo.cpp:97-382)
# ---------------------------------------------------------------------------


def upsert_positions(state: DataFrame, updates: DataFrame, key: str = "msisdn",
                     ts: str = "ts") -> DataFrame:
    """Last-write-wins upsert keyed by ``key`` (AddPos semantics,
    mapinfo.cpp:151-215: newer row replaces older in place; the cell
    column is derived so 'posting migration' is implicit).

    Batch form: union + window dedup.  The one wide shuffle is the
    ``partitionBy(key)`` exchange — at scale the stored table is
    bucketed by ``key`` so MERGE INTO touches only matching buckets.
    Ties on ``ts`` break toward the update (src=1) then arbitrary-but-
    deterministic.
    """
    s = state.withColumn("_src", F.lit(0))
    u = updates.withColumn("_src", F.lit(1))
    unioned = s.unionByName(u, allowMissingColumns=False)
    w = Window.partitionBy(key).orderBy(F.col(ts).desc(), F.col("_src").desc())
    return (unioned.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_src"))


def upsert_positions_merge(state: DataFrame, updates: DataFrame, key: str = "msisdn",
                           ts: str = "ts") -> DataFrame:
    """MERGE-shaped last-write-wins upsert: full-outer join on the key,
    newer ``ts`` wins per column (both sides must be key-unique — run
    the window dedup on raw updates first if needed).

    This is the form bucketed storage accelerates: with state and
    updates co-bucketed (and sorted) by ``key``
    (:func:`geotile.table.write_bucketed`), the sort-merge join runs
    with ZERO Exchange — the window-dedup form cannot benefit because
    its Union breaks hash-partitioning (a key lands in two partitions).
    Verified by plan assertion in tests/test_pipeline.py.
    """
    s = state.alias("s")
    u = updates.alias("u")
    take_u = F.col(f"u.{ts}").isNotNull() & (
        F.col(f"s.{ts}").isNull() | (F.col(f"u.{ts}") >= F.col(f"s.{ts}")))
    cols = [c for c in state.columns if c != key]
    j = s.join(u, key, "full_outer")
    return j.select(key, *[
        F.when(take_u, F.col(f"u.{c}")).otherwise(F.col(f"s.{c}")).alias(c)
        for c in cols])


def delete_positions(state: DataFrame, keys: DataFrame, key: str = "msisdn") -> DataFrame:
    """DelPos (mapinfo.cpp:308-382) as a left anti-join.  ``keys`` is
    small in practice -> Catalyst broadcasts it; empty-cell GC is
    implicit (cells are derived)."""
    return state.join(F.broadcast(keys.select(key).distinct()), key, "left_anti")


# ---------------------------------------------------------------------------
# Radius search (FindPos, mapinfo.cpp:417-471): filter-refine spatial join
# ---------------------------------------------------------------------------


def radius_search_compat(positions: DataFrame, qlat: float, qlon: float,
                         radius_m: float, cell_col: str = "geohash",
                         lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Reference-exact radius query: candidate cells from the compat
    grid scan (0 or 1 cells, mapinfo.cpp:384-415), probe the cell
    'index' (here: a pushed-down ``IN`` literal filter on the cell
    partition column), refine with the reference distance formula
    (``dDistance >= dCurrDistance``, mapinfo.cpp:455).  Unordered,
    unlimited results — exactly FindPos."""
    cells = gh.candidate_cells_ref(qlat, qlon, radius_m)
    if not cells:
        return positions.where(F.lit(False))
    dist = udfs.distance_ref_udf().asNondeterministic()(
        F.lit(qlat), F.lit(qlon), F.col(lat), F.col(lon))
    pred = F.col(cell_col).isin(cells)
    pp = _prefix_pruning(positions, cells)
    if pp is not None:
        pred = pp & pred
    return (positions.where(pred)
            .withColumn("dist_m", dist)
            .where(F.col("dist_m") <= radius_m))


COVER_BROADCAST_MAX_ROWS = 500_000   # ~25 MB broadcast at ~50 B/row
COVER_DRIVER_MAX_ROWS = 5_000_000    # driver-side cover materialization cap
KNN_POI_MAX_RESULT_ROWS = 50_000     # knn_join -> knn_join_bulk delegation cap


def _is_local_relation(df: DataFrame) -> bool:
    """True when the frame's OPTIMIZED plan is a LocalRelation (driver
    literals after ConvertToLocalRelation folded any filter/projection)
    — for such frames collect() is a driver-side LocalTableScan that
    launches no Spark job, so guards can inspect them for free."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return plan.getClass().getSimpleName() == "LocalRelation"
    except Exception:
        return False


def _maybe_broadcast(cov: DataFrame, n_rows: int, what: str) -> DataFrame:
    """Broadcast-overflow guard for the small-by-contract cover/window
    sides: past COVER_BROADCAST_MAX_ROWS the hint is dropped (Catalyst
    plans a shuffle join instead of shipping an oversized broadcast);
    past COVER_DRIVER_MAX_ROWS the contract is so badly violated that
    continuing would OOM the driver — fail loudly with guidance."""
    if n_rows > COVER_DRIVER_MAX_ROWS:
        raise ValueError(
            f"{what}: {n_rows} cover rows exceeds COVER_DRIVER_MAX_ROWS="
            f"{COVER_DRIVER_MAX_ROWS}; the small-side contract is violated — "
            "shard the query/window set or use a distributed cover instead")
    return cov if n_rows > COVER_BROADCAST_MAX_ROWS else F.broadcast(cov)


def _fit_cover_bbox(min_lat: float, max_lat: float, min_lon: float, max_lon: float,
                    nchars: int, max_cells: int = 1024) -> tuple[int, list[str]]:
    """Cover the bbox at the finest precision <= nchars whose cover fits
    in ``max_cells`` — bounds candidate-set size regardless of query
    radius (big radii fall back to coarse cells + prefix join)."""
    for n in range(nchars, 0, -1):
        try:
            cells = gh.cover_bbox(min_lat, max_lat, min_lon, max_lon, n, max_cells)
            return n, [str(c) for c in cells]
        except ValueError:
            continue
    raise AssertionError("1-char cover (32 cells) always fits")


def _fit_cover_radius(qlat: float, qlon: float, radius_m: float,
                      nchars: int, max_cells: int = 1024) -> tuple[int, list[str]]:
    return _fit_cover_bbox(*gh.bbox_correct(qlat, qlon, radius_m), nchars, max_cells)


PREFIX_COL = "gh2"  # stored tables partition by the 2-char cell prefix


def _prefixes(df: DataFrame, cells: Sequence[str]) -> list[str] | None:
    """A cover's cell prefixes, if ``df`` has the prefix column and no cell is shorter."""
    if PREFIX_COL not in df.columns or not cells or min(len(c) for c in cells) < 2:
        return None
    return sorted({c[:2] for c in cells})


def _prefix_pruning(df: DataFrame, cells: Sequence[str]) -> Column | None:
    """Partition-pruning predicate on the table's cell-prefix partition
    column (PartitionFilters at the scan), when applicable."""
    prefixes = _prefixes(df, cells)
    return None if prefixes is None else F.col(PREFIX_COL).isin(prefixes)


def radius_search(positions: DataFrame, qlat: float, qlon: float, radius_m: float,
                  nchars: int = DEFAULT_NCHARS, cell_col: str = "geohash",
                  lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Production radius query: TRUE covering cell set (literal IN ->
    partition/row-group pruning at the scan) + haversine refine.  One
    narrow scan of the pruned cell partitions, zero shuffles.  Large
    radii automatically coarsen the cover precision (prefix IN on the
    cell column) so the literal list stays small.  Built as SQL text: the
    Column API's plan (haversine_col, isin) for a few py4j calls, not ~40."""
    n, cells = _fit_cover_radius(qlat, qlon, radius_m, nchars)

    def _in(col: str, values: Sequence[str]) -> str:
        return f"{col} IN ({', '.join(repr(str(v)) for v in values)})"

    pred = _in(f"`{cell_col}`" if n == nchars else f"substring(`{cell_col}`, 1, {n})", cells)
    prefixes = _prefixes(positions, cells)
    if prefixes is not None:
        pred = f"{_in(f'`{PREFIX_COL}`', prefixes)} AND {pred}"
    la1, lo1, la2, lo2 = (f"radians({c})" for c in (
        f"{float(qlat)!r}D", f"{float(qlon)!r}D", f"`{lat}`", f"`{lon}`"))
    # udfs.haversine_col, term for term
    a = (f"power(sin(({la2} - {la1}) / 2), 2) + cos({la1}) * cos({la2}) "
         f"* power(sin(({lo2} - {lo1}) / 2), 2)")
    dist = f"{2.0 * gh.EARTH_RADIUS_M!r}D * asin(sqrt(greatest(0.0D, least(1.0D, {a}))))"
    return (positions.withColumn("dist_m", F.expr(dist))
            .where(f"{pred} AND dist_m <= {float(radius_m)!r}D"))


def _radius_cover_join(positions: DataFrame, queries, nchars: int = DEFAULT_NCHARS,
                       cell_col: str = "geohash", lat: str = "lat", lon: str = "lon",
                       qid: str = "query_id", qlat: str = "qlat", qlon: str = "qlon",
                       radius: str = "radius_m") -> DataFrame:
    """Cover/broadcast stage shared by radius_join (refine filter) and
    radius_cover_selectivity (refine audit): returns the CANDIDATE
    rows with ``dist_m`` attached, unfiltered.

    Many-query radius join.  Queries are the SMALL side by contract
    (POI sets, dims) — their covers are computed driver-side, grouped by
    the (adaptive) cover precision, and broadcast; each precision group
    equi-joins the big positions table on the cell prefix; exact
    haversine refine (a NATIVE expression — no Python in the hot path)
    follows the join.  Positions are never shuffled, and covers stay
    <= ~1k cells per query regardless of radius.

    ``queries``: either a DataFrame with (qid, qlat, qlon, radius)
    columns, or — the zero-round-trip path for driver-side-constant
    query sets — a sequence of (query_id, qlat, qlon, radius_m) tuples.
    The query attributes ride inside the broadcast cover rows, so the
    whole join is ONE broadcast hash join + codegen filter."""
    spark = positions.sparkSession
    if isinstance(queries, DataFrame):
        qrows = [(int(r[qid]), float(r[qlat]), float(r[qlon]), float(r[radius]))
                 for r in queries.select(qid, qlat, qlon, radius).collect()]
    else:
        qrows = [(int(a), float(b), float(c), float(d)) for a, b, c, d in queries]
    by_n: dict[int, list[tuple]] = {}
    for q_id, q_la, q_lo, q_r in qrows:
        n, cells = _fit_cover_radius(q_la, q_lo, q_r, nchars)
        by_n.setdefault(n, []).extend((q_id, c, q_la, q_lo, q_r) for c in cells)
    parts = []
    for n, rows in by_n.items():
        # pandas -> Arrow conversion path: driver-side covers can reach
        # ~1k cells x many queries; tuple-list conversion is slow
        cov = spark.createDataFrame(
            pd.DataFrame(rows, columns=[qid, "cell", qlat, qlon, radius]),
            f"{qid} long, cell string, {qlat} double, {qlon} double, {radius} double")
        key = F.col(cell_col) if n == nchars else F.substring(F.col(cell_col), 1, n)
        side = positions
        pp = _prefix_pruning(positions, [r[1] for r in rows])
        if pp is not None:
            side = side.where(pp)
        parts.append(side.join(_maybe_broadcast(cov, len(rows), "radius_join cover"),
                                key == cov["cell"], "inner").drop("cell"))
    if not parts:
        return (positions.where(F.lit(False))
                .withColumn(qid, F.lit(None).cast("long"))
                .withColumn(qlat, F.lit(None).cast("double"))
                .withColumn(qlon, F.lit(None).cast("double"))
                .withColumn(radius, F.lit(None).cast("double"))
                .withColumn("dist_m", F.lit(None).cast("double")))
    joined = reduce(DataFrame.unionByName, parts)
    dist = udfs.haversine_col(F.col(qlat), F.col(qlon), F.col(lat), F.col(lon))
    return joined.withColumn("dist_m", dist)


def radius_join(positions: DataFrame, queries, nchars: int = DEFAULT_NCHARS,
                cell_col: str = "geohash", lat: str = "lat", lon: str = "lon",
                qid: str = "query_id", qlat: str = "qlat", qlon: str = "qlon",
                radius: str = "radius_m") -> DataFrame:
    """Many-query radius join — see :func:`_radius_cover_join` for the
    cover/broadcast plan; this applies the exact refine filter."""
    cand = _radius_cover_join(positions, queries, nchars, cell_col, lat,
                              lon, qid, qlat, qlon, radius)
    return cand.where(F.col("dist_m") <= F.col(radius))


def radius_cover_selectivity(positions: DataFrame, queries,
                             nchars: int = DEFAULT_NCHARS,
                             cell_col: str = "geohash", lat: str = "lat",
                             lon: str = "lon") -> DataFrame:
    """Cover-efficiency audit: per radius query the CANDIDATE count
    (points inside the adaptive cover cells) next to the REFINED count
    (points actually within the radius) and the exact micro
    selectivity — the measured "how tight is the cover" number every
    cover-join cost claim in this engine rests on (q21/q196 assume
    it; this GATES it).  Identical driver-side covers and broadcast
    join as :func:`radius_join`, with the refine as a conditional sum
    instead of a filter — so the audit measures exactly the plan the
    production join runs.  Returns ``(query_id, n_candidates,
    n_refined, sel_micro)``."""
    cand = _radius_cover_join(positions, queries, nchars, cell_col,
                              lat, lon)
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    return (cand.groupBy("query_id")
            .agg(F.count("*").alias("n_candidates"),
                 F.sum(F.when(F.col("dist_m") <= F.col("radius_m"),
                              one).otherwise(zero)).alias("n_refined"))
            .withColumn("sel_micro",
                        F.expr("n_refined * 1000000 DIV n_candidates")))


# ---------------------------------------------------------------------------
# kNN join (north_rule extension; absent from the reference — SURVEY §2.4)
# ---------------------------------------------------------------------------


# latitude split points for the lon-side guarantee, as fractions of the
# searched disk's lat half-height (see _ring_guarantee_m)
_GUARANTEE_T_FRACS = (1.0, 0.5, 0.25, 0.125, 0.0625)


def _ring_guarantee_m(nchars: int, abs_lat_deg: float, ring: int) -> float:
    """Sound lower bound (m) on the distance from a query at
    ``abs_lat_deg`` to ANY point outside the searched Chebyshev disk of
    ``ring`` cells.  An outside point differs from the query cell by
    > ring rows (lat) or > ring columns (lon):

    * lat side: |dlat| > ring * cell_height -> great-circle distance
      >= R * dlat_rad (ring * h_m) — EXACT, no latitude term;
    * lon side: |dlon| > ring * cell_width.  For ANY split t >= 0:
      either the point is > t degrees of latitude away (d >= R * t_rad)
      or its |lat| <= |qlat| + t, where the chord bound
      d >= 2 R sin(dlon_rad / 2) * cos(|qlat| + t) applies — so
      min(R t, chord * cos(|qlat|+t)) is a valid bound for EVERY t, and
      the max over a small t-grid is both sound and tight (evaluating
      only at t = disk height collapses to 0 near the poles, which is
      what made the naive reach-latitude fix stall);
    * once 2*ring+1 >= n_lon the annulus covers the full circle and
      only the lat bound applies (a true polar cap has no lon bound —
      antipodal-in-lon points can be arbitrarily close there).
    """
    lat_bits, lon_bits = gh._axis_bits(nchars)
    nlon = 1 << lon_bits
    lat_cell_deg = 180.0 / (1 << lat_bits)
    lat_bound = ring * lat_cell_deg * _M_PER_DEG
    if 2 * ring + 1 >= nlon:
        return lat_bound
    half = min(ring * (2.0 * math.pi / nlon) / 2.0, math.pi / 2.0)
    chord = 2.0 * gh.EARTH_RADIUS_M * math.sin(half)
    lon_bound = 0.0
    for frac in _GUARANTEE_T_FRACS:
        t_deg = ring * lat_cell_deg * frac
        b = min(t_deg * _M_PER_DEG,
                chord * max(math.cos(math.radians(min(abs_lat_deg + t_deg, 90.0))), 0.0))
        lon_bound = max(lon_bound, b)
    return min(lat_bound, lon_bound)


def knn_join(positions: DataFrame, queries: Sequence[tuple], k: int,
             nchars: int | None = None, cell_nchars: int = DEFAULT_NCHARS,
             cell_col: str = "geohash", lat: str = "lat", lon: str = "lon",
             id_col: str | None = None, start_ring: int = 1,
             max_ring: int = 512, n_total: int | None = None) -> DataFrame:
    """k-nearest-neighbors of each query point via expanding cell rings.

    ``queries``: sequence of (query_id, qlat, qlon).  Algorithm (the
    scale path — candidates stay a pruned cell equi-join against the
    cell-partitioned positions table):

      1. pick the search precision from data density (unless ``nchars``
         is forced): the finest cell size whose ring-1 disk is expected
         to hold >= ~4k points under a uniform prior — dense tables
         search fine cells, sparse tables immediately search coarse
         ones instead of doubling through dozens of empty rings;
      2. per query, candidates = points in the Chebyshev disk of cells
         of radius ``ring`` around the query cell (a literal ``IN`` on
         the cell prefix -> parquet pruning, then a broadcast join to
         tag query ids);
      3. a query is RESOLVED when it has >= k candidates AND its k-th
         candidate distance <= ring * min_cell_extent (no closer point
         can live outside the disk);
      4. unresolved queries double ``ring`` and repeat (only the
         unresolved subset re-joins);
      5. final top-k per query by (distance, point id) — deterministic
         under ties.

    The reference has no top-k at all (FindPos returns unordered,
    mapinfo.cpp:455-458); this is the north_rule's kNN operator.

    The result is contractually tiny (k rows per query, POI-sized query
    sets), so each round's top-k is COLLECTED in the single action that
    also yields the resolution stats — no persist/unpersist cycle and
    exactly ONE Spark job per ring round.  Query sets too large for
    that contract (k * |queries| > ~50k result rows) route through
    :func:`knn_join_bulk`'s fully distributed annulus machinery, which
    returns the identical schema.
    """
    spark = positions.sparkSession
    queries = [(int(q), float(a), float(b)) for q, a, b in queries]
    if k * len(queries) > KNN_POI_MAX_RESULT_ROWS:
        qdf = spark.createDataFrame(
            pd.DataFrame(queries, columns=["query_id", "qlat", "qlon"]),
            "query_id long, qlat double, qlon double")
        return knn_join_bulk(positions, qdf, k, nchars=nchars,
                             cell_nchars=cell_nchars, cell_col=cell_col,
                             lat=lat, lon=lon, id_col=id_col,
                             start_ring=start_ring, max_ring=max_ring,
                             n_total=n_total)
    if nchars is None:
        if n_total is None:
            n_total = positions.count()
        # finest n with (2r+1)^2 * n_total / 2^(5n) >= 4k at ring=start
        budget = max((2 * start_ring + 1) ** 2 * max(n_total, 1) / max(4 * k, 1), 2.0)
        nchars = max(1, min(cell_nchars, int(math.log2(budget) // 5)))

    unresolved = queries
    ring = start_ring
    out_rows: list = []
    out_schema = None
    order_cols = [F.col("dist_m")] + ([F.col(id_col)] if id_col else [F.col(lat), F.col(lon)])
    w = Window.partitionBy("query_id").orderBy(*order_cols)
    key = (F.col(cell_col) if nchars == cell_nchars
           else F.substring(F.col(cell_col), 1, nchars))

    while unresolved and ring <= max_ring:
        rows = []
        for q_id, q_lat, q_lon in unresolved:
            i_lat, i_lon, _ = gh.decode_ij(gh.encode(q_lat, q_lon, nchars))
            cells = gh.disk(int(i_lat[0]), int(i_lon[0]), nchars, ring)
            # dedup: at coarse precisions a wide disk wraps the lon
            # circle and re-hits cells; a duplicated (query, cell) row
            # would duplicate candidates and corrupt the top-k ranks
            rows.extend((q_id, q_lat, q_lon, c)
                        for c in dict.fromkeys(map(str, cells)))
        cand_cells = spark.createDataFrame(
            pd.DataFrame(rows, columns=["query_id", "qlat", "qlon", "cell"]),
            "query_id long, qlat double, qlon double, cell string")
        all_cells = sorted({r[3] for r in rows})
        # literal IN prefilter reaches the parquet scan; skip it when the
        # list would bloat the plan (the broadcast join still filters)
        pruned = positions.where(key.isin(all_cells)) if len(all_cells) <= 4096 else positions
        pp = _prefix_pruning(positions, all_cells)
        if pp is not None:
            pruned = pruned.where(pp)
        cand = (pruned.join(F.broadcast(cand_cells), key == cand_cells["cell"], "inner")
                .withColumn("dist_m", udfs.haversine_col(
                    F.col("qlat"), F.col("qlon"), F.col(lat), F.col(lon)))
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= k)
                .drop("cell", "_rn"))
        if out_schema is None:
            out_schema = cand.schema
        crows = cand.collect()  # the round's only action: rows AND stats
        stats: dict[int, tuple[int, float]] = {}
        for r in crows:
            n, kth = stats.get(r["query_id"], (0, 0.0))
            # null dist_m (corrupt row: null lat/lon) counts toward n but
            # never becomes the k-th bound — matches the old F.max agg,
            # which skipped nulls
            d = r["dist_m"]
            stats[r["query_id"]] = (n + 1, kth if d is None else max(kth, d))
        still = []
        done: set[int] = set()
        for q_id, q_lat, q_lon in unresolved:
            n, kth = stats.get(q_id, (0, None))
            # guarantee check: k-th distance within the disk's safe radius
            if n >= k and kth is not None and kth <= _ring_guarantee_m(
                    nchars, abs(q_lat), ring):
                done.add(q_id)
            else:
                still.append((q_id, q_lat, q_lon))
        if still and ring >= max_ring:
            # out of rings: accept best-effort for the remainder
            done |= {q[0] for q in still}
            still = []
        out_rows.extend(r for r in crows if r["query_id"] in done)
        unresolved = still
        ring *= 2

    if out_schema is None:
        return spark.createDataFrame([], positions.schema.add("query_id", LongType())
                                     .add("dist_m", DoubleType()))
    return spark.createDataFrame(out_rows, out_schema)


def knn_join_bulk(positions: DataFrame, queries: DataFrame, k: int,
                  nchars: int | None = None, cell_nchars: int = DEFAULT_NCHARS,
                  cell_col: str = "geohash", lat: str = "lat", lon: str = "lon",
                  qid: str = "query_id", qlat: str = "qlat", qlon: str = "qlon",
                  id_col: str | None = None, start_ring: int = 1,
                  max_ring: int = 64, n_total: int | None = None) -> DataFrame:
    """kNN join for LARGE query sets — the fully distributed
    formulation (cf. the driver-side-cover :func:`knn_join`, which is
    the right shape only when queries are a small POI set).

    Per round: each unresolved query EXPLODES into the INCREMENTAL ring
    annulus only (cells searched in earlier rounds are never re-joined
    — annulus_cells_udf dedups exactly, including lon wraparound), the
    new band equi-joins the PRE-PARTITIONED positions table (positions
    are hash-partitioned on the cell key ONCE up front and cached, so
    per-round joins exchange only the small annulus side; on a cluster
    where the table is already bucketed/partitioned by cell prefix the
    up-front shuffle is a no-op), exact haversine refine (native
    expression), and the new candidates union with the carried-forward
    top-k before a windowed re-rank.  A query is resolved when it has
    >= k candidates AND its k-th distance is within the searched disk's
    sound guarantee radius (see :func:`_ring_guarantee_m`: exact lat
    bound + chord lon bound priced at the disk's max REACHABLE |lat|)
    — both as COLUMN expressions, so the resolution test is distributed
    too.  The next ring is not blind doubling: the k-th candidate
    distance already observed implies the ring that guarantees
    resolution (ceil(kth / lat_cell_m)), so the driver JUMPS there
    (>= doubling) and the search almost always finishes in 2-3 rounds.
    One driver action per round (count unresolved + max needed ring).
    This is the standard parallel kNN-join design (hash by cell,
    candidates from expanding neighborhoods, verify by distance bound)
    from the MapReduce kNN-join literature.
    """
    from . import cache

    spark = positions.sparkSession
    if nchars is None:
        if n_total is None:
            n_total = positions.count()
        budget = max((2 * start_ring + 1) ** 2 * max(n_total, 1) / max(4 * k, 1), 2.0)
        nchars = max(1, min(cell_nchars, int(math.log2(budget) // 5)))
    key = (F.col(cell_col) if nchars == cell_nchars
           else F.substring(F.col(cell_col), 1, nchars))
    order_cols = [F.col("dist_m")] + ([F.col(id_col)] if id_col else [F.col(lat), F.col(lon)])
    w = Window.partitionBy(qid).orderBy(*order_cols)
    lat_bits, lon_bits = gh._axis_bits(nchars)
    nlon = 1 << lon_bits
    lat_cell_deg = 180.0 / (1 << lat_bits)
    lat_cell_m = lat_cell_deg * _M_PER_DEG
    dist = udfs.haversine_col(F.col(qlat), F.col(qlon), F.col(lat), F.col(lon))

    # ONE positions shuffle for the whole search: hash-partition on the
    # materialized cell key and cache; every round's join then reuses
    # this partitioning and exchanges only the annulus side
    pos2 = positions.withColumn("_pcell", key).repartition(F.col("_pcell")).persist()
    unresolved = queries.select(qid, qlat, qlon)
    resolved_parts: list[DataFrame] = []
    round_frames: list[DataFrame] = [pos2]
    carry: DataFrame | None = None  # unresolved queries' current top-k (flagged)
    flags = ["_n", "_kth", "_ok"]
    w_part = Window.partitionBy(qid)
    prev_ring = -1
    ring = start_ring
    while True:
        # asNondeterministic: bars projection collapse from inlining the
        # UDF into the explode projection and evaluating it twice per
        # round (output is deterministic; flag is an optimizer barrier)
        ann = udfs.annulus_cells_udf(nchars, prev_ring, ring).asNondeterministic()
        cand_cells = unresolved.withColumn(
            "cell", F.explode(ann(F.col(qlat), F.col(qlon))))
        new_cand = (pos2.join(cand_cells, F.col("_pcell") == cand_cells["cell"], "inner")
                    .drop("cell", "_pcell")
                    .withColumn("dist_m", dist))
        allc = new_cand if carry is None else carry.drop(*flags).unionByName(new_cand)
        # distributed form of _ring_guarantee_m (same math; the only
        # per-query term is cos(|qlat| + t) as a native column, with the
        # t-grid max keeping the bound tight at high latitudes)
        lat_bound = ring * lat_cell_m
        if 2 * ring + 1 >= nlon:
            g_col = F.lit(lat_bound)
        else:
            half = min(ring * (2.0 * math.pi / nlon) / 2.0, math.pi / 2.0)
            chord = 2.0 * gh.EARTH_RADIUS_M * math.sin(half)
            bounds = []
            for frac in _GUARANTEE_T_FRACS:
                t_deg = ring * lat_cell_deg * frac
                reach = F.least(F.abs(F.col(qlat)) + F.lit(t_deg), F.lit(90.0))
                bounds.append(F.least(
                    F.lit(t_deg * _M_PER_DEG),
                    F.lit(chord) * F.greatest(F.cos(F.radians(reach)), F.lit(0.0))))
            g_col = F.least(F.lit(lat_bound), F.greatest(*bounds))
        # rank AND resolution-test in the same qid-partitioned pass (no
        # separate groupBy / semi / anti joins per round)
        topk = (allc.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= k)
                .drop("_rn")
                .withColumn("_n", F.count("*").over(w_part))
                .withColumn("_kth", F.max("dist_m").over(w_part))
                .withColumn("_ok", (F.col("_n") >= k) & (F.col("_kth") <= g_col))
                .persist())
        round_frames.append(topk)
        resolved_parts.append(topk.where(F.col("_ok")).drop(*flags))
        carry = topk.where(~F.col("_ok"))
        unresolved = unresolved.join(topk.where(F.col("_ok")).select(qid),
                                     qid, "left_anti")
        # ONE driver action: unresolved count + the ring implied by the
        # worst observed k-th distance (null for zero-candidate queries)
        info = (unresolved.join(carry.select(qid, "_kth").dropDuplicates([qid]),
                                qid, "left")
                .agg(F.count("*").alias("n"),
                     F.max(F.ceil(F.col("_kth") / F.lit(lat_cell_m))).alias("need"))
                .first())
        if int(info["n"]) == 0:
            break
        if ring >= max_ring:
            # out of rings: best-effort for the remainder
            resolved_parts.append(carry.drop(*flags))
            break
        need = int(info["need"]) if info["need"] is not None else 2 * ring
        prev_ring = ring
        ring = min(max_ring, max(2 * ring, need))
    out = reduce(DataFrame.unionByName, resolved_parts)
    # materialize once, then free the per-round caches (they would
    # otherwise accumulate for the life of the session); the small
    # result stays cached and is the caller's to release
    out = out.persist()
    out.count()
    for f in round_frames:
        f.unpersist()
    return cache.track(out, [out])


# ---------------------------------------------------------------------------
# Point-in-polygon join (north_rule extension)
# ---------------------------------------------------------------------------


def pip_join(points: DataFrame, polygons: DataFrame, nchars: int = DEFAULT_NCHARS,
             cell_col: str = "geohash", lat: str = "lat", lon: str = "lon",
             poly_id: str = "poly_id", poly_lat: str = "poly_lat",
             poly_lon: str = "poly_lon") -> DataFrame:
    """Point-in-polygon as cover + equi-join + exact ray-cast refine.

    ``polygons``: (poly_id, poly_lat: array<double>, poly_lon:
    array<double>) — the small dim side by contract.  Bbox covers are
    computed driver-side at adaptive precision (bounded cell count even
    for continent-sized polygons), grouped by precision, broadcast, and
    prefix-equi-joined against the points' cell column (pruned scan, no
    shuffle of the big side); the exact ray-cast refine is a vectorized
    pandas UDF grouped per polygon inside each Arrow batch.
    """
    spark = points.sparkSession
    prows = polygons.select(poly_id, poly_lat, poly_lon).collect()
    by_n: dict[int, list[tuple[int, str]]] = {}
    for r in prows:
        plat = np.asarray(r[poly_lat], dtype=np.float64)
        plon = np.asarray(r[poly_lon], dtype=np.float64)
        n, cells = _fit_cover_bbox(plat.min(), plat.max(), plon.min(), plon.max(), nchars)
        by_n.setdefault(n, []).extend((int(r[poly_id]), c) for c in cells)
    parts = []
    for n, rows in by_n.items():
        cov = spark.createDataFrame(
            pd.DataFrame(rows, columns=[poly_id, "cell"]), f"{poly_id} long, cell string")
        key = F.col(cell_col) if n == nchars else F.substring(F.col(cell_col), 1, n)
        side = points
        pp = _prefix_pruning(points, [r[1] for r in rows])
        if pp is not None:
            side = side.where(pp)
        parts.append(side.join(_maybe_broadcast(cov, len(rows), "pip_join cover"), key == cov["cell"], "inner").drop("cell"))
    if not parts:
        return points.where(F.lit(False)).withColumn(poly_id, F.lit(None).cast("long"))
    j = reduce(DataFrame.unionByName, parts)

    # polygon vertices travel in the UDF CLOSURE keyed by poly_id (the
    # dim side is small by contract) — the join never ships vertex
    # arrays per row, and the refine groups rows by poly_id with
    # np.unique: one vectorized ray-cast per polygon per batch, no
    # per-row Python.
    verts = {int(r[poly_id]): (np.asarray(r[poly_lat], dtype=np.float64),
                               np.asarray(r[poly_lon], dtype=np.float64))
             for r in prows}

    @F.pandas_udf("boolean")
    def _pip(pid: pd.Series, plat: pd.Series, plon: pd.Series) -> pd.Series:
        out = np.zeros(len(plat), dtype=bool)
        lat_np = plat.to_numpy(np.float64)
        lon_np = plon.to_numpy(np.float64)
        pid_np = pid.to_numpy(np.int64)
        for p_val in np.unique(pid_np):
            idxs = np.nonzero(pid_np == p_val)[0]
            v_la, v_lo = verts[int(p_val)]
            out[idxs] = gh.point_in_polygon(lat_np[idxs], lon_np[idxs], v_la, v_lo)
        return pd.Series(out)

    return (j.withColumn("_inside", _pip.asNondeterministic()(
                F.col(poly_id), F.col(lat), F.col(lon)))
            .where(F.col("_inside"))
            .drop("_inside"))


def polygon_measures(polygons: DataFrame, poly_id: str = "poly_id",
                     poly_lat: str = "poly_lat",
                     poly_lon: str = "poly_lon") -> DataFrame:
    """Per-polygon area and centroid — the polygon-MEASURE dual of
    pip_join's polygon PREDICATE.  Returns ``(poly_id, n_vertices,
    area_ha, clat_micro, clon_micro)``.

    Semantics (documented, deliberately projection-explicit): area is
    the planar shoelace in the SINUSOIDAL equal-area projection
    (x = R*lon_rad*cos(lat_rad), y = R*lat_rad) with straight planar
    edges — exact for the projection, a good spherical approximation
    for region-scale polygons away from the poles; centroid is the
    vertex mean.  Each half-cross-product edge term is floored to
    integer HECTARES before the fold-sum, so the result is exact
    integer arithmetic whose only cross-engine exposure is a libm
    cos() last-ulp landing within ~0.005 m^2 of a 10^4 m^2 boundary
    (the q113 bearing-sectors discipline; the q128 oracle replays the
    identical op sequence from string-cast literals).

    Scale shape: pure map-only native column expressions over the
    vertex ARRAYS — no UDF, no shuffle, no collect; a table of a
    billion polygons streams through whole-stage codegen.  The fold is
    ``aggregate`` over ``transform``, fixed left-associative order."""
    rad = F.lit(_RAD_PER_DEG)
    r_m = F.lit(gh.EARTH_RADIUS_M)
    la, lo = F.col(poly_lat), F.col(poly_lon)
    n = F.size(la)

    def _x(i):  # i is a 0-based Column; element_at is 1-based
        return (F.element_at(lo, i + 1) * rad) * r_m \
            * F.cos(F.element_at(la, i + 1) * rad)

    def _y(i):
        return (F.element_at(la, i + 1) * rad) * r_m

    terms = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.floor(((_x(i) * _y((i + 1) % n))
                           - (_x((i + 1) % n) * _y(i)))
                          * F.lit(5e-05)).cast("long"))
    area = F.abs(F.aggregate(terms, F.lit(0).cast("long"),
                             lambda a, t: a + t))
    mean_la = F.aggregate(la, F.lit(0.0), lambda a, e: a + e) \
        / n.cast("double")
    mean_lo = F.aggregate(lo, F.lit(0.0), lambda a, e: a + e) \
        / n.cast("double")
    return polygons.select(
        poly_id,
        n.cast("int").alias("n_vertices"),
        area.alias("area_ha"),
        F.floor(mean_la * F.lit(1000000.0)).cast("long").alias("clat_micro"),
        F.floor(mean_lo * F.lit(1000000.0)).cast("long").alias("clon_micro"))


_RAD_PER_DEG = math.pi / 180.0


def _unit3(lat_c, lon_c):
    """Unit 3-vector of a (lat, lon) degree pair — native expressions."""
    la = lat_c * F.lit(_RAD_PER_DEG)
    lo = lon_c * F.lit(_RAD_PER_DEG)
    return (F.cos(la) * F.cos(lo), F.cos(la) * F.sin(lo), F.sin(la))


def _greatcircle_seg_dist(plat, plon, alat, alon, blat, blon):
    """Exact spherical point-to-arc distance as a native column
    expression: cross-track distance R*|asin(P.n / |n|)| against the
    segment's great-circle normal n = A x B when the perpendicular foot
    C (P projected into the circle plane) lies within the arc (both
    triple-product sign tests (AxC).n >= 0 and (CxB).n >= 0), else the
    nearer endpoint's great-circle distance R*atan2(|P x E|, P.E).
    Degenerate segments (duplicate or antipodal endpoints, |n| = 0)
    fall to the endpoint distance; divisions are CASE-guarded so ANSI
    mode cannot raise on them.  The q60 oracle replays this exact
    double arithmetic in SQL."""
    px, py, pz = _unit3(plat, plon)
    ax, ay, az = _unit3(alat, alon)
    bx, by, bz = _unit3(blat, blon)
    nx = ay * bz - az * by
    ny = az * bx - ax * bz
    nz = ax * by - ay * bx
    nn2 = nx * nx + ny * ny + nz * nz
    safe_nn2 = F.when(nn2 > 0.0, nn2).otherwise(F.lit(1.0))
    pn = px * nx + py * ny + pz * nz
    # perpendicular foot, unnormalized — only its direction feeds signs
    k = pn / safe_nn2
    cx = px - k * nx
    cy = py - k * ny
    cz = pz - k * nz
    s1 = ((ay * cz - az * cy) * nx + (az * cx - ax * cz) * ny
          + (ax * cy - ay * cx) * nz)
    s2 = ((cy * bz - cz * by) * nx + (cz * bx - cx * bz) * ny
          + (cx * by - cy * bx) * nz)
    r = F.lit(gh.EARTH_RADIUS_M)
    ct = F.abs(F.asin(F.least(F.greatest(
        pn / F.sqrt(safe_nn2), F.lit(-1.0)), F.lit(1.0)))) * r

    def _gc(ex, ey, ez):
        crx = py * ez - pz * ey
        cry = pz * ex - px * ez
        crz = px * ey - py * ex
        return F.atan2(F.sqrt(crx * crx + cry * cry + crz * crz),
                       px * ex + py * ey + pz * ez) * r

    d_end = F.least(_gc(ax, ay, az), _gc(bx, by, bz))
    return F.when((nn2 > 0.0) & (s1 >= 0.0) & (s2 >= 0.0),
                  ct).otherwise(d_end)


def polyline_proximity_join(points: DataFrame, lines: DataFrame, radius_m: float,
                            nchars: int = DEFAULT_NCHARS, cell_col: str = "geohash",
                            lat: str = "lat", lon: str = "lon",
                            line_id: str = "line_id", line_lat: str = "line_lat",
                            line_lon: str = "line_lon",
                            id_cols: Sequence[str] | None = None,
                            model: str = "equirect") -> DataFrame:
    """Route-proximity join: points within ``radius_m`` of a POLYLINE
    (per-segment point-to-segment distance, minimized over segments).

    ``lines``: (line_id, line_lat: array<double>, line_lon:
    array<double>) — the small dim side by contract (routes, road
    segments).  Same filter-refine shape as the other spatial joins:
    each SEGMENT's radius-expanded bbox covers to cells driver-side
    (adaptive precision), the segment endpoints ride inside the
    broadcast cover rows, the big points table prefix-equi-joins on its
    cell column (pruned scan, zero shuffles), and the exact refine is a
    NATIVE column expression.

    Distance model (``model``):

    * ``"equirect"`` (default): local equirectangular projection
      anchored at each segment's midpoint latitude (exact same double
      arithmetic in the DuckDB oracle, so the gate compares identical
      formulas).  Error vs the geodesic answer is dominated by the
      cos(lat) anchor drift over the point-to-segment span: relative
      error ~ tan(lat) * (d / R_earth) on the east-west component —
      < 0.1% for d <= 20 km, and at the 200 km radius q51 uses, up to
      ~3% at 45 deg latitude (worst case: purely E-W offsets).  Near
      the radius boundary a point's INCLUSION can therefore differ from
      the great-circle answer by up to that margin; the operator itself
      is deterministic and self-consistent.
    * ``"greatcircle"``: exact spherical point-to-arc distance —
      cross-track distance R*|asin(P.n_hat)| when the foot of the
      perpendicular lies within the segment's arc (sign tests against
      the great-circle normal n = A x B), else the nearer endpoint's
      great-circle distance R*atan2(|P x E|, P.E).  All native column
      expressions (unit 3-vectors from lat/lon, cross/dot products) —
      no Python, and latitude-independent accuracy at any radius.

    Either way the refine is a NATIVE column expression and the
    per-segment cover is valid: the bbox margins (radius/M_PER_DEG
    degrees of latitude; longitude scaled by the most poleward
    cos(lat)) bound the GREAT-CIRCLE reach of the radius, which also
    bounds the equirect reach.  Returns one row per (line, point) with
    ``dist_m`` = the min distance over that line's segments.
    """
    if model not in ("equirect", "greatcircle"):
        raise ValueError(f"unknown distance model {model!r}")
    j = _segment_candidates(points, lines, radius_m, nchars, cell_col,
                            line_id, line_lat, line_lon)
    if j is None:
        # same projected schema as the normal path: (line_id, *pt_cols,
        # dist_m) — an all-point-columns empty frame would break
        # unionByName in downstream consumers when id_cols is given
        empty_pt_cols = list(id_cols) if id_cols else list(points.columns)
        return (points.where(F.lit(False))
                .withColumn(line_id, F.lit(None).cast("long"))
                .withColumn("dist_m", F.lit(None).cast("double"))
                .select(line_id, *empty_pt_cols, "dist_m"))
    if model == "equirect":
        dist = _equirect_seg_dist(lat, lon)
    else:
        dist = _greatcircle_seg_dist(
            F.col(lat), F.col(lon), F.col("a_lat"), F.col("a_lon"),
            F.col("b_lat"), F.col("b_lon"))
    # min over segments per (line, point): group on the caller's point
    # key when given (narrow shuffle rows), else on all point columns
    pt_cols = list(id_cols) if id_cols else [c for c in points.columns]
    return (j.withColumn("_d", dist)
            .groupBy(line_id, *pt_cols)
            .agg(F.min("_d").alias("dist_m"))
            .where(F.col("dist_m") <= radius_m))


def _equirect_seg_dist(lat: str, lon: str):
    """Point-to-segment meters in the segment's local equirectangular
    frame (anchored at mid_lat) — expects the `_segment_candidates`
    columns (a_lat, a_lon, b_lat, b_lon, mid_lat) in scope."""
    kx = F.cos(F.radians(F.col("mid_lat"))) * F.lit(_M_PER_DEG)
    x = (F.col(lon) - F.col("a_lon")) * kx
    y = (F.col(lat) - F.col("a_lat")) * F.lit(_M_PER_DEG)
    bx = (F.col("b_lon") - F.col("a_lon")) * kx
    by = (F.col("b_lat") - F.col("a_lat")) * F.lit(_M_PER_DEG)
    denom = bx * bx + by * by
    t_raw = F.when(denom > 0.0, (x * bx + y * by) / denom).otherwise(F.lit(0.0))
    t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    return F.sqrt(F.pow(x - t * bx, 2) + F.pow(y - t * by, 2))


def _equirect_seg_t(lat: str, lon: str):
    """The clamped projection parameter t of the same refine — where
    along [A, B] the snap lands (0 = A, 1 = B)."""
    kx = F.cos(F.radians(F.col("mid_lat"))) * F.lit(_M_PER_DEG)
    x = (F.col(lon) - F.col("a_lon")) * kx
    y = (F.col(lat) - F.col("a_lat")) * F.lit(_M_PER_DEG)
    bx = (F.col("b_lon") - F.col("a_lon")) * kx
    by = (F.col("b_lat") - F.col("a_lat")) * F.lit(_M_PER_DEG)
    denom = bx * bx + by * by
    t_raw = F.when(denom > 0.0, (x * bx + y * by) / denom).otherwise(F.lit(0.0))
    return F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))


def _segment_candidates(points: DataFrame, lines: DataFrame, radius_m: float,
                        nchars: int, cell_col: str, line_id: str,
                        line_lat: str, line_lon: str) -> DataFrame | None:
    """Shared filter stage of the polyline joins: per-SEGMENT radius-
    expanded bbox covers (adaptive precision, driver-side — lines are
    the small dim side by contract), broadcast to the points table via
    a prefix equi-join on its cell column.  Returns the candidate frame
    with the point columns + (line_id, seg, a_lat, a_lon, b_lat, b_lon,
    mid_lat), one row per (point, candidate segment) — each segment's
    cover cells are distinct and a point has ONE cell, so a (point,
    segment) pair never duplicates.  None when there are no segments."""
    spark = points.sparkSession
    lrows = lines.select(line_id, line_lat, line_lon).collect()
    by_n: dict[int, list[tuple]] = {}
    for r in lrows:
        la = np.asarray(r[line_lat], dtype=np.float64)
        lo = np.asarray(r[line_lon], dtype=np.float64)
        for s in range(la.shape[0] - 1):
            a_la, a_lo, b_la, b_lo = la[s], lo[s], la[s + 1], lo[s + 1]
            mid = (a_la + b_la) / 2.0
            dlat = radius_m / _M_PER_DEG
            dlon = radius_m / (_M_PER_DEG * max(
                math.cos(math.radians(min(abs(mid) + dlat, 89.9))), 1e-6))
            n, cells = _fit_cover_bbox(min(a_la, b_la) - dlat, max(a_la, b_la) + dlat,
                                       min(a_lo, b_lo) - dlon, max(a_lo, b_lo) + dlon,
                                       nchars)
            by_n.setdefault(n, []).extend(
                (int(r[line_id]), int(s), c, float(a_la), float(a_lo),
                 float(b_la), float(b_lo), float(mid)) for c in cells)
    schema = (f"{line_id} long, seg long, cell string, a_lat double, a_lon double, "
              "b_lat double, b_lon double, mid_lat double")
    parts = []
    for n, rows in by_n.items():
        cov = spark.createDataFrame(
            pd.DataFrame(rows, columns=[line_id, "seg", "cell", "a_lat", "a_lon",
                                        "b_lat", "b_lon", "mid_lat"]), schema)
        key = F.col(cell_col) if n == nchars else F.substring(F.col(cell_col), 1, n)
        side = points
        pp = _prefix_pruning(points, [r[2] for r in rows])
        if pp is not None:
            side = side.where(pp)
        parts.append(side.join(_maybe_broadcast(cov, len(rows), "polyline cover"), key == cov["cell"], "inner").drop("cell"))
    if not parts:
        return None
    j = reduce(DataFrame.unionByName, parts)
    return j


def map_match(points: DataFrame, lines: DataFrame, radius_m: float,
              nchars: int = DEFAULT_NCHARS, cell_col: str = "geohash",
              lat: str = "lat", lon: str = "lon",
              line_id: str = "line_id", line_lat: str = "line_lat",
              line_lon: str = "line_lon",
              id_cols: Sequence[str] = ("event_id",)) -> DataFrame:
    """Map matching (snap-to-nearest-segment): assign each point within
    ``radius_m`` of the line network its SINGLE nearest segment — the
    "which road is this GPS fix on" primitive that q51/q60's proximity
    join deliberately does not answer (those keep every nearby line;
    this keeps the argmin WITH the segment identity and the snap
    parameter t along it, the inputs to route reconstruction).

    Same filter-refine shape as the proximity join (shared
    `_segment_candidates` cover): segments broadcast, the points table
    prefix-equi-joins on its cell column with a pruned scan, and the
    refine is the identical native equirect point-to-segment formula.
    The argmin is ONE struct-min aggregate ``min(struct(d, line, seg,
    t))`` on the point key — it partial-aggregates map-side (each
    task combines its own candidates first), so no window shuffle and
    the exchange operand is one row per point.  Ties (a point exactly
    past a shared vertex is equidistant to both adjacent segments)
    break deterministically by (line_id, seg) — the struct's field
    order — replayed verbatim by the q134 oracle's row_number.

    Returns ``(*id_cols, line_id, seg, t, dist_m)``, t and dist
    rounded to 6 dp AFTER the argmin (selection compares raw doubles).
    Points with no segment within the radius are absent (containment
    semantics, like the proximity join)."""
    j = _segment_candidates(points, lines, radius_m, nchars, cell_col,
                            line_id, line_lat, line_lon)
    pt_cols = list(id_cols)
    if j is None:
        base = points.where(F.lit(False))
        for c, typ in ((line_id, "long"), ("seg", "long"),
                       ("t", "double"), ("dist_m", "double")):
            base = base.withColumn(c, F.lit(None).cast(typ))
        return base.select(*pt_cols, line_id, "seg", "t", "dist_m")
    best = (j.withColumn("_d", _equirect_seg_dist(lat, lon))
            .withColumn("_t", _equirect_seg_t(lat, lon))
            .where(F.col("_d") <= radius_m)
            .groupBy(*pt_cols)
            .agg(F.min(F.struct(
                F.col("_d").alias("d"), F.col(line_id).alias("l"),
                F.col("seg").alias("s"), F.col("_t").alias("t")))
                .alias("_b")))
    return best.select(
        *pt_cols, F.col("_b.l").alias(line_id), F.col("_b.s").alias("seg"),
        F.round(F.col("_b.t"), 6).alias("t"),
        F.round(F.col("_b.d"), 6).alias("dist_m"))


# ---------------------------------------------------------------------------
# Raster tile <-> vector cell mapping (north_rule extension)
# ---------------------------------------------------------------------------


def with_tile(df: DataFrame, lat: str = "lat", lon: str = "lon",
              zoom: int = 12, out: str = "tile") -> DataFrame:
    """Assign each point its Web-Mercator z/x/y raster tile key."""
    return df.withColumn(out, udfs.tile_udf(zoom)(F.col(lat), F.col(lon)))


def tile_pyramid(df: DataFrame, lat: str = "lat", lon: str = "lon",
                 min_zoom: int = 3, max_zoom: int = 12) -> DataFrame:
    """Multi-zoom tile-count pyramid in ONE pass — the raster-pyramid
    aggregation a tiling engine serves map clients from: per-point
    counts at every zoom in ``[min_zoom, max_zoom]``.

    Plan shape (100-TB): the FINEST tile (x, y) is computed with pure
    native expressions (no Python anywhere), each row explodes into the
    zoom levels with ancestors derived by integer division (slippy-tile
    parents are floor(x / 2^(dz)) — exact), and one partial-aggregated
    shuffle on (zoom, x, y) produces the whole pyramid.  Compare:
    max_zoom-min_zoom+1 separate groupBys would scan the table once per
    level.  Returns (zoom, x, y, n).

    Web-Mercator math is injected as literal doubles (identical in the
    DuckDB oracle); latitude clamps to the Mercator limit first.
    """
    return (with_tile_pyramid_keys(df, lat, lon, min_zoom, max_zoom)
            .groupBy("zoom", "x", "y").agg(F.count("*").alias("n")))


def with_tile_pyramid_keys(df: DataFrame, lat: str = "lat", lon: str = "lon",
                           min_zoom: int = 3, max_zoom: int = 12,
                           keep: Sequence[str] = ()) -> DataFrame:
    """One row per (input row, zoom) with (zoom, x, y) tile keys — the
    shared fan-out under :func:`tile_pyramid` and the streaming pyramid
    (``keep`` carries columns such as the event-time through).  Pure
    native expressions, no shuffle."""
    if not 0 <= min_zoom <= max_zoom <= 20:
        raise ValueError("need 0 <= min_zoom <= max_zoom <= 20")
    n = 1 << max_zoom
    lim = tiles_np.MAX_MERC_LAT
    clat = F.least(F.greatest(F.col(lat), F.lit(-lim)), F.lit(lim))
    # explicit lat / 180 * pi (NOT F.radians: JVM toRadians computes
    # x / 180 * PI while other engines may fold x * (PI / 180) — a
    # different double; writing the sequence out keeps both sides equal)
    latr = clat / F.lit(180.0) * F.lit(math.pi)
    xr = F.floor((F.col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    yr = F.floor((F.lit(1.0) - F.log(F.tan(latr) + F.lit(1.0) / F.cos(latr))
                  / F.lit(math.pi)) / F.lit(2.0) * F.lit(float(n)))
    x0 = F.least(F.greatest(xr.cast("long"), F.lit(0)), F.lit(n - 1))
    y0 = F.least(F.greatest(yr.cast("long"), F.lit(0)), F.lit(n - 1))
    keep = list(keep)
    base = (df.select(*keep, x0.alias("_x0"), y0.alias("_y0"))
            .select(*keep, "_x0", "_y0",
                    F.explode(F.sequence(F.lit(min_zoom), F.lit(max_zoom))).alias("zoom")))
    return base.select(
        *keep,
        F.col("zoom").cast("long").alias("zoom"),
        F.expr(f"_x0 div shiftleft(1L, {max_zoom} - zoom)").alias("x"),
        F.expr(f"_y0 div shiftleft(1L, {max_zoom} - zoom)").alias("y"))


def with_quadkey(df: DataFrame, lat: str = "lat", lon: str = "lon",
                 zoom: int = 8, out: str = "quadkey") -> DataFrame:
    """Bing-Maps quadkey tile key: the zoom-``zoom`` Web-Mercator tile
    as a base-4 string, digit i = (y_bit << 1) | x_bit at level i
    (MSB first).  The third tiling system next to geohash and the hex
    grid — its selling point is the same one the reference exploits in
    geohash covers (mapinfo.cpp:229-262): PREFIXES NEST, so
    ``substr(quadkey, 1, z)`` IS the zoom-z ancestor and one string
    column serves every pyramid level, range scans ARE tile-subtree
    scans, and a sorted/bucketed layout on the quadkey co-locates
    spatial neighbors for merge joins.

    All-native plan: the Mercator (x, y) uses the exact literal double
    sequence tile_pyramid proved cross-engine (explicit lat/180*pi,
    injected clamp), and the ``zoom`` digit extractions are unrolled
    integer shift/concat expressions — no UDF, no shuffle, whole-stage
    codegen end to end; at 100 TB this is a free map over the scan."""
    if not 1 <= zoom <= 20:
        raise ValueError("need 1 <= zoom <= 20")
    n = 1 << zoom
    lim = tiles_np.MAX_MERC_LAT
    clat = F.least(F.greatest(F.col(lat), F.lit(-lim)), F.lit(lim))
    latr = clat / F.lit(180.0) * F.lit(math.pi)
    xr = F.floor((F.col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    yr = F.floor((F.lit(1.0) - F.log(F.tan(latr) + F.lit(1.0) / F.cos(latr))
                  / F.lit(math.pi)) / F.lit(2.0) * F.lit(float(n)))
    x0 = F.least(F.greatest(xr.cast("long"), F.lit(0)), F.lit(n - 1))
    y0 = F.least(F.greatest(yr.cast("long"), F.lit(0)), F.lit(n - 1))
    d = df.withColumn("_qx", x0).withColumn("_qy", y0)
    digits = [(F.shiftright(F.col("_qy"), s) % 2 * 2
               + F.shiftright(F.col("_qx"), s) % 2).cast("string")
              for s in range(zoom - 1, -1, -1)]
    return (d.withColumn(out, F.concat(*digits)).drop("_qx", "_qy"))


def raster_vector_join(points: DataFrame, tiles: Iterable[tuple[int, int, int]],
                       nchars: int = DEFAULT_NCHARS, cell_col: str = "geohash") -> DataFrame:
    """Select the points falling in a set of raster tiles by mapping
    each tile to its covering geohash cells (driver-side, tiny) and
    equi-joining on the pruned cell column, then refining by the exact
    tile bbox.  ``tiles``: iterable of (zoom, x, y)."""
    spark = points.sparkSession
    by_n: dict[int, list[tuple]] = {}
    for z, x, y in tiles:
        mnla, mxla, mnlo, mxlo = tiles_np.tile_bounds(z, x, y)
        eps = 1e-12
        n, cells = _fit_cover_bbox(float(mnla), float(mxla) - eps,
                                   float(mnlo), float(mxlo) - eps, nchars)
        by_n.setdefault(n, []).extend(
            (f"{z}/{x}/{y}", c, float(mnla), float(mxla), float(mnlo), float(mxlo))
            for c in cells)
    schema = ("tile string, cell string, t_mnla double, t_mxla double, "
              "t_mnlo double, t_mxlo double")
    parts = []
    for n, rows in by_n.items():
        cover = spark.createDataFrame(
            pd.DataFrame(rows, columns=["tile", "cell", "t_mnla", "t_mxla",
                                        "t_mnlo", "t_mxlo"]), schema)
        key = F.col(cell_col) if n == nchars else F.substring(F.col(cell_col), 1, n)
        side = points
        pp = _prefix_pruning(points, [r[1] for r in rows])
        if pp is not None:
            side = side.where(pp)
        parts.append(side.join(_maybe_broadcast(cover, len(rows), "raster_vector_join cover"), key == cover["cell"], "inner"))
    j = reduce(DataFrame.unionByName, parts)
    return (j.where((F.col("lat") >= F.col("t_mnla")) & (F.col("lat") < F.col("t_mxla"))
                    & (F.col("lon") >= F.col("t_mnlo")) & (F.col("lon") < F.col("t_mxlo")))
            .drop("cell", "t_mnla", "t_mxla", "t_mnlo", "t_mxlo"))


# ---------------------------------------------------------------------------
# Metrics / skew helpers
# ---------------------------------------------------------------------------


def pool_state(positions: DataFrame, cell_col: str = "geohash") -> DataFrame:
    """GetPoolState (mapinfo.cpp:473-497) generalized: occupancy metrics
    as a tiny aggregate — total rows ('pos pool used'), distinct cells
    ('area pool used'), and rows-with-cell ('poslink used')."""
    return positions.agg(
        F.count("*").alias("pos_used"),
        F.count_distinct(F.col(cell_col)).alias("area_used"),
        F.count(F.col(cell_col)).alias("link_used"))


def range_join(facts: DataFrame, windows: DataFrame, ts: str = "ep",
               win_start: str = "start_ep", win_end: str = "end_ep",
               bucket_s: int = 3600,
               n_bucket_rows: int | None = None) -> DataFrame:
    """Interval (range) join: every fact row matched to every window
    whose ``[win_start, win_end]`` contains its timestamp.

    Scale shape: a raw ts BETWEEN start AND end join condition is
    non-equi — Catalyst would plan a BroadcastNestedLoopJoin (every
    fact row tested against every window).  Instead each window
    EXPLODES into the ``bucket_s``-wide time buckets it overlaps (the
    windows side is small by contract; a window of span S covers
    ~S/bucket_s buckets), facts derive ONE bucket key narrowly, and the
    join is a broadcast EQUI-join on the bucket with the exact BETWEEN
    as a post-join refine — same filter-refine discipline as the
    spatial joins (cell cover ≙ bucket cover).

    ``n_bucket_rows``: callers that construct the windows driver-side
    already know ``sum(floor(end/bucket_s) - floor(start/bucket_s) + 1)``
    — passing it skips the guard's Spark job entirely (inverted windows
    must not be counted; overcounting is safe, it can only downgrade
    broadcast to shuffle)."""
    from . import cache

    # inverted windows (end < start) must match zero rows: F.sequence
    # with start > stop silently builds a DESCENDING bucket sequence.
    valid = windows.where(F.col(win_end) >= F.col(win_start))
    # broadcast-overflow guard: the exploded bucket count is
    # sum(span/bucket_s) — a giant windows table (or giant spans)
    # downgrades to a shuffle equi-join instead of OOMing on the
    # broadcast.  The windows side is fully DISTRIBUTED (never
    # driver-materialized), so unlike the driver-built covers there is
    # no driver cap — any size legitimately falls back to the shuffle
    # join.  Cost of the guard: ZERO jobs with the caller hint or when
    # the windows frame is a LocalRelation (SQL literal VALUES —
    # ConvertToLocalRelation folds the filter+projection, so collect()
    # is a driver-side LocalTableScan); one tiny scalar-agg job
    # otherwise, in which case valid is persisted so the guard and the
    # exploded join side don't recompute the windows' upstream twice
    # (caller releases via geotile.cache.release).
    per_w = (F.floor(F.col(win_end) / bucket_s)
             - F.floor(F.col(win_start) / bucket_s) + 1)
    tracked: list[DataFrame] = []
    if n_bucket_rows is None and _is_local_relation(valid):
        n_bucket_rows = sum(r[0] for r in valid.select(per_w).collect())
    elif n_bucket_rows is None:
        valid = valid.persist()
        tracked.append(valid)
        n_bucket_rows = int(valid.select(F.sum(per_w)).first()[0] or 0)
    wb = valid.withColumn(
        "_b", F.explode(F.sequence(F.floor(F.col(win_start) / bucket_s),
                                   F.floor(F.col(win_end) / bucket_s))))
    if n_bucket_rows <= COVER_BROADCAST_MAX_ROWS:
        wb = F.broadcast(wb)
    fb = facts.withColumn("_b", F.floor(F.col(ts) / bucket_s))
    out = (fb.join(wb, "_b")
           .where((F.col(ts) >= F.col(win_start)) & (F.col(ts) <= F.col(win_end)))
           .drop("_b"))
    return cache.track(out, tracked)


def sessionize(df: DataFrame, key: str = "user_id", ts: str = "ts",
               gap_s: int = 1800, id_col: str = "event_id") -> DataFrame:
    """Gap-based sessionization: consecutive events of a key belong to
    one session while the inter-event gap stays <= ``gap_s`` seconds.
    Pure window composition (lag -> boundary flag -> running sum), one
    shuffle on the key, integer-exact outputs.  The batch twin of the
    streaming surface's session windows; generalizes the reference's
    per-subscriber event timeline (AddPos ts ordering, mapinfo.cpp:
    151-215) into an analytics operator."""
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(id_col).asc())
    epoch = F.unix_timestamp(F.col(ts)) if dict(df.dtypes)[ts] == "timestamp" \
        else F.col(ts).cast("long")
    prev = F.lag(epoch).over(w)
    new_sess = F.when(prev.isNull() | (epoch - prev > gap_s), 1).otherwise(0)
    return (df.withColumn("_ep", epoch)
            .withColumn("_new", new_sess)
            .withColumn("session_id",
                        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
            .drop("_new"))


def dbscan(points: DataFrame, eps_m: float, min_pts: int,
           id_col: str = "pid", lat: str = "lat", lon: str = "lon",
           nchars: int = 2) -> DataFrame:
    """Grid-bucketed DBSCAN over point sets (density clustering the
    reference's cell index makes natural; no analog in the reference —
    north-rule spatial-analytics surface).

    Semantics (scikit-learn convention): a point is CORE iff its
    eps-neighborhood, itself included, holds >= ``min_pts`` points;
    clusters are the connected components of core points within eps of
    each other; a non-core (border) point joins the cluster of a core
    neighbor — deterministically the minimum cluster id among them
    (classic DBSCAN is order-dependent here; we pin the tie-break).
    Noise points are not emitted.

    Scale shape: candidate pairs come from ONE equi-join — each point
    explodes to the cells of its own eps-box (udfs.eps_cover_cells_udf,
    exact per row, pole/wraparound safe) and joins points' stored cell
    column, so pair generation is bucketed, never all-pairs; the
    haversine refine is a native column expression running map-side
    before any aggregation.  Component resolution reuses
    graph.connected_components on the CORE pair graph only (bounded by
    density, far smaller than the point set).  Pick ``nchars`` so the
    eps-box spans a handful of cells at the data's max |lat| — too fine
    explodes the cover, too coarse inflates refine fan-in.

    Returns ``(id_col, cluster_id, is_core)``, cluster_id = min core id.
    """
    from . import cache, graph

    pts = with_cell(points.select(id_col, lat, lon), lat, lon, nchars).persist()
    cov = pts.select(
        F.col(id_col).alias("a"), F.col(lat).alias("_alat"), F.col(lon).alias("_alon"),
        F.explode(udfs.eps_cover_cells_udf(nchars, eps_m)(F.col(lat), F.col(lon))).alias("geohash"))
    other = pts.select(F.col(id_col).alias("b"), F.col(lat).alias("_blat"),
                       F.col(lon).alias("_blon"), "geohash")
    pairs = (cov.join(other, "geohash")
             .where(F.col("a") != F.col("b"))
             .where(udfs.haversine_col(F.col("_alat"), F.col("_alon"),
                                       F.col("_blat"), F.col("_blon")) <= eps_m)
             .select("a", "b").persist())

    deg = pairs.groupBy("a").agg(F.count("*").alias("_n"))
    cores = deg.where(F.col("_n") + 1 >= min_pts).select("a").persist()

    core_edges = (pairs
                  .join(cores, "a")
                  .join(cores.select(F.col("a").alias("b")), "b"))
    cc = graph.connected_components(core_edges, "a", "b")
    # core points with no core neighbor are their own singleton cluster
    iso = (cores.join(cc.select(F.col("node").alias("a")), "a", "left_anti")
           .select(F.col("a").alias("node"), F.col("a").alias("cluster_id")))
    core_assign = cc.unionByName(iso).persist()

    border = (pairs
              .join(cores.select("a"), "a", "left_anti")
              .join(core_assign.select(F.col("node").alias("b"), "cluster_id"), "b")
              .groupBy("a").agg(F.min("cluster_id").alias("cluster_id")))

    out = (core_assign.select(F.col("node").alias(id_col), "cluster_id",
                              F.lit(1).alias("is_core"))
           .unionByName(border.select(F.col("a").alias(id_col), "cluster_id",
                                      F.lit(0).alias("is_core"))))
    return cache.track(out, [pts, pairs, cores, core_assign,
                             *getattr(cc, "_geotile_persisted", [])])


def salted_cell_counts(df: DataFrame, cell_col: str = "geohash", nsalt: int = 16) -> DataFrame:
    """Per-cell counts with two-level salted aggregation: map-side
    partial on (cell, salt) then final on cell — bounds any single
    reducer's share of a hot cell to ~1/nsalt.  Equivalent result to a
    plain groupBy(cell).count(); different (skew-safe) physical shape."""
    salted = df.withColumn("_salt", F.pmod(F.crc32(F.coalesce(F.col(cell_col), F.lit(""))), F.lit(nsalt)))
    level1 = salted.groupBy(cell_col, "_salt").agg(F.count("*").alias("_c"))
    return level1.groupBy(cell_col).agg(F.sum("_c").alias("n"))


def _offsets(reach: int, center: bool) -> Column:
    """The square stencil ``[-reach, reach]^2`` as an array literal of
    ``(dy, dx)`` long structs, row-major; ``center=False`` leaves out
    ``(0, 0)``.  Every grid neighbourhood in this module explodes it."""
    r = range(-reach, reach + 1)
    return F.array(*[F.struct(F.lit(dy).cast("long").alias("dy"),
                              F.lit(dx).cast("long").alias("dx"))
                     for dy in r for dx in r if center or (dy, dx) != (0, 0)])


def _ring8(cells: DataFrame, ni: int, nj: int, i: str = "i", j: str = "j",
           **carry: str) -> DataFrame:
    """Sends each row of ``cells`` toward its 8 lattice neighbours: one
    row per neighbour ``(ti, tj)`` with the ``carry`` columns renamed
    (``out=source``).  Longitude wraps mod ``nj``; rows past a pole
    (``ti`` outside ``[0, ni)``) are dropped, so polar cells send 5.
    Callers join or aggregate on ``(ti, tj)``: an equi-join on shifted
    integer keys, never a theta join."""
    return (cells.select(i, j, *carry.values(), F.explode(_offsets(1, False)).alias("o"))
            .select((F.col(i) + F.col("o.dy")).alias("ti"),
                    F.pmod(F.col(j) + F.col("o.dx"), F.lit(nj)).alias("tj"),
                    *[F.col(src).alias(out) for out, src in carry.items()])
            .where((F.col("ti") >= 0) & (F.col("ti") < ni)))


def _lattice_counts(df: DataFrame, lat: str, lon: str, lat_bits: int,
                    lon_bits: int, *by: str) -> DataFrame:
    """Points per occupied ``udfs.lattice_ij`` cell (and ``by`` key):
    ``(*by, i, j, n)`` — the one data-sized aggregate of the lattice
    statistics; every later frame is occupied-cell sized."""
    i, j = udfs.lattice_ij(F.col(lat), F.col(lon), lat_bits, lon_bits)
    return (df.select(*by, i.alias("i"), j.alias("j"))
            .groupBy(*by, "i", "j").agg(F.count("*").alias("n")))


def _bucket_pairs(pts: DataFrame, size: int, *extra: str) -> DataFrame:
    """The 3x3 bucketed candidate self-join of a milli-degree point
    frame ``(pid, px, py, *extra)``: each point ``a`` explodes to the
    9 ``size``-wide buckets around its own and meets every point ``b``
    homed in one of them (itself included), so every pair within
    ``size`` on both axes is a candidate, once per order.  Returns ``(ida, idb,
    <c>a, <c>b for c in extra, d2)`` with the exact BIGINT squared
    distance ``d2``; callers filter on id order and ``d2``."""
    home = pts.select(
        "pid", "px", "py", *extra,
        F.floor(F.col("px") / F.lit(float(size))).cast("long").alias("cx"),
        F.floor(F.col("py") / F.lit(float(size))).cast("long").alias("cy"))
    a = (home.select(F.col("pid").alias("ida"), F.col("px").alias("xa"),
                     F.col("py").alias("ya"), *[F.col(c).alias(c + "a") for c in extra],
                     "cx", "cy", F.explode(_offsets(1, True)).alias("o"))
         .select("ida", "xa", "ya", *[c + "a" for c in extra],
                 (F.col("cx") + F.col("o.dx")).alias("tx"),
                 (F.col("cy") + F.col("o.dy")).alias("ty")))
    b = home.select(F.col("pid").alias("idb"), F.col("px").alias("xb"),
                    F.col("py").alias("yb"), *[F.col(c).alias(c + "b") for c in extra],
                    F.col("cx").alias("tx"), F.col("cy").alias("ty"))
    dx, dy = F.col("xa") - F.col("xb"), F.col("ya") - F.col("yb")
    return a.join(b, ["tx", "ty"]).withColumn("d2", dx * dx + dy * dy)


def _gi_star(cells: DataFrame, ni: int, nj: int) -> DataFrame:
    """Adds the Getis-Ord Gi* columns ``w``, ``num`` and ``gi_micro``
    to per-cell rows carrying ``(i, n, n_ring, s_pts, ss)`` on an
    ``ni x nj`` lattice (construction and exactness: :func:`getis_ord`)."""
    nlat = ni * nj
    big_n = F.lit(nlat).cast("long")
    w = (F.when((F.col("i") > 0) & (F.col("i") < ni - 1), F.lit(9))
         .otherwise(F.lit(6))).cast("long")
    num = big_n * (F.col("n") + F.col("n_ring")) - F.col("w") * F.col("s_pts")
    aa = big_n * F.col("ss") - F.col("s_pts") * F.col("s_pts")
    bb = big_n * F.col("w") - F.col("w") * F.col("w")
    gi = (F.when(aa > 0,
                 F.floor(F.lit(1000000.0)
                         * (F.col("num").cast("double")
                            / F.sqrt((aa.cast("double") * bb.cast("double"))
                                     / F.lit(float(nlat - 1))))))
          .otherwise(F.lit(0))).cast("long")
    return (cells.withColumn("w", w).withColumn("num", num)
            .withColumn("gi_micro", gi))


def cell_density_smooth(df: DataFrame, lat: str = "lat", lon: str = "lon",
                        lat_bits: int = 6, lon_bits: int = 7) -> DataFrame:
    """8-neighbor cell density smoothing — the Getis-Ord-style local
    hotspot screen over the integer geohash lattice: per occupied cell
    ``(i, j)`` its own count ``n`` plus ``n_ring``, the sum of the 8
    lattice neighbors' counts (longitude wraps mod 2^lon_bits across
    the antimeridian; latitude rows beyond the poles simply don't
    exist, so polar cells sum fewer neighbors).  A cell whose n_ring
    dwarfs n (or vice versa) is a density edge — the cheap spatial
    smoothing every heatmap / anomaly layer needs.

    Scale shape: the POINTS table is touched exactly once (one count
    aggregate); the occupied-CELL table (bounded by 2^(lat_bits +
    lon_bits), tiny next to the data) then explodes x8 toward its
    neighbors and re-aggregates — both remaining shuffles move
    cell-sized frames.  All integer arithmetic; exact under the q102
    oracle.  Returns ``(i, j, n, n_ring)``, NULL-free."""
    from . import cache

    ni, nj = 1 << lat_bits, 1 << lon_bits
    cells = _lattice_counts(df, lat, lon, lat_bits, lon_bits).persist()
    ring = (_ring8(cells, ni, nj, n="n")
            .groupBy("ti", "tj").agg(F.sum("n").alias("n_ring")))
    out = (cells.join(ring, (cells["i"] == ring["ti"]) & (cells["j"] == ring["tj"]),
                      "left")
           .select("i", "j", "n",
                   F.coalesce(F.col("n_ring"), F.lit(0).cast("long")).alias("n_ring")))
    return cache.track(out, [cells])


def morans_i(df: DataFrame, lat: str = "lat", lon: str = "lon",
             lat_bits: int = 6, lon_bits: int = 7) -> DataFrame:
    """Global Moran's I spatial autocorrelation over the occupied
    integer lattice — the corpus-level companion to the per-cell
    :func:`cell_density_smooth` screen: one number saying whether
    density clusters (I > 0, hotspots), disperses (I < 0), or is
    spatially random (I ~ 0).  Weights are binary 8-neighbor adjacency
    among OCCUPIED cells (longitude wraps across the antimeridian,
    latitude rows clamp at the poles), the same ring as q102.

    Exactness: with N occupied cells and S total points, the centered
    value per cell is kept as the EXACT integer ``z' = N*n - S``
    (= N * (n - mean)); the N^2 factors cancel in Moran's ratio, so
    ``I = (N / W) * num / den`` with ``num = sum over neighbor pairs
    of z'_a * z'_b`` and ``den = sum of z'^2`` — all exact BIGINTs
    under the oracle gate (ANSI overflow-checks the products; bound:
    |z'| <= N * max_n, fine up to ~10^9 points on this lattice —
    switch to doubles beyond, where exactness stops mattering).
    ``i_micro = floor(1e6 * (N*num)/(W*den))`` is derived in ONE
    fixed-shape double expression (identical op tree in the oracle),
    0 when W or den is 0.

    Scale shape: identical to cell_density_smooth — points touched
    once by the count aggregate; everything after moves occupied-CELL
    frames bounded by 2^(lat_bits+lon_bits), and the corpus stats
    attach as 1-row broadcasts.  Returns ONE row
    ``(n_cells, w_sum, num, den, i_micro)``, NULL-free."""
    from . import cache

    ni, nj = 1 << lat_bits, 1 << lon_bits
    cells = _lattice_counts(df, lat, lon, lat_bits, lon_bits).persist()
    st = cells.agg(F.count("*").alias("n_cells"), F.sum("n").alias("s_pts"))
    z = (cells.crossJoin(F.broadcast(st))
         .select("i", "j",
                 (F.col("n_cells") * F.col("n") - F.col("s_pts")).alias("z")))
    a = _ring8(z, ni, nj, za="z")
    b = z.select(F.col("i").alias("ti"), F.col("j").alias("tj"),
                 F.col("z").alias("zb"))
    ed = a.join(b, ["ti", "tj"]).agg(
        F.count("*").alias("w_sum"),
        F.sum(F.col("za") * F.col("zb")).alias("num"))
    dn = z.agg(F.sum(F.col("z") * F.col("z")).alias("den"))
    w_sum = F.coalesce("w_sum", F.lit(0).cast("long"))
    num = F.coalesce("num", F.lit(0).cast("long"))
    den = F.coalesce("den", F.lit(0).cast("long"))
    i_micro = F.when(
        (w_sum > 0) & (den != 0),
        F.floor(F.lit(1000000.0)
                * ((F.col("n_cells").cast("double") * num.cast("double"))
                   / (w_sum.cast("double") * den.cast("double"))))
    ).otherwise(F.lit(0)).cast("long")
    out = (st.crossJoin(ed).crossJoin(dn)
           .select(F.col("n_cells").cast("long").alias("n_cells"),
                   w_sum.alias("w_sum"), num.alias("num"), den.alias("den"),
                   i_micro.alias("i_micro")))
    return cache.track(out, [cells])


def getis_ord(df: DataFrame, lat: str = "lat", lon: str = "lon",
              lat_bits: int = 6, lon_bits: int = 7) -> DataFrame:
    """Local Getis-Ord Gi* hotspot z-scores over the integer lattice —
    the per-cell SIGNIFICANCE statistic completing the q102/q105
    spatial-stats chain (smoothing tells you the ring sum, Moran's I
    whether the corpus clusters at all; Gi* says WHICH cells are
    hotspots and how strongly): for each occupied cell, the z-score of
    its self-plus-8-ring count sum against the all-lattice mean, with
    binary weights over the structural neighborhood (self + ring;
    longitude wraps across the antimeridian, so ``w = 9`` interior and
    ``6`` on the two polar rows, where 3 neighbors fall off the
    lattice).  Empty lattice cells carry x = 0 — they contribute
    nothing to any ring sum but DO count in N and in the mean, exactly
    as Getis & Ord 1992 defines the statistic; only occupied cells are
    EMITTED (an empty cell's own Gi* is derivable but all-noise).

    Exactness: with N = 2^(lat_bits+lon_bits) lattice cells, S total
    points and SS the sum of squared cell counts, every building block
    is an exact BIGINT — ``num = N*(n + n_ring) - w*S`` (the numerator
    scaled by N), ``A = N*SS - S^2`` (N^2 * variance), ``B = N*w -
    w^2`` — and ``Gi* = num / sqrt(A*B/(N-1))`` exactly (the N's
    cancel), derived as ``gi_micro = floor(1e6 * ...)`` in ONE
    fixed-shape double expression mirrored in the oracle; 0 when A = 0
    (constant lattice).  ANSI bound: N*SS needs SS < ~1.1e15 — fine to
    ~3e7 points in ONE cell / far more spread out; switch the moments
    to doubles beyond, where exactness stops mattering.

    Scale shape: inherits :func:`cell_density_smooth` (points touched
    once, every later shuffle moves occupied-CELL frames bounded by
    N); the corpus moments attach as a 1-row broadcast.  Returns
    ``(i, j, n, n_ring, w, num, gi_micro)``, NULL-free."""
    from . import cache

    base = cell_density_smooth(df, lat, lon, lat_bits, lon_bits).persist()
    st = base.agg(F.sum("n").alias("s_pts"),
                  F.sum(F.col("n") * F.col("n")).alias("ss"))
    out = (_gi_star(base.crossJoin(F.broadcast(st)), 1 << lat_bits, 1 << lon_bits)
           .select("i", "j", "n", "n_ring", "w", "num", "gi_micro"))
    return cache.track(out, [base] + getattr(base, "_geotile_persisted", []))


def emerging_hotspots(df: DataFrame, t: str = "ep", nchars: int = 3,
                      cell_col: str = "geohash") -> DataFrame:
    """Per-cell Mann-Kendall trend over DAILY activity counts — the
    temporal leg completing the spatial-stats chain (q102 smoothing,
    q105 global autocorrelation, q118 Gi* hotspots answer "where is
    hot NOW"; this answers "where is activity RISING or FALLING" —
    ArcGIS calls the combination emerging-hot-spot analysis).  For
    each cell with >= 2 observed days, ``S = sum over day pairs i < j
    of sign(c_j - c_i)`` — the exact-integer nonparametric trend
    statistic (Mann 1945 / Kendall), monotone-robust and immune to
    outlier days.  Days with zero activity are ABSENT, not zero (the
    statistic is over observed days; a web corpus has no calendar
    entitlement), documented semantics.  Returns ``(cell, n_days,
    total, s_mk, trend)`` with trend = rising / falling / flat by the
    sign of S.

    Scale shape: raw events collapse to the (cell, day) count frame in
    ONE partially-aggregated shuffle; the pair self-join runs on that
    COLLAPSED frame, with per-cell fan-out bounded by days^2/2 — a
    few hundred rows per cell for a month window, independent of how
    many billions of events the cell saw.  All integers, ties exact
    (sign(0) = 0), so the q131 oracle replays it verbatim."""
    from . import cache

    cell = F.substring(F.col(cell_col), 1, nchars)
    counts = (df.select(cell.alias("cell"),
                        F.expr(f"{t} div 86400").alias("day"))
              .groupBy("cell", "day").agg(F.count("*").alias("n"))
              .persist())
    a = counts.select(F.col("cell"), F.col("day").alias("di"),
                      F.col("n").alias("ni"))
    b = counts.select(F.col("cell").alias("cellb"),
                      F.col("day").alias("dj"), F.col("n").alias("nj"))
    pairs = a.join(b, (a["cell"] == b["cellb"]) & (a["di"] < b["dj"]))
    s_mk = (pairs.groupBy("cell")
            .agg(F.sum(F.signum(F.col("nj") - F.col("ni")).cast("long"))
                 .alias("s_mk")))
    per_cell = counts.groupBy("cell").agg(
        F.count("*").alias("n_days"), F.sum("n").alias("total"))
    out = (per_cell.join(s_mk, "cell", "left")
           .withColumn("s_mk", F.coalesce("s_mk", F.lit(0)))
           .withColumn("trend",
                       F.when(F.col("s_mk") > 0, F.lit("rising"))
                       .when(F.col("s_mk") < 0, F.lit("falling"))
                       .otherwise(F.lit("flat"))))
    return cache.track(out, [counts])


def cell_stratified_sample(df: DataFrame, per_cell: int = 5, nchars: int = 3,
                           key_col: str = "event_id",
                           cell_col: str = "geohash",
                           salt_mod: int = 0) -> DataFrame:
    """Geo-stratified deterministic sample: keep at most ``per_cell``
    rows per geohash-prefix cell, picked by xxhash64 key order (key
    tie-break) — the geographic analog of textops.source_quota's
    domain cap.  Hash order makes the pick uniform WITHIN a cell
    (value order would bias toward low keys) while downweighting dense
    urban cells, the standard recipe for a geographically balanced
    training mix over web-scale check-in / mention data.

    Scale shape: one hash shuffle on the cell prefix + a windowed
    row_number; per-cell work is bounded by that cell's row count —
    when one mega-city cell can exceed an executor's sort budget, pass
    ``salt_mod`` to pre-thin via the salted two-level top-N
    (skew.salted_topn, bit-identical results).  Native xxhash64, no
    Python; exact integer ranks make the selection deterministic
    across engines and partition orders (q75 gate)."""
    from . import skew

    cell = F.substring(F.col(cell_col), 1, nchars)
    return skew.salted_topn(
        df.withColumn("cell", cell), ["cell"],
        [F.xxhash64(F.col(key_col)).asc(), F.col(key_col).asc()],
        [F.col(key_col)], per_cell, salt_mod=salt_mod)


def compact_cells(cells: DataFrame, cell_col: str = "cell",
                  min_precision: int = 1) -> DataFrame:
    """Geohash cover compaction (the index-maintenance dual of cover
    EXPANSION in the radius/annulus UDFs): wherever all 32 children of
    a parent cell are present, replace them with the parent, repeated
    level by level until ``min_precision``.  The result is the minimal
    mixed-precision cover of the same region — what a tile index stores
    so broadcast cover sets and partition-pruning IN-lists stay small.

    Input: a DataFrame with one geohash string per row (any mix of
    precisions; duplicates tolerated).  Output: ``(cell, prec)``,
    the compacted set.

    Scale shape: one distinct, then per level one groupBy on the
    (p-1)-char prefix of ONLY the length-p cells — the shuffle operand
    is the distinct cell set itself (tiny next to the data the cover
    describes), shrinking every round; count(DISTINCT)==32 decides
    compaction.  Driver loop depth = max precision (<= 12), each round
    pure relational ops.  The cell set is a MICRO-frame next to the
    data it describes, so every round repartitions it to a handful of
    partitions instead of inheriting spark.sql.shuffle.partitions —
    per-round fixed job overhead (task launch x partitions x levels)
    otherwise dominates wall time; levels with no full parent are
    SKIPPED without materializing a new round (the per-level count
    probe rides on the persisted frame).  The reference builds covers
    but never compacts them (GeoHash/geohash.cpp:171-214 emits raw
    9-cell blocks); this closes that gap Spark-side."""
    from . import cache

    nparts = max(2, int(cells.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32")) // 8)
    cur = (cells.select(F.col(cell_col).alias("cell")).distinct()
           .repartition(nparts, "cell")
           .persist())
    # one pass gives the driver loop its level plan: which precisions
    # exist and how many cells each holds (skip the rest outright)
    lvl_counts = dict(cur.groupBy(F.length("cell").alias("p"))
                      .agg(F.count("*").alias("n")).collect())
    for p in range(max(lvl_counts, default=0), min_precision, -1):
        # a parent needs all 32 children present at length p
        if lvl_counts.get(p, 0) < 32:
            continue
        lvl = cur.where(F.length("cell") == p)
        done = (cur.where(F.length("cell") != p))
        parents = (lvl.groupBy(F.substring("cell", 1, p - 1).alias("parent"))
                   .agg(F.count_distinct("cell").alias("_n")))
        full = (parents.where(F.col("_n") == 32).select("parent")
                .persist())
        n_full = full.count()
        if n_full == 0:
            # nothing compacts at this level: keep `cur` as is — no
            # union/distinct/persist round, no extra jobs
            full.unpersist()
            continue
        survivors = (lvl.join(F.broadcast(full),
                              F.substring("cell", 1, p - 1) == F.col("parent"),
                              "left_anti"))
        # distinct each round: a promoted parent may duplicate a
        # pre-existing cell of the same precision, and a duplicate here
        # would count twice toward the next level's 32-child threshold
        # (false collapse) as well as duplicating output rows
        nxt = (done.unionByName(survivors)
               .unionByName(full.select(F.col("parent").alias("cell")))
               .repartition(nparts, "cell")
               .distinct()
               .persist())
        lvl_counts = dict(nxt.groupBy(F.length("cell").alias("p"))
                          .agg(F.count("*").alias("n")).collect())
        full.unpersist()
        cur.unpersist()
        cur = nxt
    out = cur.select("cell", F.length("cell").cast("int").alias("prec"))
    return cache.track(out, [cur])


def format_positions_json(df: DataFrame, key: str = "msisdn", lat: str = "lat",
                          lon: str = "lon", ts: str = "ts") -> DataFrame:
    """Compat JSON sink (main.cpp:29,345-382): rows formatted as
    {"Msisdn":"...","Latitude":"%f",...} with %f = 6 decimal places."""
    return df.select(F.format_string(
        '{"Msisdn":"%s","Latitude":"%f","Longitude":"%f","CurrTime":"%d"}',
        F.col(key), F.col(lat), F.col(lon), F.col(ts).cast("long")).alias("json"))


def skyline(df: DataFrame, x: str, y: str, group=None) -> DataFrame:
    """2-D skyline / Pareto frontier (Börzsönyi et al., ICDE 2001 —
    the SKYLINE OF operator): keep a row iff NO other row in its group
    dominates it, where domination is ``x' >= x AND y' >= y AND
    (x' > x OR y' > y)`` (both dims maximized; ties on BOTH dims are
    mutually non-dominating and all kept).  The data-mix use: the
    frontier of (length, distinct-token) document quality — everything
    off the frontier is majorized by a strictly better document.

    Window form (no self-join): sort each group by x desc; a row
    survives iff  (a) max(y) over rows with STRICTLY greater x is
    below its y — the range frame ``(unbounded, -1)`` on integer x —
    and  (b) it holds the max y within its exact-x tie group.  The
    q143 oracle is the textbook NOT EXISTS dominance anti-join — an
    INDEPENDENT formulation, so agreement actually checks the window
    algebra.  x and y must be integer-valued (the -1 range bound).

    Scale shape: ONE exchange on the group key serves both windows
    (the (group, x) tie window reuses the partitioning with a local
    re-sort).  A single group costs one sort of its rows — the
    standard window-skyline trade; at 100 TB pre-thin with any
    per-partition LOCAL skyline first (a locally dominated row is
    globally dominated), which this operator composes with by simply
    running it twice: once per-partition-salted, once global."""
    groups = ([group] if isinstance(group, str) else list(group or []))
    w1 = (Window.partitionBy(*groups).orderBy(F.col(x).desc())
          .rangeBetween(Window.unboundedPreceding, -1))
    w2 = Window.partitionBy(*groups, x)
    m1 = F.max(y).over(w1)
    m2 = F.max(y).over(w2)
    return (df.withColumn("_m1", m1).withColumn("_m2", m2)
            .where((F.col("_m1").isNull() | (F.col("_m1") < F.col(y)))
                   & (F.col(y) == F.col("_m2")))
            .drop("_m1", "_m2"))


def pip_expr(plat, plon, lat_col, lon_col):
    """Even-odd ray cast as ONE native column expression for LITERAL
    vertices — the same formula as kernel.point_in_polygon and the q9
    oracle's SQL predicate (edge j = i-1, strict > on the y-straddle,
    strict < on the crossing x), so all three agree term for term.
    Native doubles in a fixed-shape expression: no aggregation order
    anywhere, hence bit-identical across engines."""
    n = len(plat)
    acc = None
    for i in range(n):
        j = (i - 1) % n
        yi, yj = float(plat[i]), float(plat[j])
        xi, xj = float(plon[i]), float(plon[j])
        hit = (((F.lit(yi) > lat_col) != (F.lit(yj) > lat_col))
               & (lon_col < (F.lit(xj) - F.lit(xi))
                  * (lat_col - F.lit(yi)) / (F.lit(yj) - F.lit(yi))
                  + F.lit(xi)))
        term = F.when(hit, F.lit(1)).otherwise(F.lit(0))
        acc = term if acc is None else acc + term
    return acc % 2 == 1


def polygon_fill(polygons: DataFrame, scale: int = 2,
                 poly_id: str = "poly_id", poly_lat: str = "poly_lat",
                 poly_lon: str = "poly_lon") -> DataFrame:
    """Rasterize polygons to the 1/scale-degree lattice: every cell
    whose CENTER ``((i + 0.5)/scale, (j + 0.5)/scale)`` passes the
    even-odd ray cast — the polygon->cells dual of q9's cells->polygon
    predicate (geofence materialization, partition pruning lists,
    raster masks all start from exactly this fill).

    Scale shape: ZERO exchanges — the polygon set is the driver-side
    dim side by contract (the q9/pip_join rule); each polygon becomes
    one ``spark.range`` over its integer bbox lattice (div/mod to 2-D,
    map-only) filtered by :func:`pip_expr` with its vertices inlined
    as literals, and the per-polygon parts union.  Fill cost is the
    bbox candidate count, distributed across range partitions.
    Returns ``(poly_id, ilat, ilon)``."""
    import math

    spark = polygons.sparkSession
    rows = polygons.select(poly_id, poly_lat, poly_lon).collect()
    s = float(scale)
    parts = []
    for r in rows:
        plat = [float(v) for v in r[poly_lat]]
        plon = [float(v) for v in r[poly_lon]]
        la0, la1 = math.floor(min(plat) * s), math.floor(max(plat) * s)
        lo0, lo1 = math.floor(min(plon) * s), math.floor(max(plon) * s)
        nlo = lo1 - lo0 + 1
        cand = spark.range((la1 - la0 + 1) * nlo).select(
            (F.lit(la0) + F.expr(f"id div {nlo}")).alias("ilat"),
            (F.lit(lo0) + F.col("id") % nlo).alias("ilon"))
        latc = (F.col("ilat").cast("double") + F.lit(0.5)) / F.lit(s)
        lonc = (F.col("ilon").cast("double") + F.lit(0.5)) / F.lit(s)
        parts.append(cand.where(pip_expr(plat, plon, latc, lonc))
                     .select(F.lit(int(r[poly_id])).cast("long")
                             .alias(poly_id), "ilat", "ilon"))
    if not parts:
        schema = f"{poly_id} long, ilat long, ilon long"
        return spark.createDataFrame([], schema)
    out = reduce(DataFrame.unionByName, parts)
    return out


def k_anonymize_cells(df: DataFrame, k: int = 5,
                      precisions=(5, 4, 3, 2),
                      cell_col: str = "geohash",
                      key: str = "user_id") -> DataFrame:
    """Spatial k-anonymity generalization (Gruteser & Grunwald 2003,
    cell-ladder form): publish each fix at the FINEST geohash
    precision whose cell contains >= k distinct keys; a fix that can't
    reach k even at the coarsest precision is SUPPRESSED (``'*'``) —
    the location-privacy gate a training-data pipeline runs before any
    mobility table leaves the enclave (the spatial complement of
    q101's text PII redaction).

    This is cell-level k-anonymity (every published cell name is
    shared by >= k keys); it does not add l-diversity or temporal
    cloaking — :func:`l_diversify_cells` composes on top.

    RESIDUAL ladder semantics: each rung's support is counted over
    the fixes still UNPUBLISHED after the finer rungs, so every
    published group is exactly the population whose support was
    tested and ``n_users >= k`` holds on every non-suppressed OUTPUT
    row by construction.  (The naive chained-coalesce ladder counts
    support over the FULL cell population; fixes published at a
    coarse rung are the subset whose finer cell failed, and that
    subset can hold fewer than k keys — a measured leak: 5 violating
    cells on the sf0.01 walk — which is why the residual form is the
    one shipped.)

    Scale shape: one DISTINCT (cell_p, key) partial-agg per ladder
    rung over the shrinking residual (support tables are
    occupied-cell sized — broadcast; at scales where a rung outgrows
    the broadcast threshold the join falls back to a prefix-keyed
    shuffle and the plan stays correct); residual filtering and the
    final rung assignment are broadcast semi/anti joins, so the fixes
    never shuffle.  All counts exact integers.  Returns
    ``(anon_cell, plen, n_fixes, n_users)``."""
    base = df.select(F.col(cell_col).alias("_gh"), F.col(key).alias("_k"))
    resid = base
    passes = {}
    for p in precisions:
        sup = (resid.select(F.substring(F.col("_gh"), 1, p)
                            .alias(f"_c{p}"), "_k").distinct()
               .groupBy(f"_c{p}").agg(F.count("*").alias("_n")))
        passes[p] = (sup.where(F.col("_n") >= k)
                     .select(f"_c{p}", F.lit(1).alias(f"_f{p}")))
        resid = resid.join(
            F.broadcast(passes[p]),
            F.substring(F.col("_gh"), 1, p) == F.col(f"_c{p}"),
            "left_anti")
    out = base
    for p in precisions:
        out = (out.withColumn(f"_c{p}", F.substring(F.col("_gh"), 1, p))
               .join(F.broadcast(passes[p]), f"_c{p}", "left"))
    anon = F.coalesce(*[F.when(F.col(f"_f{p}") == 1, F.col(f"_c{p}"))
                        for p in precisions], F.lit("*"))
    return (out.withColumn("anon_cell", anon)
            .groupBy("anon_cell")
            .agg(F.count("*").alias("n_fixes"),
                 F.countDistinct("_k").alias("n_users"))
            .withColumn("plen",
                        F.when(F.col("anon_cell") == "*", F.lit(0))
                        .otherwise(F.length("anon_cell")).cast("long"))
            .select("anon_cell", "plen", "n_fixes", "n_users"))


def rendezvous_shards(keys: DataFrame, key: str = "doc_id",
                      n_old: int = 8, n_new: int = 9) -> DataFrame:
    """Rendezvous / highest-random-weight placement (Thaler & Ravishankar
    1998) with a reshard movement matrix: every key scores each shard s
    by ``xxhash64((key << 8) ^ s)`` and lands on the UNSIGNED argmax
    (ties break to the larger s).  Growing the fleet n_old -> n_new can
    move a key ONLY to one of the added shards — each surviving shard's
    score set is unchanged, so a key moves iff a new shard's score beats
    its old winner.  That minimal ~1/n_new expected churn is why HRW is
    the standard placement rule for 100-TB file/bucket layouts (mod-N
    resharding moves ~(n_new-1)/n_new of ALL keys and re-clusters the
    whole store).

    Scale shape: scoring is a literal n_new-element array_max over
    native xxhash64 columns — map-only, no join, no explode, no
    per-row Python — and the only exchange is the final
    n_old x n_new-key aggregate.  Returns ``(old_shard, new_shard,
    n_keys)``; the HRW invariant is ``old_shard != new_shard  =>
    new_shard >= n_old``, which the gate value-checks."""
    if not (0 < n_old <= n_new <= 256):
        raise ValueError("need 0 < n_old <= n_new <= 256")

    def _assign(n: int):
        cands = [F.struct(
            F.xxhash64(F.shiftleft(F.col(key), 8)
                       .bitwiseXOR(F.lit(s).cast("long")))
            .bitwiseXOR(F.lit(-(1 << 63))).alias("h"),
            F.lit(s).cast("int").alias("s")) for s in range(n)]
        return F.array_max(F.array(*cands))["s"]

    return (keys.select(_assign(n_old).alias("old_shard"),
                        _assign(n_new).alias("new_shard"))
            .groupBy("old_shard", "new_shard")
            .agg(F.count("*").alias("n_keys")))


def polygon_overlap(polygons: DataFrame, scale: int = 2,
                    poly_id: str = "poly_id", poly_lat: str = "poly_lat",
                    poly_lon: str = "poly_lon") -> DataFrame:
    """Rasterized polygon-overlay matrix: every unordered polygon pair
    with a non-empty intersection on the 1/scale-degree lattice, with
    exact cell counts and the floor-divided micro-IoU — the
    geometry-library-free spatial overlay (coverage dedup, AOI conflict
    detection, zoning overlap) that scales the way raster joins do.

    Scale shape: :func:`polygon_fill` generates each polygon's cell set
    map-side (zero exchanges); the overlay is ONE equi-join keyed on
    the cell (the canonical 100-TB raster-overlay shuffle — never
    geometry x geometry), one pair aggregate, and a broadcast of the
    per-polygon size table (polygon count is driver-side small by the
    q9 dim contract).  Every output operand is exact int64:
    ``iou_micro = (n_inter * 1e6) div (n_a + n_b - n_inter)``.
    Pairs with empty intersections are omitted by construction."""
    fills = polygon_fill(polygons, scale, poly_id, poly_lat, poly_lon)
    a = fills.select(F.col(poly_id).alias("poly_a"), "ilat", "ilon")
    b = fills.select(F.col(poly_id).alias("poly_b"), "ilat", "ilon")
    inter = (a.join(b, ["ilat", "ilon"])
             .where(F.col("poly_a") < F.col("poly_b"))
             .groupBy("poly_a", "poly_b")
             .agg(F.count("*").alias("n_inter")))
    sizes = fills.groupBy(poly_id).agg(F.count("*").alias("_n"))
    return (inter
            .join(F.broadcast(sizes.select(
                F.col(poly_id).alias("poly_a"), F.col("_n").alias("n_a"))),
                "poly_a")
            .join(F.broadcast(sizes.select(
                F.col(poly_id).alias("poly_b"), F.col("_n").alias("n_b"))),
                "poly_b")
            .select("poly_a", "poly_b", "n_inter", "n_a", "n_b",
                    F.expr("n_inter * 1000000 div (n_a + n_b - n_inter)")
                    .alias("iou_micro")))


_LATLON_RE = (r"^[ \t]*(-?[0-9]+(?:\.[0-9]+)?)[ \t]*,"
              r"[ \t]*(-?[0-9]+(?:\.[0-9]+)?)[ \t]*$")


def parse_latlon(df: DataFrame, col: str = "raw") -> DataFrame:
    """Freeform ``"lat,lon"`` string ingest gate: parse + validate raw
    coordinate strings into exact integer micro-degrees with a
    per-row error class — the schema-on-read quality screen a raw GPS /
    geotag feed passes before any spatial operator sees it.  Classes:
    ``ok``, ``bad_format`` (regex reject), ``lat_range`` (|lat| > 90),
    ``lon_range`` (|lon| > 180, checked after lat).  Non-ok rows carry
    0 sentinels (NULL-free by the gate discipline); ok rows snap via
    the engine-wide floor(x * 1e6 + 0.5) tie rule.

    Cross-engine notes: the regex uses an explicit ``[ \\t]`` class
    (never ``\\s`` — the q100/WS_CLASS dialect lesson) and digit
    classes valid in both Java regex and RE2; numeric conversion is
    ``try_cast(s AS DOUBLE)`` (ANSI-safe — a plain cast of a rejected
    string would throw before the CASE can route it), and IEEE strtod
    of the same decimal string is bit-identical in both engines.
    Scale shape: map-only — regexp_extract + try_cast + CASE, zero
    exchanges, no Python."""
    lat_s = F.regexp_extract(F.col(col), _LATLON_RE, 1)
    lon_s = F.regexp_extract(F.col(col), _LATLON_RE, 2)
    lat = lat_s.try_cast("double")
    lon = lon_s.try_cast("double")
    cls = (F.when(lat_s == "", F.lit("bad_format"))
           .when(F.abs(lat) > 90.0, F.lit("lat_range"))
           .when(F.abs(lon) > 180.0, F.lit("lon_range"))
           .otherwise(F.lit("ok")))
    ok = cls == "ok"
    zero = F.lit(0).cast("long")
    return df.select(
        "*", cls.alias("error_class"),
        F.when(ok, F.floor(lat * F.lit(1000000.0) + F.lit(0.5)))
        .otherwise(zero).alias("lat_micro"),
        F.when(ok, F.floor(lon * F.lit(1000000.0) + F.lit(0.5)))
        .otherwise(zero).alias("lon_micro"))


def adaptive_cover(df: DataFrame, threshold: int, p_min: int = 1,
                   p_max: int = 4, cell_col: str = "geohash") -> DataFrame:
    """Adaptive quadtree-style tiling: starting from precision
    ``p_min``, every cell whose point count exceeds ``threshold``
    splits into its children at the next geohash precision, down to
    ``p_max`` — the refinement DUAL of :func:`compact_cells` (which
    merges full sibling sets upward).  The result is the
    mixed-precision cover a density-adaptive tile index stores: dense
    urban cells end up fine, empty ocean stays coarse, and every input
    point lies in EXACTLY one cover cell (count conservation is the
    pytest invariant).  A cell belongs to the cover iff every ancestor
    overflowed and it either fits (`n <= threshold`) or sits at
    ``p_max``.

    Scale shape: the points shuffle ONCE (the ``p_max`` count); every
    coarser level rolls up from that collapsed cell table by substring
    (exchanges move only distinct cells, never points), and the
    level-by-level reachability walk joins cell tables that shrink
    with each refinement.  ``p_max - p_min`` is a small constant, so
    the walk is a fixed pipeline, not a data-dependent loop.  Returns
    ``(cell, precision, n)``."""
    if not (1 <= p_min <= p_max):
        raise ValueError("need 1 <= p_min <= p_max")
    # persist the finest count: every level rollup, keep branch, and
    # reachability join derives from it — without the persist each of
    # the ~3*(p_max-p_min) consumers re-scans the POINTS (plan-audited:
    # 19 Arrow passes collapse to 1)
    fine = (df.groupBy(F.substring(F.col(cell_col), 1, p_max).alias("cell"))
            .agg(F.count("*").alias("n"))
            .persist())
    counts = {p_max: fine}
    for p in range(p_max - 1, p_min - 1, -1):
        counts[p] = (counts[p + 1]
                     .groupBy(F.substring("cell", 1, p).alias("cell"))
                     .agg(F.sum("n").alias("n")))
    keeps = []
    reach = counts[p_min]
    for p in range(p_min, p_max + 1):
        if p == p_max:
            keep = reach
        else:
            keep = reach.where(F.col("n") <= threshold)
            over = (reach.where(F.col("n") > threshold)
                    .select(F.col("cell").alias("_parent")))
            # the overflow list is bounded by the occupied cells at p
            # (<= 32^p, typically far fewer) — always broadcast-sized
            reach = (counts[p + 1]
                     .join(F.broadcast(over),
                           F.substring(F.col("cell"), 1, p)
                           == F.col("_parent"))
                     .select("cell", "n"))
        keeps.append(keep.select(
            "cell", F.lit(p).cast("long").alias("precision"), "n"))
    out = reduce(DataFrame.unionByName, keeps)
    from . import cache

    return cache.track(out, [fine])


def spacetime_join(a_pts: DataFrame, b_pts: DataFrame, eps_m: float,
                   tau_s: int, nchars: int = 2, id_a: str = "a_id",
                   id_b: str = "b_id", ts: str = "ep", lat: str = "lat",
                   lon: str = "lon") -> DataFrame:
    """Typed space-time correlation join: every (a, b) pair where b
    lies within ``eps_m`` meters AND ``tau_s`` seconds of a — "which
    purchases happened near and around a signup", the spatiotemporal
    correlation query colocation_pairs (same-cell/same-bucket
    co-presence of ONE stream) cannot express across two typed
    streams.

    Plan shape: the A side explodes to its eps-box cover cells
    (udfs.eps_cover_cells_udf — exact per row, pole/wrap safe) crossed
    with the three adjacent time buckets (bucket width = tau_s, so a
    |dt| <= tau_s pair differs by at most one bucket); the B side
    carries its stored (cell, bucket) key — ONE bucketed equi-join,
    never all-pairs, with the haversine + |dt| refine as native
    map-side expressions (the q62 candidate discipline).  Returns
    ``(a_id, b_id, dist_m, dt_s)`` with dist floored to integer meters
    and dt signed (b after a is positive)."""
    a = a_pts.select(F.col(id_a), F.col(ts).alias("_ats"),
                     F.col(lat).alias("_alat"), F.col(lon).alias("_alon"))
    a = (a.withColumn("geohash",
                      F.explode(udfs.eps_cover_cells_udf(nchars, eps_m)(
                          F.col("_alat"), F.col("_alon"))))
         .withColumn("_tb", F.explode(F.array(
             F.expr(f"_ats DIV {tau_s} - 1"),
             F.expr(f"_ats DIV {tau_s}"),
             F.expr(f"_ats DIV {tau_s} + 1")))))
    b = with_cell(b_pts.select(F.col(id_b), F.col(ts).alias("_bts"),
                               F.col(lat).alias("_blat"),
                               F.col(lon).alias("_blon")),
                  lat="_blat", lon="_blon", nchars=nchars)
    b = b.withColumn("_tb", F.expr(f"_bts DIV {tau_s}"))
    dist = udfs.haversine_col(F.col("_alat"), F.col("_alon"),
                              F.col("_blat"), F.col("_blon"))
    return (a.join(b, ["geohash", "_tb"])
            .where((dist <= F.lit(float(eps_m)))
                   & (F.abs(F.col("_bts") - F.col("_ats"))
                      <= F.lit(int(tau_s))))
            .select(id_a, id_b,
                    F.floor(dist).cast("long").alias("dist_m"),
                    (F.col("_bts") - F.col("_ats")).alias("dt_s"))
            .distinct())


def cell_load_gini(df: DataFrame, nchars: int = 4,
                   cell_col: str = "geohash") -> DataFrame:
    """Shuffle-balance audit: the Gini coefficient of per-cell loads —
    the one-number answer to "how skewed is this partition key", read
    before deciding whether a join needs salting (the q6/q75 knobs).
    Exact integer form over ascending rank i of loads x_i:

        gini_micro = (2*sum(i*x_i) - (n+1)*sum(x)) * 1e6 DIV (n*sum(x))

    (non-negative for ascending order, so the floor DIV is safe).
    One cell-count shuffle; the rank window runs on the COLLAPSED cell
    table.  Returns one row ``(n_cells, n_points, max_load,
    gini_micro)``."""
    loads = (df.groupBy(F.substring(F.col(cell_col), 1, nchars)
                        .alias("cell"))
             .agg(F.count("*").alias("x")))
    wr = Window.orderBy(F.col("x").asc(), F.col("cell").asc())
    ranked = loads.withColumn("i", F.row_number().over(wr).cast("long"))
    return (ranked.agg(F.count("*").alias("n_cells"),
                       F.sum("x").alias("n_points"),
                       F.max("x").alias("max_load"),
                       F.sum(F.col("i") * F.col("x")).alias("_six"))
            .select("n_cells", "n_points", "max_load",
                    F.expr("(2 * _six - (n_cells + 1) * n_points) * 1000000"
                           " DIV (n_cells * n_points)").alias("gini_micro")))


def l_diversify_cells(df: DataFrame, l_min: int = 3,
                      precisions=(5, 4, 3, 2),
                      cell_col: str = "geohash",
                      sensitive: str = "event_type") -> DataFrame:
    """l-diversity generalization (Machanavajjhala et al. 2007, cell-
    ladder form) — the composition k_anonymize_cells' docstring names:
    publish each fix at the FINEST geohash precision whose cell holds
    >= ``l_min`` DISTINCT values of the sensitive attribute (k
    anonymous crowds are not enough when everyone in the crowd shares
    the secret); fixes that cannot reach l even at the coarsest rung
    are suppressed (``'*'``).

    RESIDUAL ladder semantics, like :func:`k_anonymize_cells`: each
    rung's diversity is counted over the fixes still unpublished
    after the finer rungs, so ``n_vals >= l_min`` holds on every
    non-suppressed OUTPUT row by construction (the naive full-
    population ladder leaked 32 under-diverse published cells on the
    sf0.01 walk — measured, which is why the residual form ships).
    Same plan: per-rung DISTINCT partial-aggs broadcast, residual
    anti-joins, one final aggregate; the fixes never shuffle.
    Returns ``(anon_cell, plen, n_fixes, n_vals)``."""
    base = df.select(F.col(cell_col).alias("_gh"),
                     F.col(sensitive).alias("_s"))
    resid = base
    passes = {}
    for p in precisions:
        sup = (resid.select(F.substring(F.col("_gh"), 1, p)
                            .alias(f"_c{p}"), "_s").distinct()
               .groupBy(f"_c{p}").agg(F.count("*").alias("_n")))
        passes[p] = (sup.where(F.col("_n") >= l_min)
                     .select(f"_c{p}", F.lit(1).alias(f"_f{p}")))
        resid = resid.join(
            F.broadcast(passes[p]),
            F.substring(F.col("_gh"), 1, p) == F.col(f"_c{p}"),
            "left_anti")
    out = base
    for p in precisions:
        out = (out.withColumn(f"_c{p}", F.substring(F.col("_gh"), 1, p))
               .join(F.broadcast(passes[p]), f"_c{p}", "left"))
    anon = F.coalesce(*[F.when(F.col(f"_f{p}") == 1, F.col(f"_c{p}"))
                        for p in precisions], F.lit("*"))
    return (out.withColumn("anon_cell", anon)
            .groupBy("anon_cell")
            .agg(F.count("*").alias("n_fixes"),
                 F.countDistinct("_s").alias("n_vals"))
            .withColumn("plen",
                        F.when(F.col("anon_cell") == "*", F.lit(0))
                        .otherwise(F.length("anon_cell")).cast("long"))
            .select("anon_cell", "plen", "n_fixes", "n_vals"))


def idw_interpolate(positions: DataFrame, queries,
                    val_col: str = "value", nchars: int = DEFAULT_NCHARS,
                    cell_col: str = "geohash", lat: str = "lat",
                    lon: str = "lon") -> DataFrame:
    """Inverse-distance-weighted value interpolation at literal query
    points (Shepard 1968, p=1) — the kriging-lite spatial estimator:
    each query's value is the weight-averaged ``val_col`` of the
    positions inside its radius, weights 1/d.  EXACT integer form so
    the estimate gates cross-engine: distances floor to integer meters
    (clamped >= 1 m — the documented discretization), weights are
    ``1e9 DIV d_m``, values snap to milli-units, and the estimate is
    one final floor division ``sum(w*v) DIV sum(w)``.

    Plan: the same broadcast cover join as :func:`radius_join` (the
    positions never shuffle; covers are driver-side, <= ~1k cells per
    query), then ONE per-query aggregate of int64 terms (bounds:
    w <= 1e9, v_milli <= ~1e6, points/query ~1e4 keep the numerator
    < 1e19/10 — inside int64).  Returns ``(query_id, n_pts, idw_milli)``
    for queries with at least one in-radius point."""
    hits = radius_join(positions.select(cell_col, lat, lon, val_col),
                       queries, nchars=nchars, cell_col=cell_col,
                       lat=lat, lon=lon)
    v = F.floor(F.col(val_col) * F.lit(1000.0)).cast("long")
    return (hits.withColumn("_w", F.expr("1000000000 DIV "
                                         "greatest(CAST(floor(dist_m) AS "
                                         "BIGINT), 1)"))
            .withColumn("_v", v)
            .groupBy("query_id")
            .agg(F.count("*").alias("n_pts"),
                 F.sum(F.expr("_w * _v")).alias("_num"),
                 F.sum("_w").alias("_den"))
            .select("query_id", "n_pts",
                    F.expr("_num DIV _den").alias("idw_milli")))


def heat_peaks(df: DataFrame, lat: str = "lat", lon: str = "lon",
               lat_bits: int = 6, lon_bits: int = 7) -> DataFrame:
    """Hotspot PEAK extraction — non-maximum suppression over the
    integer lattice: a cell is a peak iff its count STRICTLY exceeds
    every 8-neighbor's (ties suppress both — the deterministic NMS
    rule; absent neighbors count 0), turning q102's smoothed heat
    into the short list a map renders markers from.  Same plan as
    cell_density_smooth with MAX in place of SUM: points touched
    once, the occupied-cell table explodes x8 and re-aggregates.
    Returns ``(i, j, n, ring_max)`` for peak cells only."""
    from . import cache

    ni, nj = 1 << lat_bits, 1 << lon_bits
    cells = _lattice_counts(df, lat, lon, lat_bits, lon_bits).persist()
    ring = (_ring8(cells, ni, nj, n="n")
            .groupBy("ti", "tj").agg(F.max("n").alias("ring_max")))
    out = (cells.join(ring, (cells["i"] == ring["ti"])
                      & (cells["j"] == ring["tj"]), "left")
           .select("i", "j", "n",
                   F.coalesce(F.col("ring_max"), F.lit(0).cast("long"))
                   .alias("ring_max"))
           .where(F.col("n") > F.col("ring_max")))
    return cache.track(out, [cells])


def cell_blobs(df: DataFrame, lat: str = "lat", lon: str = "lon",
               cell_deg: float = 5.0, min_count: int = 8) -> DataFrame:
    """Raster hotspot BLOBS: rasterize points onto a fixed lat/lon grid,
    keep cells with ``>= min_count`` points (occupied), 8-connect
    adjacent occupied cells (longitude wraps), and resolve the
    connected components — the blob extraction that turns a density
    raster into discrete hotspot REGIONS (the region-level dual of the
    per-cell q208 peak test; GIS "region group" / raster clump).

    Returns one row per occupied cell: ``(cell_id, y, x, n, blob_id)``
    where ``cell_id = y * 100000 + x`` and ``blob_id`` is the MINIMUM
    cell_id of the blob (deterministic canonical label; isolated cells
    are their own blob).

    Scale shape: the only data-sized shuffle is the rasterizing
    groupBy; everything after runs on the OCCUPIED-CELL frame (bounded
    by the grid, not the data — <= 2.6k cells at 5 degrees, ~1M at
    0.25).  Adjacency is an equi-join on shifted integer keys (never a
    theta join), and the component resolution is
    :func:`geotile.graph.connected_components`: an edge set at or under
    ``graph.LOCAL_CC_MAX_EDGES`` (a fully occupied 1-degree grid has
    ~260k adjacency edges) is
    collected once and resolved by a numpy union-find on the driver, so
    the hotspot map costs a handful of Spark jobs, not one batch per
    contraction round; larger edge sets run large-star/small-star
    rounds (O(log^2 n) over a shrinking edge set) until they fit."""
    from . import cache, graph

    ybin, xbin, ny, nx = udfs.deg_bins(F.col(lat), F.col(lon), cell_deg)
    occ = (df.select(ybin.alias("y"), xbin.alias("x"))
           .groupBy("y", "x").agg(F.count("*").alias("n"))
           .where(F.col("n") >= int(min_count))
           .withColumn("cell_id", F.col("y") * 100000 + F.col("x"))
           .persist())
    nbr = occ.select(F.col("cell_id").alias("b"),
                     F.col("y").alias("ti"), F.col("x").alias("tj"))
    edges = (_ring8(occ, ny, nx, "y", "x", a="cell_id")
             .join(nbr, ["ti", "tj"]).select("a", "b"))
    labels = graph.connected_components(edges, src="a", dst="b")
    out = (occ.join(labels.withColumnRenamed("node", "cell_id"),
                    "cell_id", "left")
           .select("cell_id", "y", "x", "n",
                   F.coalesce("cluster_id", F.col("cell_id")).alias("blob_id")))
    return cache.track(out, [occ])


def convex_hulls(df: DataFrame, key: str = "user_id",
                 lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Integer-exact convex hull per key (QuickHull on milli-degree
    coordinates): the activity-footprint boundary behind range-of-
    motion and territory metrics, complementing radius_of_gyration
    (q115, a moment) with the exact extreme-point polygon.

    STRICT-turn rule: collinear boundary points are NOT hull vertices
    — a vertex survives iff some directed hull edge has every other
    point strictly to its left (the SQL-checkable predicate the q224
    oracle uses).  All geometry is integer: coordinates snap to
    milli-degrees via floor(x*1000 + 0.5); orientation tests are exact
    int64 cross products.  Duplicate points collapse first.

    Returns ``(key, seq, x, y)``: CCW hull vertices, seq starting at
    the lexicographically smallest (x, y); shoelace over consecutive
    seq (wrapping) gives +2A exactly.

    Scale shape: one shuffle groups each key (applyInPandas); inside,
    QuickHull recursion is OUTPUT-sized (one step per hull vertex —
    expected O(log n) for random points) with every farthest-point
    scan a vectorized numpy pass, the same discipline as
    trajectory.simplify_tracks."""
    import numpy as np
    import pandas as pd

    def _hull(pdf: "pd.DataFrame") -> "pd.DataFrame":
        xs = np.floor(pdf[lon].to_numpy() * 1000.0 + 0.5).astype(np.int64)
        ys = np.floor(pdf[lat].to_numpy() * 1000.0 + 0.5).astype(np.int64)
        pts = np.unique(np.stack([xs, ys], axis=1), axis=0)  # lex-sorted
        n = len(pts)
        if n <= 2:
            out = pts
        else:
            a, b = pts[0], pts[-1]

            def rec(p, q, sub):
                """CCW chain strictly between p and q; sub is strictly
                right of p->q (cross < 0)."""
                if len(sub) == 0:
                    return []
                cr = ((q[0] - p[0]) * (sub[:, 1] - p[1])
                      - (q[1] - p[1]) * (sub[:, 0] - p[0]))
                f = sub[int(np.argmin(cr))]            # most negative
                cr1 = ((f[0] - p[0]) * (sub[:, 1] - p[1])
                       - (f[1] - p[1]) * (sub[:, 0] - p[0]))
                cr2 = ((q[0] - f[0]) * (sub[:, 1] - f[1])
                       - (q[1] - f[1]) * (sub[:, 0] - f[0]))
                return (rec(p, f, sub[cr1 < 0]) + [f]
                        + rec(f, q, sub[cr2 < 0]))

            cr = ((b[0] - a[0]) * (pts[:, 1] - a[1])
                  - (b[1] - a[1]) * (pts[:, 0] - a[0]))
            lower = rec(a, b, pts[cr < 0])
            upper = rec(b, a, pts[cr > 0])
            out = np.array([a] + lower + [b] + upper, dtype=np.int64)
        kval = pdf[key].iloc[0]
        return pd.DataFrame({key: [kval] * len(out),
                             "seq": np.arange(len(out), dtype=np.int64),
                             "x": out[:, 0], "y": out[:, 1]})

    cols = df.select(key, lat, lon)
    return cols.groupBy(key).applyInPandas(
        _hull, f"{key} long, seq long, x long, y long")


def zonal_stats(polygons: DataFrame, points: DataFrame, scale: int = 2,
                lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Zonal statistics (GIS "zonal stats on a count raster"): rasterize
    each polygon zone to the 1/scale-degree lattice
    (:func:`polygon_fill`), rasterize the points to per-cell counts,
    and roll the raster up per zone — coverage (n_cells), occupancy
    (n_occupied), population (n_points), and the hottest cell (peak_n)
    — the aggregation layer on top of q147's fill (a fill says WHERE a
    zone is; zonal stats say what's IN it).

    Scale shape: the points see ONE data-sized partial aggregation to
    cell counts; the zone lattice is polygon-bbox-sized (never
    data-sized) and joins the collapsed count frame on integer cell
    keys; the rollup output is one row per zone."""
    fill = polygon_fill(polygons, scale=scale)
    s = float(scale)
    counts = (points.select(
        F.floor(F.col(lat) * F.lit(s)).cast("long").alias("ilat"),
        F.floor(F.col(lon) * F.lit(s)).cast("long").alias("ilon"))
        .groupBy("ilat", "ilon").agg(F.count("*").alias("n")))
    j = fill.join(counts, ["ilat", "ilon"], "left")
    return (j.groupBy("poly_id")
            .agg(F.count("*").alias("n_cells"),
                 F.sum(F.when(F.col("n").isNotNull(), 1).otherwise(0))
                 .cast("long").alias("n_occupied"),
                 F.coalesce(F.sum("n"), F.lit(0)).cast("long")
                 .alias("n_points"),
                 F.coalesce(F.max("n"), F.lit(0)).cast("long")
                 .alias("peak_n")))


def geary_c(df: DataFrame, lat: str = "lat", lon: str = "lon",
            lat_bits: int = 6, lon_bits: int = 7) -> DataFrame:
    """Global Geary's C spatial autocorrelation over the occupied
    integer lattice — the PAIRWISE-difference companion to
    :func:`morans_i` (Moran's I is a cross-product statistic dominated
    by global structure; Geary's C is a squared-difference statistic
    more sensitive to LOCAL contrast; reading both is the standard
    spatial-stats practice).  Weights are the identical binary
    8-neighbor adjacency among OCCUPIED cells (longitude wraps across
    the antimeridian, latitude rows clamp at the poles).

    Exactness: the numerator needs no centering at all — ``num = sum
    over neighbor pairs of (n_a - n_b)^2`` is exact in raw counts; the
    denominator reuses Moran's exact scaled centering ``z' = N*n - S``
    so ``den = sum z'^2 = N^2 * sum (n - mean)^2``.  Geary's
    ``C = (N-1)/(2W) * num / (den/N^2)`` then derives as ``c_micro =
    floor(1e6 * ((N-1)*N^2*num) / (2*W*den))`` in ONE fixed-shape
    double expression (identical op tree in the oracle), 0 when W or
    den is 0.  ANSI bound: num <= W * max_n^2 as BIGINT — fine to
    ~10^9 points per cell; the derived double is where exactness stops
    mattering beyond that.

    Scale shape: identical to morans_i — points are touched once by
    the count aggregate; every later frame is occupied-CELL sized
    (bounded by 2^(lat_bits+lon_bits)), the corpus stats attach as a
    1-row broadcast.  Returns ONE row ``(n_cells, w_sum, num, den,
    c_micro)``, NULL-free."""
    from . import cache

    ni, nj = 1 << lat_bits, 1 << lon_bits
    cells = _lattice_counts(df, lat, lon, lat_bits, lon_bits).persist()
    st = cells.agg(F.count("*").alias("n_cells"), F.sum("n").alias("s_pts"))
    z = (cells.crossJoin(F.broadcast(st))
         .select("i", "j", "n",
                 (F.col("n_cells") * F.col("n") - F.col("s_pts")).alias("z")))
    a = _ring8(z, ni, nj, na="n")
    b = z.select(F.col("i").alias("ti"), F.col("j").alias("tj"),
                 F.col("n").alias("nb"))
    ed = a.join(b, ["ti", "tj"]).agg(
        F.count("*").alias("w_sum"),
        F.sum((F.col("na") - F.col("nb"))
              * (F.col("na") - F.col("nb"))).alias("num"))
    dn = z.agg(F.sum(F.col("z") * F.col("z")).alias("den"))
    w_sum = F.coalesce("w_sum", F.lit(0).cast("long"))
    num = F.coalesce("num", F.lit(0).cast("long"))
    den = F.coalesce("den", F.lit(0).cast("long"))
    n_cells = F.col("n_cells").cast("double")
    c_micro = F.when(
        (w_sum > 0) & (den != 0),
        F.floor(F.lit(1000000.0)
                * (((F.col("n_cells") - F.lit(1)).cast("double")
                    * n_cells * n_cells * num.cast("double"))
                   / (F.lit(2.0) * w_sum.cast("double")
                      * den.cast("double"))))
    ).otherwise(F.lit(0)).cast("long")
    out = (st.crossJoin(ed).crossJoin(dn)
           .select(F.col("n_cells").cast("long").alias("n_cells"),
                   w_sum.alias("w_sum"), num.alias("num"), den.alias("den"),
                   c_micro.alias("c_micro")))
    return cache.track(out, [cells])


def ripley_pairs(df: DataFrame, radii_milli: Sequence[int],
                 lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Ripley's K pair counts at multiple radii over the integer
    milli-degree plane — the multi-SCALE point-pattern statistic
    (clustered vs dispersed AT WHICH range) that single-radius
    density screens can't answer.  Counts unordered point pairs with
    planar squared distance ``dx^2 + dy^2 <= r^2`` for every r in
    ``radii_milli`` — K(r) is one division away (n_pairs * 2 * area /
    n^2); the gate compares the exact integer pair counts.

    Exactness: coordinates snap to integer milli-degrees via
    floor(x*1000 + 0.5) (the cross-engine tie rule shared with
    simplify_tracks/q234) and the disk test is an exact BIGINT
    compare — no haversine, no doubles, no boundary ulp.  Planar
    milli-degrees are the documented metric (Ripley's K only needs a
    consistent metric, not geodesic meters).

    Scale shape: the classic all-pairs O(n^2) definition is realized
    as a CELL-BUCKETED candidate join — each point joins only the 3x3
    neighborhood of max(radii)-sized cells around its own, so
    candidate fan-out is bounded by local density times a constant,
    never n; the exact test and the r-threshold filter run map-side
    on the join output BEFORE the count aggregate (the
    filter-before-shuffle house rule), and all radii share ONE join
    (each surviving pair emits its smallest covering radius, counts
    cumulate in one bounded rollup).  Each unordered pair is produced
    exactly once: the join pairs a's 9 exploded target cells with b's
    single home cell and keeps id_a < id_b.  Returns ``(r_milli,
    n_pairs)`` sorted by radius, zero-filled for empty radii."""
    rads = sorted(int(r) for r in radii_milli)
    rmax = rads[-1]
    pts = df.select(F.col("event_id").alias("pid"),
                    udfs.milli(F.col(lon)).alias("px"),
                    udfs.milli(F.col(lat)).alias("py"))
    # smallest-covering-radius CASE, built from the largest r inward
    rcase = F.lit(None).cast("long")
    for r in sorted(rads, reverse=True):
        rcase = F.when(F.col("d2") <= F.lit(r * r), F.lit(r)).otherwise(rcase)
    pairs = (_bucket_pairs(pts, rmax)
             .where(F.col("ida") < F.col("idb"))
             .select(rcase.cast("long").alias("r_at"))
             .where(F.col("r_at").isNotNull()))
    per_r = pairs.groupBy("r_at").agg(F.count("*").alias("n_at"))
    spark = df.sparkSession
    rframe = spark.createDataFrame([(r,) for r in rads], "r_milli long")
    w = Window.orderBy("r_milli").rowsBetween(Window.unboundedPreceding, 0)
    out = (rframe.join(per_r, rframe["r_milli"] == per_r["r_at"], "left")
           .select("r_milli", F.coalesce("n_at", F.lit(0)).alias("n_at"))
           .withColumn("n_pairs", F.sum("n_at").over(w).cast("long"))
           .select("r_milli", "n_pairs"))
    return out


def theil_sen_trend(df: DataFrame, t: str = "ep", nchars: int = 3,
                    cell_col: str = "geohash") -> DataFrame:
    """Per-cell Theil–Sen robust slope over DAILY activity counts —
    the MAGNITUDE companion to :func:`emerging_hotspots` (whose
    Mann-Kendall S says only whether a cell rises or falls; the
    Theil–Sen estimator says how FAST, immune to outlier days because
    it is the median of all pairwise slopes, breakdown point ~29%).
    Same (cell, day) observed-days semantics as q131.

    Exactness: each pairwise slope quantizes to ``slope_micro =
    floor(1e6 * (n_j - n_i) / (d_j - d_i))`` — the numerator product
    is exact in a double (counts fit far below 2^53 / 1e6), IEEE
    division is correctly rounded identically in both engines, and
    the floor boundary can only be hit when the true rational is
    representable (then both engines agree exactly).  The per-cell
    median is the LOW median (element at rank ceil(k/2) ascending) —
    the integer-exact tie rule shared with q164's MAD.

    Scale shape: raw events collapse to the (cell, day) count frame
    in ONE partially-aggregated shuffle; the pair self-join runs on
    that COLLAPSED frame (fan-out bounded by days^2/2 per cell,
    independent of event volume); the median is one bounded window.
    Returns ``(cell, n_days, n_pairs, slope_micro)`` for cells with
    >= 2 observed days."""
    from . import cache

    cell = F.substring(F.col(cell_col), 1, nchars)
    counts = (df.select(cell.alias("cell"),
                        F.expr(f"{t} div 86400").alias("day"))
              .groupBy("cell", "day").agg(F.count("*").alias("n"))
              .persist())
    a = counts.select(F.col("cell"), F.col("day").alias("di"),
                      F.col("n").alias("ni"))
    b = counts.select(F.col("cell").alias("cellb"),
                      F.col("day").alias("dj"), F.col("n").alias("nj"))
    slopes = (a.join(b, (a["cell"] == b["cellb"]) & (a["di"] < b["dj"]))
              .select("cell",
                      F.floor((F.col("nj") - F.col("ni")).cast("double")
                              * F.lit(1000000.0)
                              / (F.col("dj") - F.col("di")).cast("double"))
                      .cast("long").alias("s")))
    wr = Window.partitionBy("cell").orderBy("s")
    ranked = (slopes.withColumn("rn", F.row_number().over(wr))
              .withColumn("k", F.count("*").over(
                  Window.partitionBy("cell"))))
    med = (ranked.where(F.col("rn") == F.expr("(k + 1) div 2"))
           .select("cell", F.col("k").alias("n_pairs"),
                   F.col("s").alias("slope_micro")))
    per_cell = (counts.groupBy("cell").agg(F.count("*").alias("n_days"))
                .where(F.col("n_days") >= 2))
    out = per_cell.join(med, "cell").select(
        "cell", "n_days", "n_pairs", "slope_micro")
    return cache.track(out, [counts])


def kde_heat(df: DataFrame, grid_milli: int = 500,
             bandwidth_milli: int = 2000,
             lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Epanechnikov kernel density surface over the integer
    milli-degree grid, evaluated at OCCUPIED cell centers — the
    smooth heat layer between raw cell counts (q6) and the box-ring
    smoother (q102): every point within the bandwidth of a cell
    center contributes weight ``R^2 - d^2`` (the Epanechnikov kernel
    up to its constant factor), so density falls off quadratically
    instead of jumping at cell edges.

    Exactness: coordinates snap to integer milli-degrees
    (floor(x*1000 + 0.5), the shared tie rule), cell centers are the
    integers ``cell*g + g/2`` (g even), and the kernel weight is the
    exact BIGINT ``R^2 - d^2`` — no doubles anywhere.

    Scale shape: each point explodes to the bounded stencil of
    ``(2*ceil(R/g)+1)^2`` candidate cells around its own (a constant,
    ~81 at the defaults), which LEFT-SEMI joins the occupied-cell set
    so only evaluated cells survive BEFORE the weight aggregation —
    candidate volume is points x constant, never points x cells; the
    occupied-cell frame is count-bounded.  Returns ``(cx, cy, n_pts,
    w_sum)`` — n_pts the cell's own point count, w_sum the kernel
    mass it receives."""
    g, r = int(grid_milli), int(bandwidth_milli)
    reach = -(-r // g)  # ceil
    pts = df.select(udfs.milli(F.col(lon)).alias("px"),
                    udfs.milli(F.col(lat)).alias("py"))
    home = pts.withColumn(
        "cx", F.floor(F.col("px") / F.lit(float(g))).cast("long")) \
        .withColumn("cy", F.floor(F.col("py") / F.lit(float(g))).cast("long"))
    occ = (home.groupBy("cx", "cy").agg(F.count("*").alias("n_pts"))
           .persist())
    cand = (home.select("px", "py", "cx", "cy",
                        F.explode(_offsets(reach, True)).alias("o"))
            .select("px", "py",
                    (F.col("cx") + F.col("o.dx")).alias("tx"),
                    (F.col("cy") + F.col("o.dy")).alias("ty")))
    half = g // 2
    dx = F.col("px") - (F.col("tx") * F.lit(g) + F.lit(half))
    dy = F.col("py") - (F.col("ty") * F.lit(g) + F.lit(half))
    wgt = F.lit(r * r) - (dx * dx + dy * dy)
    scored = (cand.withColumn("w", wgt).where(F.col("w") > 0)
              .join(occ.select(F.col("cx").alias("tx"),
                               F.col("cy").alias("ty")),
                    ["tx", "ty"], "left_semi"))
    mass = (scored.groupBy("tx", "ty")
            .agg(F.sum("w").alias("w_sum")))
    from . import cache
    out = (occ.join(mass, (occ["cx"] == mass["tx"])
                    & (occ["cy"] == mass["ty"]), "left")
           .select("cx", "cy", "n_pts",
                   F.coalesce("w_sum", F.lit(0).cast("long"))
                   .alias("w_sum")))
    return cache.track(out, [occ])


def nn_distance_hist(df: DataFrame, rmax_milli: int = 4000,
                     ring_milli: int = 250,
                     lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Nearest-neighbor distance distribution over the integer
    milli-degree plane — the G-function companion to
    :func:`ripley_pairs` (Ripley counts ALL pairs per radius; the NN
    distribution asks how close each point's SINGLE nearest neighbor
    is, the standard point-pattern diagnostic separating hard-core /
    inhibited processes from clustered ones).  Each point's minimum
    squared distance to any other point within ``rmax_milli`` is
    binned into ``ring_milli`` rings; points with NO neighbor inside
    the search radius land in ring -1 (reported, never dropped).

    Exactness: the same floor(x*1000 + 0.5) snap and exact BIGINT d^2
    as ripley_pairs; the ring index floor(sqrt(min_d2)/ring) can only
    hit a floor boundary when min_d2 is the perfect square of a ring
    multiple — exactly representable, so both engines agree.

    Scale shape: identical bucketed 3x3 candidate join as
    ripley_pairs (fan-out bounded by local density), min-aggregated
    per point BEFORE the bounded histogram rollup; the no-neighbor
    set is an anti-join of the point frame against the aggregated
    minima (point-sized, no pair frame).  Returns ``(ring,
    n_points)``."""
    r2max = rmax_milli * rmax_milli
    pts = df.select(F.col("event_id").alias("pid"),
                    udfs.milli(F.col(lon)).alias("px"),
                    udfs.milli(F.col(lat)).alias("py"))
    mins = (_bucket_pairs(pts, rmax_milli)
            .where(F.col("ida") != F.col("idb"))
            .select("ida", "d2")
            .where(F.col("d2") <= F.lit(r2max))
            .groupBy("ida").agg(F.min("d2").alias("min_d2")))
    ring = F.floor(F.sqrt(F.col("min_d2").cast("double"))
                   / F.lit(float(ring_milli))).cast("long")
    hist = (mins.select(ring.alias("ring"))
            .groupBy("ring").agg(F.count("*").alias("n_points")))
    n_total = pts.groupBy().agg(F.count("*").alias("nt"))
    n_hit = mins.groupBy().agg(F.count("*").alias("nh"))
    lonely = (n_total.crossJoin(n_hit)
              .select(F.lit(-1).cast("long").alias("ring"),
                      (F.col("nt") - F.col("nh")).alias("n_points"))
              .where(F.col("n_points") > 0))
    return hist.unionByName(lonely)


def blob_threshold_profile(df: DataFrame, thresholds: Sequence[int],
                           cell_deg: float = 5.0,
                           lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Percolation profile of the density raster: :func:`cell_blobs`'
    occupancy/connectivity rollup swept over a LADDER of min-count
    thresholds — as the threshold rises, the giant connected hotspot
    shatters into islands; the (n_blobs, largest-blob) curve against
    threshold is the percolation diagnostic behind "one mega-region
    or many centers?".

    Returns one row per threshold: ``(threshold, n_occupied, n_blobs,
    largest_cells, largest_points)`` — occupied-cell count, connected
    component count, and the largest component's cell count and point
    total (exact integers; component labels are min-cell-id canonical
    as in cell_blobs).

    Scale shape: the data-sized rasterizing groupBy runs ONCE and is
    persisted; each rung filters the occupied-cell frame (grid-
    bounded, <= 2.6k cells at 5 degrees) and resolves its components
    with :func:`geotile.graph.connected_components`, which collects an
    adjacency graph this small once and finishes it on the driver
    (distributed large-star/small-star rounds only above
    ``graph.LOCAL_CC_MAX_EDGES`` edges) — the per-rung cost is a few
    occupied-cells-sized jobs, never data-sized and never one batch
    per contraction round."""
    from . import cache, graph

    ybin, xbin, ny, nx = udfs.deg_bins(F.col(lat), F.col(lon), cell_deg)
    base = (df.select(ybin.alias("y"), xbin.alias("x"))
            .groupBy("y", "x").agg(F.count("*").alias("n"))
            .withColumn("cell_id", F.col("y") * 100000 + F.col("x"))
            .persist())
    parts = []
    for t in sorted(int(t) for t in thresholds):
        occ = base.where(F.col("n") >= t)
        nbr = occ.select(F.col("cell_id").alias("b"),
                         F.col("y").alias("ti"), F.col("x").alias("tj"))
        edges = (_ring8(occ, ny, nx, "y", "x", a="cell_id")
                 .join(nbr, ["ti", "tj"]).select("a", "b"))
        labels = graph.connected_components(edges, src="a", dst="b")
        lab = (occ.join(labels.withColumnRenamed("node", "cell_id"),
                        "cell_id", "left")
               .select("n", F.coalesce("cluster_id", F.col("cell_id"))
                       .alias("blob_id")))
        per_blob = (lab.groupBy("blob_id")
                    .agg(F.count("*").alias("bc"), F.sum("n").alias("bp")))
        row = (per_blob.groupBy()
               .agg(F.coalesce(F.sum("bc"), F.lit(0)).cast("long")
                    .alias("n_occupied"),
                    F.count("*").alias("n_blobs"),
                    F.coalesce(F.max("bc"), F.lit(0)).cast("long")
                    .alias("largest_cells"),
                    F.coalesce(F.max(F.struct(F.col("bc"), F.col("bp")))
                               .getField("bp"), F.lit(0)).cast("long")
                    .alias("largest_points"))
               .withColumn("threshold", F.lit(t).cast("long"))
               .select("threshold", "n_occupied", "n_blobs",
                       "largest_cells", "largest_points"))
        parts.append(row)
    out = reduce(DataFrame.unionByName, parts)
    return cache.track(out, [base])


def emerging_gi_trend(df: DataFrame, lat: str = "lat", lon: str = "lon",
                      t: str = "ep", lat_bits: int = 6,
                      lon_bits: int = 7) -> DataFrame:
    """Emerging hot-spot analysis over the space-time cube — the
    composition closing the spatial-stats chain: per DAY slice compute
    every occupied cell's Getis-Ord Gi* (exactly :func:`getis_ord`'s
    integer construction, one slice at a time), then run the exact
    Mann-Kendall sign test over each cell's day-ordered ``gi_micro``
    series and classify the cell — ArcGIS's "emerging hot spot"
    combines these same two statistics; q118 answers "where is hot",
    q131 "where is activity rising"; this answers "where is
    SIGNIFICANCE rising" (a cell can gain raw counts while losing
    significance because its neighbors gain faster).

    Per-slice exactness is q118's verbatim: with N lattice cells and
    per-day totals S/SS, ``num = N*(n + n_ring) - w*S``, ``A = N*SS -
    S^2``, ``B = N*w - w^2`` — exact BIGINTs — and ``gi_micro =
    floor(1e6 * num / sqrt(A*B/(N-1)))`` in ONE fixed-shape double
    expression; the trend layer is pure integers (sign pairs over
    gi_micro).  Observed (cell, day) slices only — a cell absent on a
    day contributes to ring sums as zero but is not emitted, the q131
    observed-days semantics.

    Scale shape: raw events collapse to the (day, cell) count frame
    in ONE partially-aggregated shuffle; ring sums are a day-local
    equi-join of that collapsed frame against its 8-neighbor
    explosion; day stats are a day-sized broadcast; the Mann-Kendall
    pair join fans out days^2/2 per cell on the collapsed frame.
    Returns ``(cell_id, n_days, s_mk, trend, last_gi_micro)``."""
    from . import cache

    ni, nj = 1 << lat_bits, 1 << lon_bits
    cells = _lattice_counts(df.withColumn("day", F.expr(f"{t} div 86400")),
                            lat, lon, lat_bits, lon_bits, "day").persist()
    ring = (_ring8(cells, ni, nj, rday="day", n="n")
            .groupBy("rday", "ti", "tj").agg(F.sum("n").alias("n_ring")))
    st = cells.groupBy("day").agg(F.sum("n").alias("s_pts"),
                                  F.sum(F.col("n") * F.col("n")).alias("ss"))
    jn = (cells
          .join(ring, (F.col("day") == F.col("rday"))
                & (F.col("i") == F.col("ti")) & (F.col("j") == F.col("tj")),
                "left")
          .drop("rday", "ti", "tj")
          .withColumn("n_ring", F.coalesce("n_ring",
                                           F.lit(0).cast("long")))
          .join(st, "day"))
    series = (_gi_star(jn, ni, nj)
              .select((F.col("i") * 100000 + F.col("j")).alias("cell_id"),
                      "day", "gi_micro")
              .persist())
    a = series.select("cell_id", F.col("day").alias("di"),
                      F.col("gi_micro").alias("ga"))
    b = series.select(F.col("cell_id").alias("cb"),
                      F.col("day").alias("dj"), F.col("gi_micro").alias("gb"))
    s_mk = (a.join(b, (a["cell_id"] == b["cb"]) & (a["di"] < b["dj"]))
            .groupBy("cell_id")
            .agg(F.sum(F.signum((F.col("gb") - F.col("ga")).cast("double"))
                       .cast("long")).alias("s_mk")))
    wl = Window.partitionBy("cell_id").orderBy(F.desc("day"))
    last = (series.withColumn("rn", F.row_number().over(wl))
            .where(F.col("rn") == 1)
            .select("cell_id", F.col("gi_micro").alias("last_gi_micro")))
    per_cell = series.groupBy("cell_id").agg(F.count("*").alias("n_days"))
    out = (per_cell.join(s_mk, "cell_id", "left")
           .withColumn("s_mk", F.coalesce("s_mk", F.lit(0).cast("long")))
           .join(last, "cell_id")
           .withColumn("trend",
                       F.when(F.col("s_mk") > 0, F.lit("intensifying"))
                       .when(F.col("s_mk") < 0, F.lit("diminishing"))
                       .otherwise(F.lit("steady")))
           .select("cell_id", "n_days", "s_mk", "trend", "last_gi_micro"))
    return cache.track(out, [cells, series])


def knox_test(df: DataFrame, space_milli: int = 2000,
              time_s: int = 3600, lat: str = "lat", lon: str = "lon",
              t: str = "ep") -> DataFrame:
    """Knox space-time interaction statistic: of all C(n,2) point
    pairs, how many are close in BOTH space and time versus what the
    spatial and temporal margins alone predict — the classic
    epidemiology / event-correlation screen (contagion shows up as
    st-pairs exceeding s_pairs * t_pairs / total).

    Emits ONE row of exact integers: ``n_points``, ``n_pairs`` (the
    closed form C(n,2)), ``s_pairs`` (close in space only — the
    q240 bucketed disk count at ``space_milli``), ``t_pairs`` (close
    in time, |dt| <= time_s), ``st_pairs`` (close in both), and
    ``expected_micro = floor(1e6 * s_pairs * t_pairs / n_pairs)`` in
    one fixed-shape double expression.  The excess ratio
    st_pairs/expected is one division away.

    Scale shape: the spatial census rides the same 3x3 bucketed
    candidate join as ripley_pairs (never all-pairs); the TEMPORAL
    census is the 1-D analog — a self-join on floor(t/T) buckets
    widened one bucket each way (every |dt| <= T pair shares a bucket
    or sits in adjacent ones; each unordered pair matches exactly
    once under the id-order filter), fan-out bounded by points per
    time bucket.  The st census filters the SPATIAL candidate stream
    by dt map-side (no third join)."""
    pts = df.select(F.col("event_id").alias("pid"),
                    udfs.milli(F.col(lon)).alias("px"),
                    udfs.milli(F.col(lat)).alias("py"),
                    F.col(t).cast("long").alias("tt"))
    close_t = (F.abs(F.col("tta") - F.col("ttb")) <= F.lit(int(time_s)))
    sp = (_bucket_pairs(pts, space_milli, "tt")
          .where(F.col("ida") < F.col("idb"))
          .where(F.col("d2") <= F.lit(space_milli * space_milli))
          .select(close_t.cast("long").alias("ct")))
    s_census = sp.agg(F.count("*").alias("s_pairs"),
                      F.sum("ct").alias("st_pairs"))
    # temporal census: 1-D bucket join on floor(t/T), adjacent buckets
    tb_ = pts.select("pid", "tt",
                     F.expr(f"tt div {int(time_s)}").alias("bk"))
    ta_ = (tb_.select(F.col("pid").alias("ida"), F.col("tt").alias("ta"),
                      F.explode(F.array(F.col("bk") - 1, F.col("bk"),
                                        F.col("bk") + 1)).alias("tbk")))
    tbb = tb_.select(F.col("pid").alias("idb"), F.col("tt").alias("tb"),
                     F.col("bk").alias("tbk"))
    t_census = (ta_.join(tbb, "tbk")
                .where(F.col("ida") < F.col("idb"))
                .where(F.abs(F.col("ta") - F.col("tb"))
                       <= F.lit(int(time_s)))
                .agg(F.count("*").alias("t_cnt")))
    n = pts.agg(F.count("*").alias("n_points"))
    out = (n.crossJoin(s_census).crossJoin(t_census)
           .withColumn("n_pairs",
                       F.expr("n_points * (n_points - 1) div 2")
                       .cast("long"))
           .withColumn("s_pairs",
                       F.coalesce("s_pairs", F.lit(0)).cast("long"))
           .withColumn("st_pairs",
                       F.coalesce("st_pairs", F.lit(0)).cast("long"))
           .withColumn("t_pairs",
                       F.coalesce("t_cnt", F.lit(0)).cast("long"))
           .withColumn(
               "expected_micro",
               F.when(F.col("n_pairs") > 0,
                      F.floor(F.lit(1000000.0)
                              * (F.col("s_pairs").cast("double")
                                 * F.col("t_pairs").cast("double")
                                 / F.col("n_pairs").cast("double"))))
               .otherwise(F.lit(0)).cast("long"))
           .select("n_points", "n_pairs", "s_pairs", "t_pairs",
                   "st_pairs", "expected_micro"))
    return out


def local_morans(df: DataFrame, lat: str = "lat", lon: str = "lon",
                 lat_bits: int = 6, lon_bits: int = 7) -> DataFrame:
    """Local Moran's I (LISA — Anselin 1995) over the occupied integer
    lattice: the PER-CELL decomposition of q105's global Moran,
    classifying every occupied cell into the cluster/outlier quadrant
    — HH (hot surrounded by hot), LL (cold core), HL (hot outlier in
    a cold field), LH (cold hole in a hot field) — the map layer
    analysts actually read; the global I is just the weighted sum of
    these.

    Exactness: with the Moran scaling ``z' = N*n - S``, a cell's
    neighborhood term ``ring_z = sum of z' over its 8-ring`` and
    ``num = z' * ring_z`` are exact BIGINTs; ``lisa_micro = floor(1e6
    * N*num/den)`` (den = sum z'^2, the N factors cancel into
    Anselin's m2 normalization) derives in ONE fixed-shape double
    expression, 0 when den = 0.  Quadrants classify on exact signs;
    cells with z' = 0 or an empty/balanced ring report 'none'.

    Scale shape: identical to morans_i — one data-sized count
    aggregate, then occupied-cell frames only; the global moments
    attach as a 1-row broadcast.  Returns ``(i, j, n, zp, ring_z,
    num, lisa_micro, quadrant)``."""
    from . import cache

    ni, nj = 1 << lat_bits, 1 << lon_bits
    cells = _lattice_counts(df, lat, lon, lat_bits, lon_bits).persist()
    st = cells.agg(F.count("*").alias("n_cells"), F.sum("n").alias("s_pts"))
    z = (cells.crossJoin(F.broadcast(st))
         .select("i", "j", "n", "n_cells",
                 (F.col("n_cells") * F.col("n") - F.col("s_pts"))
                 .alias("zp")))
    ring = (_ring8(z, ni, nj, zn="zp")
            .groupBy("ti", "tj").agg(F.sum("zn").alias("ring_z")))
    dn = z.agg(F.sum(F.col("zp") * F.col("zp")).alias("den"))
    jn = (z.join(ring, (z["i"] == ring["ti"]) & (z["j"] == ring["tj"]),
                 "left")
          .drop("ti", "tj")
          .withColumn("ring_z", F.coalesce("ring_z",
                                           F.lit(0).cast("long")))
          .crossJoin(F.broadcast(dn)))
    num = F.col("zp") * F.col("ring_z")
    lisa = (F.when(F.col("den") != 0,
                   F.floor(F.lit(1000000.0)
                           * (F.col("n_cells").cast("double")
                              * num.cast("double"))
                           / F.col("den").cast("double")))
            .otherwise(F.lit(0))).cast("long")
    quad = (F.when((F.col("zp") > 0) & (F.col("ring_z") > 0), F.lit("HH"))
            .when((F.col("zp") < 0) & (F.col("ring_z") < 0), F.lit("LL"))
            .when((F.col("zp") > 0) & (F.col("ring_z") < 0), F.lit("HL"))
            .when((F.col("zp") < 0) & (F.col("ring_z") > 0), F.lit("LH"))
            .otherwise(F.lit("none")))
    out = jn.select("i", "j", "n", "zp", "ring_z", num.alias("num"),
                    lisa.alias("lisa_micro"), quad.alias("quadrant"))
    return cache.track(out, [cells])


def cell_percentile_bands(df: DataFrame, t: str = "ep", nchars: int = 3,
                          cell_col: str = "geohash") -> DataFrame:
    """Per-cell robust activity bands: the exact P10/P50/P90 of the
    cell's DAILY count distribution — the operational "normal range"
    under every alerting rule (q131/q241 say whether a cell trends;
    the bands say what a NORMAL day looks like, outlier-robustly).

    Exactness: pure integer rank picks — ``rank_q = (q*n + 99) div
    100`` (ceil of q%'s position, the LOW-quantile convention shared
    with q164's median) over the day counts sorted ascending, picked
    by row_number; ties on count are value-identical at any rank, so
    the pick is deterministic.  Same observed-days semantics as q131.

    Scale shape: one data-sized partial aggregation to (cell, day)
    counts; one per-cell window sort over the COLLAPSED frame; one
    filter keeps the three rank rows per cell and a conditional
    aggregate pivots them wide.  Returns ``(cell, n_days, total, p10,
    p50, p90)``."""
    from . import cache

    cell = F.substring(F.col(cell_col), 1, nchars)
    counts = (df.select(cell.alias("cell"),
                        F.expr(f"{t} div 86400").alias("day"))
              .groupBy("cell", "day").agg(F.count("*").alias("n"))
              .persist())
    wr = Window.partitionBy("cell").orderBy("n")
    ranked = (counts.withColumn("rn", F.row_number().over(wr))
              .withColumn("k", F.count("*").over(
                  Window.partitionBy("cell"))))
    picks = ranked.select(
        "cell", "n", "rn",
        F.expr("(10 * k + 99) div 100").alias("r10"),
        F.expr("(50 * k + 99) div 100").alias("r50"),
        F.expr("(90 * k + 99) div 100").alias("r90"))
    bands = (picks.groupBy("cell").agg(
        F.max(F.when(F.col("rn") == F.col("r10"), F.col("n"))).alias("p10"),
        F.max(F.when(F.col("rn") == F.col("r50"), F.col("n"))).alias("p50"),
        F.max(F.when(F.col("rn") == F.col("r90"), F.col("n"))).alias("p90")))
    per_cell = counts.groupBy("cell").agg(
        F.count("*").alias("n_days"), F.sum("n").alias("total"))
    out = per_cell.join(bands, "cell").select(
        "cell", "n_days", "total", "p10", "p50", "p90")
    return cache.track(out, [counts])


def viewshed(df: DataFrame, n_observers: int = 4, radius: int = 6,
             tower: int = 200, elev_mod: int = 1000,
             lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Viewshed (line-of-sight) analysis over a deterministic
    synthetic elevation raster — the GIS visibility primitive (radio
    planning, surveillance coverage) run from the corpus's hottest
    activity cells: for every 1-degree cell within a Chebyshev
    ``radius`` of each observer, is the straight sight line from the
    observer's (elevation + tower) to the target's ground blocked by
    any intermediate cell's terrain?

    Terrain: ``elev(cell) = pmod(xxhash64(y*1000 + x), elev_mod)`` —
    a pure function of the cell id (no table, no join; the oracle
    replays it through the HUGEINT xxhash64 replica).  Observers are
    the ``n_observers`` hottest occupied cells (count desc, cell asc
    — deterministic).

    Geometry is EXACT integer DDA: with n = Chebyshev distance, the
    sight line's sample at step k lies in cell ``floor((2*o*n +
    2*k*d + n) / (2n))`` per axis (the floor(x+0.5) rounding done in
    integer-safe double division — tiny operands, exact), and the
    blocking test cross-multiplies slopes: blocked iff ``elev_m * n >
    (elev_o + tower) * n + (elev_t - elev_o - tower) * k`` — strict,
    no division anywhere.

    Scale shape: ONE data-sized count aggregate finds the observers;
    everything after is generated — observers x (2R+1)^2 targets x
    <= R-1 steps, a few thousand rows independent of data volume,
    with elevation inlined as native xxhash64 (no lookup join).
    Returns per observer ``(obs_cell, obs_elev, n_targets, n_visible,
    vis_checksum)``."""
    from . import cache

    oy = F.floor(F.col(lat) + F.lit(90.0)).cast("long")
    ox = F.floor(F.col(lon) + F.lit(180.0)).cast("long")
    occ = (df.select(oy.alias("y"), ox.alias("x"))
           .groupBy("y", "x").agg(F.count("*").alias("cnt"))
           .withColumn("cell_id", F.col("y") * 1000 + F.col("x")))
    wtop = Window.orderBy(F.desc("cnt"), F.asc("cell_id"))
    obs = (occ.withColumn("rk", F.row_number().over(wtop))
           .where(F.col("rk") <= int(n_observers))
           .select(F.col("y").alias("oy"), F.col("x").alias("ox"),
                   F.col("cell_id").alias("obs_cell"))
           .persist())

    def elev(ycol, xcol):
        return F.pmod(F.xxhash64(ycol * F.lit(1000) + xcol),
                      F.lit(int(elev_mod))).cast("long")

    tgt = (obs.select("oy", "ox", "obs_cell",
                      F.explode(_offsets(int(radius), False)).alias("o"))
           .select("oy", "ox", "obs_cell",
                   (F.col("oy") + F.col("o.dy")).alias("ty"),
                   (F.col("ox") + F.col("o.dx")).alias("tx"),
                   F.greatest(F.abs(F.col("o.dy")), F.abs(F.col("o.dx")))
                   .alias("n"))
           .withColumn("vo", elev(F.col("oy"), F.col("ox")) + F.lit(tower))
           .withColumn("vt", elev(F.col("ty"), F.col("tx"))))
    steps = (tgt.withColumn(
        "ks", F.when(F.col("n") >= 2,
                     F.sequence(F.lit(1), F.col("n") - 1))
        .otherwise(F.array().cast("array<long>")))
        .select("obs_cell", "oy", "ox", "ty", "tx", "n", "vo", "vt",
                F.explode_outer("ks").alias("k")))
    my = F.floor((F.lit(2) * F.col("oy") * F.col("n")
                  + F.lit(2) * F.col("k") * (F.col("ty") - F.col("oy"))
                  + F.col("n")).cast("double")
                 / (F.lit(2) * F.col("n")).cast("double")).cast("long")
    mx = F.floor((F.lit(2) * F.col("ox") * F.col("n")
                  + F.lit(2) * F.col("k") * (F.col("tx") - F.col("ox"))
                  + F.col("n")).cast("double")
                 / (F.lit(2) * F.col("n")).cast("double")).cast("long")
    blocked = F.when(
        F.col("k").isNull(), F.lit(0)).otherwise(
        (elev(my, mx) * F.col("n")
         > F.col("vo") * F.col("n")
         + (F.col("vt") - F.col("vo")) * F.col("k")).cast("int")).alias("bl")
    per_tgt = (steps.withColumn("bl", blocked)
               .groupBy("obs_cell", "ty", "tx")
               .agg(F.max("bl").alias("blk")))
    out = (per_tgt.groupBy("obs_cell")
           .agg(F.count("*").alias("n_targets"),
                F.sum(F.lit(1) - F.col("blk")).cast("long")
                .alias("n_visible"),
                F.sum(F.when(F.col("blk") == 0,
                             F.col("ty") * 1000 + F.col("tx")))
                .cast("long").alias("vis_checksum")))
    obs_e = obs.select("obs_cell",
                       elev(F.col("oy"), F.col("ox")).alias("obs_elev"))
    res = obs_e.join(out, "obs_cell").select(
        "obs_cell", "obs_elev", "n_targets", "n_visible",
        F.coalesce("vis_checksum", F.lit(0).cast("long"))
        .alias("vis_checksum"))
    return cache.track(res, [obs])


def polygon_validity(polygons: DataFrame) -> DataFrame:
    """Geometry validity audit for polygon rings — the ingest-time
    QA gate every spatial layer needs before PIP/zonal/overlay
    operators consume it (a bowtie ring silently double-counts in an
    even-odd fill): per ring the exact integer shoelace area and
    orientation, plus the count of PROPER self-intersections between
    non-adjacent edges (strict integer orientation products, the
    q227 crossing test applied to a ring against itself).

    Input: ``(poly_id, poly_lat array, poly_lon array)`` open rings
    (implicit wrap).  Coordinates snap to milli-degrees via
    floor(x*1000 + 0.5).  Returns ``(poly_id, n_vertices, area2,
    orientation, n_self_x, valid)`` — valid iff no self-crossing and
    nonzero area.

    Scale shape: rings explode to edges (output-sized); the edge-pair
    test is per-polygon quadratic in VERTEX count (rings are dozens
    of points, never data-sized), one aggregate per ring."""
    vx = (polygons.select(
        "poly_id",
        F.posexplode(F.arrays_zip("poly_lat", "poly_lon"))
        .alias("i", "v"))
        .select("poly_id", "i", udfs.milli(F.col("v.poly_lon")).alias("x"),
                udfs.milli(F.col("v.poly_lat")).alias("y")))
    wseq = Window.partitionBy("poly_id").orderBy("i")
    wall = (Window.partitionBy("poly_id").orderBy("i")
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    ed = (vx.withColumn("nx", F.coalesce(F.lead("x").over(wseq),
                                         F.first("x").over(wall)))
          .withColumn("ny", F.coalesce(F.lead("y").over(wseq),
                                       F.first("y").over(wall)))
          .withColumn("nv", F.count("*").over(wall)))
    area = (ed.groupBy("poly_id")
            .agg(F.max("nv").alias("n_vertices"),
                 F.sum(F.col("x") * F.col("ny")
                       - F.col("nx") * F.col("y")).alias("area2")))
    e1 = ed.select("poly_id", F.col("i").alias("ia"),
                   F.col("x").alias("ax"), F.col("y").alias("ay"),
                   F.col("nx").alias("bx"), F.col("ny").alias("by"),
                   F.col("nv").alias("nv"))
    e2 = ed.select(F.col("poly_id").alias("pid2"),
                   F.col("i").alias("ib"),
                   F.col("x").alias("cx"), F.col("y").alias("cy"),
                   F.col("nx").alias("dx"), F.col("ny").alias("dy"))

    def _orient(ox, oy, px, py, qx, qy):
        return ((px - ox) * (qy - oy) - (py - oy) * (qx - ox))

    o1 = _orient(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
                 F.col("cx"), F.col("cy"))
    o2 = _orient(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
                 F.col("dx"), F.col("dy"))
    o3 = _orient(F.col("cx"), F.col("cy"), F.col("dx"), F.col("dy"),
                 F.col("ax"), F.col("ay"))
    o4 = _orient(F.col("cx"), F.col("cy"), F.col("dx"), F.col("dy"),
                 F.col("bx"), F.col("by"))
    adj = ((F.col("ib") == F.col("ia") + 1)
           | ((F.col("ia") == 0) & (F.col("ib") == F.col("nv") - 1)))
    xs = (e1.join(e2, (e1["poly_id"] == e2["pid2"])
                  & (e1["ia"] < e2["ib"]))
          .where(~adj)
          .where((o1 * o2 < 0) & (o3 * o4 < 0))
          .groupBy("poly_id").agg(F.count("*").alias("n_self_x")))
    out = (area.join(xs, "poly_id", "left")
           .withColumn("n_self_x",
                       F.coalesce("n_self_x", F.lit(0).cast("long")))
           .withColumn("orientation",
                       F.when(F.col("area2") > 0, F.lit("ccw"))
                       .when(F.col("area2") < 0, F.lit("cw"))
                       .otherwise(F.lit("degenerate")))
           .withColumn("valid",
                       (F.col("n_self_x") == 0) & (F.col("area2") != 0))
           .select("poly_id", "n_vertices", "area2", "orientation",
                   "n_self_x", "valid"))
    return out


def catchment_access(df: DataFrame, pois: Sequence[tuple],
                     radius_milli: int = 5000,
                     lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Two-step floating catchment accessibility (2SFCA) — the
    standard supply/demand spatial-access measure (clinic or fiber
    coverage per head): step 1 gives every SUPPLY point a
    capacity-per-demand ratio over its catchment; step 2 sums, for
    every DEMAND point, the ratios of the supplies whose catchments
    cover it.  Emitted as the bounded ACCESS HISTOGRAM ``(access_micro,
    n_points)`` — with s supply points there are at most 2^s distinct
    access values, so the histogram is tiny and the gate exact
    (access 0 rows carry the uncovered population).

    ``pois`` is a literal ``(poi_id, lat, lon, capacity)`` list.
    Exactness: planar milli-degree disks (exact BIGINT d^2 compare,
    the q240 metric) and ``ratio_micro = floor(1e6 * cap / demand)``
    — one fixed-shape division per supply, integer sums after.

    Scale shape: the supply set is a literal broadcast (never a
    shuffle side); demand points are touched twice map-side (the
    s-row cross product filters in codegen) with one aggregate per
    step — no pair frame, no bucket join needed below ~thousands of
    supplies (bucket like ripley_pairs beyond)."""
    spark = df.sparkSession
    pdf = spark.createDataFrame(
        list(pois), "poi_id long, plat double, plon double, cap long")
    pts = df.select(F.col("event_id").alias("pid"),
                    udfs.milli(F.col(lon)).alias("px"),
                    udfs.milli(F.col(lat)).alias("py"))
    pp = pdf.select("poi_id", "cap", udfs.milli(F.col("plon")).alias("qx"),
                    udfs.milli(F.col("plat")).alias("qy"))
    r2 = int(radius_milli) * int(radius_milli)
    d2 = ((F.col("px") - F.col("qx")) * (F.col("px") - F.col("qx"))
          + (F.col("py") - F.col("qy")) * (F.col("py") - F.col("qy")))
    cov = (pts.crossJoin(F.broadcast(pp))
           .where(d2 <= F.lit(r2)))
    demand = (cov.groupBy("poi_id", "cap")
              .agg(F.count("*").alias("demand"))
              .withColumn("ratio_micro",
                          F.floor(F.lit(1000000.0)
                                  * F.col("cap").cast("double")
                                  / F.col("demand").cast("double"))
                          .cast("long")))
    per_pt = (cov.join(F.broadcast(demand.select("poi_id", "ratio_micro")),
                       "poi_id")
              .groupBy("pid")
              .agg(F.sum("ratio_micro").alias("access_micro")))
    # histogram over covered points + one 0-access row for the rest
    hist = (per_pt.groupBy("access_micro")
            .agg(F.count("*").alias("n_points")))
    n_total = pts.groupBy().agg(F.count("*").alias("nt"))
    n_cov = per_pt.groupBy().agg(F.count("*").alias("nc"))
    zero = (n_total.crossJoin(n_cov)
            .select(F.lit(0).cast("long").alias("access_micro"),
                    (F.col("nt") - F.col("nc")).alias("n_points"))
            .where(F.col("n_points") > 0))
    return hist.unionByName(zero)


def session_gap_sweep(df: DataFrame, gaps_s: Sequence[int],
                      key: str = "user_id", ts: str = "ts",
                      id_col: str = "event_id") -> DataFrame:
    """Sessionization gap-threshold sensitivity sweep: run
    :func:`sessionize` at a LADDER of gap thresholds and roll each up
    to the session census — how many sessions, how many singletons,
    the longest, and the LOW-median length.  The tuning audit behind
    every "gap = 30 min" constant (q202's dedup-threshold sweep
    applied to the session boundary), read as: where does the census
    stabilize.

    All integers (median is the rank-(k+1)/2 low pick).  Scale
    shape: each rung is sessionize's one keyed window + a session
    rollup on the COLLAPSED (key, session) frame; the census median
    is one window over that session-level frame.  Returns one row
    per gap: ``(gap_s, n_sessions, n_singletons, max_len,
    med_len)``."""
    # second-truncated epoch as the session clock AND the window order
    # (with id_col tiebreak) — deterministic and identical cross-engine
    # regardless of sub-second timestamp precision
    base = df.withColumn(
        "_ep_s",
        F.unix_timestamp(F.col(ts))
        if dict(df.dtypes)[ts].startswith("timestamp")
        else F.col(ts).cast("long"))
    parts = []
    for g in sorted(int(g) for g in gaps_s):
        s = sessionize(base, key=key, ts="_ep_s", gap_s=g, id_col=id_col)
        lens = (s.groupBy(key, "session_id")
                .agg(F.count("*").alias("len")))
        wr = Window.orderBy("len")
        ranked = (lens.withColumn("rn", F.row_number().over(wr))
                  .withColumn("k", F.count("*").over(
                      Window.partitionBy())))
        med = (ranked.where(F.col("rn") == F.expr("(k + 1) div 2"))
               .select(F.col("len").alias("med_len")))
        row = (lens.agg(F.count("*").alias("n_sessions"),
                        F.sum(F.when(F.col("len") == 1, 1).otherwise(0))
                        .cast("long").alias("n_singletons"),
                        F.max("len").alias("max_len"))
               .crossJoin(med)
               .withColumn("gap_s", F.lit(g).cast("long"))
               .select("gap_s", "n_sessions", "n_singletons",
                       "max_len", "med_len"))
        parts.append(row)
    out = reduce(DataFrame.unionByName, parts)
    return out


def maxmin_fair_share(df: DataFrame, capacity_div: int = 3,
                      nchars: int = 3,
                      cell_col: str = "geohash") -> DataFrame:
    """Max-min fair (water-filling) allocation of a scarce capacity
    across per-cell demands — the rate-limiter / crawl-budget /
    storage-quota allocator (q207's apportionment divides
    PROPORTIONALLY; max-min instead satisfies small demands fully
    and caps the heavy ones at a common fair level, the classic
    fairness criterion): with capacity ``C = total div capacity_div``
    every cell gets ``min(demand, L)`` where L is the water level —
    the largest level the capacity funds.

    Exactness: sort demands ascending (cell tiebreak), take prefix
    sums; rank r is FUNDABLE iff ``prefix_r + (n-r)*d_r <= C``; with
    r* the largest fundable rank, ``L = (C - prefix_r*) div (n -
    r*)`` — all integer arithmetic, one closed form, no iteration
    (the continuous water-filling loop collapses because demands are
    sorted).  Fully-satisfiable demand sets short-circuit to
    alloc = demand.

    Scale shape: one data-sized count aggregate; the sort, prefix
    window, and the 1-row level reduction run on the CELL frame; the
    level broadcasts back.  Returns ``(cell, demand, alloc)``."""
    from . import cache

    cell = F.substring(F.col(cell_col), 1, nchars)
    dem = (df.select(cell.alias("cell"))
           .groupBy("cell").agg(F.count("*").alias("demand"))
           .persist())
    tot = dem.agg(F.sum("demand").alias("t"), F.count("*").alias("n"))
    w = Window.orderBy("demand", "cell")
    ranked = (dem.crossJoin(F.broadcast(tot))
              .withColumn("r", F.row_number().over(w))
              .withColumn("pfx", F.sum("demand").over(
                  w.rowsBetween(Window.unboundedPreceding, 0)))
              .withColumn("cap", F.expr(f"t div {int(capacity_div)}")))
    feas = ranked.where(
        F.col("pfx") + (F.col("n") - F.col("r")) * F.col("demand")
        <= F.col("cap"))
    rstar = feas.agg(F.max("r").alias("rs"),
                     F.max(F.struct("r", "pfx")).getField("pfx")
                     .alias("pfx_rs"))
    lvl = (tot.crossJoin(rstar)
           .select(
               F.when(F.coalesce("rs", F.lit(0)) >= F.col("n"),
                      F.lit(None).cast("long"))  # fully satisfiable
               .otherwise(
                   F.floor((F.expr(f"t div {int(capacity_div)}")
                            - F.coalesce("pfx_rs", F.lit(0)))
                           / (F.col("n") - F.coalesce("rs", F.lit(0)))))
               .cast("long").alias("lvl")))
    out = (dem.crossJoin(F.broadcast(lvl))
           .select("cell", "demand",
                   F.when(F.col("lvl").isNull(), F.col("demand"))
                   .otherwise(F.least("demand", "lvl")).cast("long")
                   .alias("alloc")))
    return cache.track(out, [dem])


def debounce_audit(events: DataFrame, eps_ladder: Sequence[int] = (1, 10, 60),
                   key: str = "user_id", type_col: str = "event_type",
                   ts: str = "ep", id_col: str = "event_id") -> DataFrame:
    """Telemetry debounce audit: how many events would collapse if
    same-user same-type events within ``eps`` seconds were merged
    into one — swept over an epsilon ladder — the double-fire /
    retry-storm diagnostic run before any count is trusted (the
    temporal micro-dup complement of the content dedup family; q199
    audits lateness, this audits bounce).

    Exactness: per (key, type) the gap-run grouping is the
    sessionize lag/flag/running-sum composition at each rung; every
    emitted quantity is a count.  Scale shape: one keyed window + a
    bounded rollup per rung, all on the same exchange key.  Returns
    per rung: ``(eps_s, n_events, n_groups, n_collapsed,
    max_burst)``."""
    parts = []
    w = Window.partitionBy(key, type_col).orderBy(
        F.col(ts).asc(), F.col(id_col).asc())
    base = (events.withColumn("_prev", F.lag(ts).over(w)))
    for eps in sorted(int(e) for e in eps_ladder):
        flag = F.when(F.col("_prev").isNull()
                      | (F.col(ts) - F.col("_prev") > eps), 1).otherwise(0)
        g = (base.withColumn("_new", flag)
             .withColumn("_gid", F.sum("_new").over(
                 w.rowsBetween(Window.unboundedPreceding, 0))))
        runs = (g.groupBy(key, type_col, "_gid")
                .agg(F.count("*").alias("len")))
        row = (runs.agg(F.sum("len").alias("n_events"),
                        F.count("*").alias("n_groups"),
                        F.max("len").alias("max_burst"))
               .withColumn("n_collapsed",
                           (F.col("n_events") - F.col("n_groups"))
                           .cast("long"))
               .withColumn("eps_s", F.lit(eps).cast("long"))
               .select("eps_s", "n_events", "n_groups", "n_collapsed",
                       "max_burst"))
        parts.append(row)
    out = reduce(DataFrame.unionByName, parts)
    return out


def drainage_basins(df: DataFrame, radius: int = 12, elev_mod: int = 1000,
                    lat: str = "lat", lon: str = "lon") -> DataFrame:
    """D8 drainage basins over the q257 synthetic terrain — the
    hydrology primitive (watershed delineation, flow routing) run on
    the (2R+1)^2 1-degree window around the corpus's hottest activity
    cell: every cell drains to its steepest strictly-lower 8-neighbor
    (D8), and a basin is the set of cells whose drainage path
    terminates at the same pit.

    Terrain and window pick replicate viewshed exactly:
    ``elev(cell) = pmod(xxhash64(y*1000 + x), elev_mod)``, observer =
    hottest occupied cell (count desc, cell asc).  The D8 tie rule is
    deterministic: among strictly-lower in-window neighbors take the
    minimum ``(elev, dy, dx)`` struct (elevation first, then the
    fixed neighbor order) — no floating point anywhere.  A cell with
    no lower in-window neighbor is a pit and roots its own basin.

    Basin resolution is POINTER DOUBLING (path halving): parent
    pointers are squared ``ceil(log2((2R+1)^2))`` times, so a
    drainage path of any length resolves in O(log n) rounds — the
    PRAM/Pregel technique that keeps round count logarithmic on a
    real cluster (each round is one self-equi-join of the compact
    pointer table, localCheckpoint-ed and coalesced to 1 partition —
    the table is window-sized, independent of data volume).

    Scale shape: ONE data-sized aggregate finds the hot cell;
    everything after is generated and window-sized.  Returns per
    basin ``(pit_cell, pit_elev, basin_size, member_checksum)``."""
    from . import cache

    oy = F.floor(F.col(lat) + F.lit(90.0)).cast("long")
    ox = F.floor(F.col(lon) + F.lit(180.0)).cast("long")
    occ = (df.select(oy.alias("y"), ox.alias("x"))
           .groupBy("y", "x").agg(F.count("*").alias("cnt"))
           .withColumn("cell_id", F.col("y") * 1000 + F.col("x")))
    wtop = Window.orderBy(F.desc("cnt"), F.asc("cell_id"))
    obs = (occ.withColumn("rk", F.row_number().over(wtop))
           .where(F.col("rk") == 1)
           .select(F.col("y").alias("cy"), F.col("x").alias("cx")))

    def elev(ycol, xcol):
        return F.pmod(F.xxhash64(ycol * F.lit(1000) + xcol),
                      F.lit(int(elev_mod))).cast("long")

    r = int(radius)
    grid = (obs.select("cy", "cx", F.explode(_offsets(r, True)).alias("o"))
            .select("cy", "cx",
                    (F.col("cy") + F.col("o.dy")).alias("y"),
                    (F.col("cx") + F.col("o.dx")).alias("x"))
            .withColumn("e", elev(F.col("y"), F.col("x"))))
    cand = F.transform(_offsets(1, False), lambda o: F.struct(
        elev(F.col("y") + o["dy"], F.col("x") + o["dx"]).alias("e"),
        o["dy"].alias("dy"), o["dx"].alias("dx")))
    lower = F.filter(cand, lambda s: (
        (s["e"] < F.col("e"))
        & (F.abs(F.col("y") + s["dy"] - F.col("cy")) <= F.lit(r))
        & (F.abs(F.col("x") + s["dx"] - F.col("cx")) <= F.lit(r))))
    drains = (grid.withColumn("b", F.array_min(lower))
              .select((F.col("y") * 1000 + F.col("x")).alias("cell"),
                      F.col("e"),
                      F.when(F.col("b").isNull(),
                             F.col("y") * 1000 + F.col("x"))
                      .otherwise((F.col("y") + F.col("b.dy")) * 1000
                                 + F.col("x") + F.col("b.dx"))
                      .alias("parent"))
              .coalesce(1).persist())
    p = (drains.select("cell", "parent")
         .coalesce(1).localCheckpoint(eager=True))
    n_rounds = max(1, math.ceil(math.log2((2 * r + 1) ** 2)))
    for _ in range(n_rounds):
        p = (p.alias("a")
             .join(p.alias("b"), F.col("a.parent") == F.col("b.cell"))
             .select(F.col("a.cell").alias("cell"),
                     F.col("b.parent").alias("parent"))
             .coalesce(1).localCheckpoint(eager=True))
    roots = drains.select(F.col("cell").alias("rcell"),
                          F.col("e").alias("pit_elev"))
    out = (p.groupBy("parent")
           .agg(F.count("*").cast("long").alias("basin_size"),
                F.sum("cell").cast("long").alias("member_checksum"))
           .withColumnRenamed("parent", "pit_cell")
           .join(roots, F.col("pit_cell") == F.col("rcell"))
           .select("pit_cell", "pit_elev", "basin_size",
                   "member_checksum"))
    return cache.track(out, [drains])


def join_counts(df: DataFrame, lat: str = "lat", lon: str = "lon"
                ) -> DataFrame:
    """Join-count statistics — the binary (occupied / empty) spatial
    autocorrelation census that predates Moran's I: over the
    bounding box of occupied 1-degree cells, count rook-adjacent
    pairs that are black-black (BB), black-white (BW), white-white
    (WW), plus the expected black-black share under complete spatial
    randomness as an exact DIV micro-rate.  BB far above expectation
    = clustering (q105/q239's nominal-scale sibling; the q118/q253
    hotspot screens assume exactly this kind of clustering exists).

    All counts are derived without materializing the empty cells:
    BB from one shifted self-join of the occupied set (horizontal +
    vertical, each unordered pair once); BW from the identity
    ``sum(in-bbox degree over black) = 2*BB + BW`` where the degree
    is 4 minus the bbox-boundary deficits; WW by difference from the
    total adjacency count ``J = rows*(cols-1) + cols*(rows-1)``.
    Expected BB share (micro): ``floor(nb*(nb-1)*1e6 / (n*(n-1)))``
    — sampling without replacement, exact integer DIV.

    Scale shape: one distinct shuffle of the occupancy set, one
    equi-join on it, three 1-row aggregates cross-joined; the empty
    universe is never enumerated.  Returns one row ``(n_cells,
    n_black, j_total, bb, bw, ww, p_bb_micro)``."""
    from . import cache

    occ = (df.select(F.floor(F.col(lat) + F.lit(90.0)).cast("long")
                     .alias("y"),
                     F.floor(F.col(lon) + F.lit(180.0)).cast("long")
                     .alias("x"))
           .distinct().persist())
    b = (occ.agg(F.min("y").alias("ymin"), F.max("y").alias("ymax"),
                 F.min("x").alias("xmin"), F.max("x").alias("xmax"),
                 F.count("*").alias("nb")))
    right = occ.select(F.col("y").alias("y2"), F.col("x").alias("x2"))
    hh = occ.join(right, (F.col("y2") == F.col("y"))
                  & (F.col("x2") == F.col("x") + 1))
    vv = occ.join(right, (F.col("x2") == F.col("x"))
                  & (F.col("y2") == F.col("y") + 1))
    bb_df = (hh.select(F.lit(1).alias("one"))
             .unionAll(vv.select(F.lit(1).alias("one")))
             .agg(F.count("*").cast("long").alias("bb")))
    deg_df = (occ.crossJoin(F.broadcast(b))
              .agg(F.sum((F.col("y") > F.col("ymin")).cast("long")
                         + (F.col("y") < F.col("ymax")).cast("long")
                         + (F.col("x") > F.col("xmin")).cast("long")
                         + (F.col("x") < F.col("xmax")).cast("long"))
                   .alias("deg_sum")))
    rows = F.col("ymax") - F.col("ymin") + 1
    cols = F.col("xmax") - F.col("xmin") + 1
    n = (rows * cols).alias("n_cells")
    j = (rows * (cols - 1) + cols * (rows - 1)).alias("j_total")
    out = (b.crossJoin(bb_df).crossJoin(deg_df)
           .select(n, F.col("nb").cast("long").alias("n_black"), j,
                   F.col("bb"),
                   (F.col("deg_sum") - 2 * F.col("bb")).cast("long")
                   .alias("bw"), F.col("deg_sum"))
           .select("n_cells", "n_black", "j_total", "bb", "bw",
                   (F.col("j_total") - F.col("bb") - F.col("bw"))
                   .cast("long").alias("ww"),
                   F.expr("(n_black * (n_black - 1) * 1000000) DIV "
                          "(n_cells * (n_cells - 1))")
                   .cast("long").alias("p_bb_micro")))
    return cache.track(out, [occ])


def hull_diameter(df: DataFrame, key: str = "user_id",
                  lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Exact point-set diameter per key — the farthest-pair distance
    (maximum activity span) computed the scale-correct way: the
    diameter of a point set equals the diameter of its CONVEX HULL,
    so the quadratic pair scan runs over the hull's handful of
    vertices (convex_hulls output, expected O(log n) of the point
    count), never over the raw points.  The q224 oracle family
    cross-checks this from the other direction: DuckDB computes the
    all-pairs maximum over the full deduped point set — two
    independent derivations of the same integers.

    Tie rule: among pairs achieving the maximum squared milli-degree
    distance, the lexicographically smallest ``(ax, ay, bx, by)``
    with ``(ax, ay) < (bx, by)`` — a struct argmax of
    ``(d2, -ax, -ay, -bx, -by)``, exact int64 throughout; output
    columns are ``(x1, y1, x2, y2)``.

    Scale shape: one applyInPandas shuffle builds the hulls; the
    pair join is per-key quadratic in HULL SIZE only.  Returns
    ``(key, diam2, x1, y1, x2, y2)``; single-point keys drop (no
    pair)."""
    hull = convex_hulls(df, key=key, lat=lat, lon=lon)
    a = hull.select(key, F.col("x").alias("ax"), F.col("y").alias("ay"))
    bt = hull.select(key, F.col("x").alias("bx"), F.col("y").alias("by"))
    pairs = a.join(bt, key).where(
        (F.col("ax") < F.col("bx"))
        | ((F.col("ax") == F.col("bx")) & (F.col("ay") < F.col("by"))))
    d2 = ((F.col("bx") - F.col("ax")) * (F.col("bx") - F.col("ax"))
          + (F.col("by") - F.col("ay")) * (F.col("by") - F.col("ay")))
    best = (pairs.withColumn("d2", d2.cast("long"))
            .groupBy(key)
            .agg(F.max(F.struct(F.col("d2"), (-F.col("ax")).alias("nax"),
                                (-F.col("ay")).alias("nay"),
                                (-F.col("bx")).alias("nbx"),
                                (-F.col("by")).alias("nby"))).alias("m")))
    return best.select(key, F.col("m.d2").alias("diam2"),
                       (-F.col("m.nax")).cast("long").alias("x1"),
                       (-F.col("m.nay")).cast("long").alias("y1"),
                       (-F.col("m.nbx")).cast("long").alias("x2"),
                       (-F.col("m.nby")).cast("long").alias("y2"))


def huff_shares(df: DataFrame, n_stores: int = 4,
                lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Huff-model market shares — the retail-gravity catchment rule
    (share of demand cell i captured by store j is proportional to
    ``w_j / d_ij^2``) run with the corpus's ``n_stores`` hottest
    1-degree cells as stores (weight = activity count, the q257
    observer pick generalized) and every occupied cell as demand.
    Complements q265's 2SFCA (supply-side accessibility) and q249's
    gravity residuals (flow audit) with the demand-allocation view.

    Exactness: ALL integer — each store's attraction term quantizes
    to ``(w * 1e6) DIV max(d2, 1)`` (cell-unit squared Chebyshev-free
    euclidean distance, d2 = dy^2 + dx^2; the store's own cell uses
    d2 = 1), the denominator is the exact integer sum of the floored
    terms (deterministic under any partial-agg order), and the share
    is ``(term * 1e6) DIV denom``.  Best store ties break to the
    smaller store cell id via min (-term, store) struct.

    Scale shape: one occupancy aggregate; stores are a ``n_stores``-
    row broadcast, so the demand x store expansion is a map-side
    cross of a tiny dimension — no shuffle after the occupancy
    count.  Returns ``(cell_id, n, best_store, share_micro,
    denom_micro)``."""
    from . import cache

    oy = F.floor(F.col(lat) + F.lit(90.0)).cast("long")
    ox = F.floor(F.col(lon) + F.lit(180.0)).cast("long")
    occ = (df.select(oy.alias("y"), ox.alias("x"))
           .groupBy("y", "x").agg(F.count("*").alias("cnt"))
           .withColumn("cell_id", F.col("y") * 1000 + F.col("x"))
           .persist())
    wtop = Window.orderBy(F.desc("cnt"), F.asc("cell_id"))
    stores = (occ.withColumn("rk", F.row_number().over(wtop))
              .where(F.col("rk") <= int(n_stores))
              .select(F.col("y").alias("sy"), F.col("x").alias("sx"),
                      F.col("cnt").alias("w"),
                      F.col("cell_id").alias("store_cell")))
    j = (occ.crossJoin(F.broadcast(stores))
         .withColumn("d2", (F.col("y") - F.col("sy"))
                     * (F.col("y") - F.col("sy"))
                     + (F.col("x") - F.col("sx"))
                     * (F.col("x") - F.col("sx")))
         .withColumn("term", F.expr(
             "(w * 1000000) DIV greatest(d2, 1)").cast("long")))
    per = (j.groupBy("cell_id", "cnt")
           .agg(F.sum("term").cast("long").alias("denom_micro"),
                F.min(F.struct((-F.col("term")).alias("nt"),
                               F.col("store_cell"))).alias("m")))
    out = per.select(
        "cell_id", F.col("cnt").cast("long").alias("n"),
        F.col("m.store_cell").alias("best_store"),
        F.expr("((-m.nt) * 1000000) DIV denom_micro").cast("long")
        .alias("share_micro"), "denom_micro")
    return cache.track(out, [occ])


def greedy_dispatch(df: DataFrame, n_stores: int = 4, n_demands: int = 20,
                    lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Greedy closest-pair dispatch — the classic online assignment
    heuristic (riders-to-drivers, orders-to-depots): the ``n_stores``
    hottest cells are servers, the next ``n_demands`` hottest are
    requests, and matching repeatedly takes the GLOBALLY closest
    (server, request) pair among the still-unmatched — each round a
    global argmin, not a per-server pick, so earlier matches
    constrain later ones exactly as a dispatch queue would.

    Determinism: the pick is the min ``(d2, store_cell, demand_cell)``
    struct (exact integer cell-unit squared distance, then ids);
    ``n_stores`` rounds total.  The oracle unrolls the same rounds as
    chained exclusion CTEs.

    Scale shape: one occupancy aggregate ranks cells; the candidate
    table is ``n_stores x n_demands`` generated rows (data-volume
    independent), and each round is one argmin + one filter on it,
    lineage-truncated — the iterative-extraction pattern at its
    smallest useful size.  Returns ``(round, store_cell, demand_cell,
    d2)``."""
    from . import cache

    oy = F.floor(F.col(lat) + F.lit(90.0)).cast("long")
    ox = F.floor(F.col(lon) + F.lit(180.0)).cast("long")
    occ = (df.select(oy.alias("y"), ox.alias("x"))
           .groupBy("y", "x").agg(F.count("*").alias("cnt"))
           .withColumn("cell_id", F.col("y") * 1000 + F.col("x")))
    wtop = Window.orderBy(F.desc("cnt"), F.asc("cell_id"))
    rk = occ.withColumn("rk", F.row_number().over(wtop))
    stores = (rk.where(F.col("rk") <= int(n_stores))
              .select(F.col("y").alias("sy"), F.col("x").alias("sx"),
                      F.col("cell_id").alias("store_cell")))
    demands = (rk.where((F.col("rk") > int(n_stores))
                        & (F.col("rk") <= int(n_stores) + int(n_demands)))
               .select(F.col("y").alias("dy"), F.col("x").alias("dx"),
                       F.col("cell_id").alias("demand_cell")))
    cand = (stores.crossJoin(demands)
            .select("store_cell", "demand_cell",
                    ((F.col("sy") - F.col("dy"))
                     * (F.col("sy") - F.col("dy"))
                     + (F.col("sx") - F.col("dx"))
                     * (F.col("sx") - F.col("dx"))).cast("long")
                    .alias("d2"))
            .coalesce(1).localCheckpoint(eager=True))
    parts = []
    avail = cand
    for r in range(1, int(n_stores) + 1):
        pick = (avail.agg(F.min(F.struct("d2", "store_cell",
                                         "demand_cell")).alias("m"))
                .select(F.lit(r).cast("long").alias("round"),
                        F.col("m.store_cell").alias("store_cell"),
                        F.col("m.demand_cell").alias("demand_cell"),
                        F.col("m.d2").alias("d2"))
                .coalesce(1).localCheckpoint(eager=True))
        parts.append(pick)
        avail = (avail.crossJoin(F.broadcast(
            pick.select(F.col("store_cell").alias("ps"),
                        F.col("demand_cell").alias("pd"))))
            .where((F.col("store_cell") != F.col("ps"))
                   & (F.col("demand_cell") != F.col("pd")))
            .drop("ps", "pd")
            .coalesce(1).localCheckpoint(eager=True))
    out = reduce(DataFrame.unionByName, parts)
    return out


def directional_variogram(df: DataFrame, max_ring: int = 5,
                          lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Directional empirical variogram over 1-degree cell loads — the
    geostatistics primitive kriging starts from, and the one spatial-
    structure number the autocorrelation family (q105 Moran, q239
    Geary) does not give: HOW FAR and IN WHICH DIRECTION does spatial
    similarity persist.  For occupied-cell pairs at lag (dy, dx)
    within Chebyshev ring ``max_ring``, the semivariance numerator
    ``sum (c_a - c_b)^2`` and pair count per (sector, ring) — E-W,
    N-S, and the two diagonals, the standard 4-direction sweep; an
    anisotropic field (coastline, road corridor) shows one sector's
    variance growing much slower.

    Only pairs with BOTH cells occupied enter (the observed-support
    variogram, documented); every emitted quantity is an exact
    integer.  The half-plane offset set counts each unordered pair
    exactly once.

    Scale shape: one occupancy aggregate; the lag expansion is an
    equi-join of the occupied set against itself per generated
    offset (offsets are a constant ~60-element array, the join key is
    (y+dy, x+dx)) — grid-bounded, never data-sized.  Returns
    ``(sector, ring, n_pairs, sum_d2)``."""
    from . import cache

    oy = F.floor(F.col(lat) + F.lit(90.0)).cast("long")
    ox = F.floor(F.col(lon) + F.lit(180.0)).cast("long")
    occ = (df.select(oy.alias("y"), ox.alias("x"))
           .groupBy("y", "x").agg(F.count("*").alias("c"))
           .persist())
    r = int(max_ring)
    offs = [(dy, dx) for dy in range(0, r + 1) for dx in range(-r, r + 1)
            if (dy > 0 or dx > 0) and max(abs(dy), abs(dx)) <= r]
    arr = F.array(*[F.struct(F.lit(dy).cast("long").alias("dy"),
                             F.lit(dx).cast("long").alias("dx"))
                    for dy, dx in offs])
    a = (occ.select("y", "x", "c", F.explode(arr).alias("o"))
         .select("y", "x", "c", F.col("o.dy").alias("dy"),
                 F.col("o.dx").alias("dx"),
                 (F.col("y") + F.col("o.dy")).alias("y2"),
                 (F.col("x") + F.col("o.dx")).alias("x2")))
    b = occ.select(F.col("y").alias("y2"), F.col("x").alias("x2"),
                   F.col("c").alias("c2"))
    ady = F.abs(F.col("dy"))
    adx = F.abs(F.col("dx"))
    sector = (F.when((F.col("dy") == 0) | (adx >= 3 * ady), 0)
              .when((F.col("dx") == 0) | (ady >= 3 * adx), 1)
              .when(F.col("dx") > 0, 2).otherwise(3))
    ring = F.greatest(ady, adx)
    out = (a.join(b, ["y2", "x2"])
           .select(sector.cast("long").alias("sector"),
                   ring.cast("long").alias("ring"),
                   ((F.col("c") - F.col("c2"))
                    * (F.col("c") - F.col("c2"))).alias("d2"))
           .groupBy("sector", "ring")
           .agg(F.count("*").cast("long").alias("n_pairs"),
                F.sum("d2").cast("long").alias("sum_d2")))
    return cache.track(out, [occ])
