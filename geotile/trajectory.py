"""Trajectory / mobility analytics over keyed position streams.

The reference engine stores per-key position logs (AddPos timelines,
mapinfo.cpp:151-215) but never ANALYZES them as trajectories; a
web-scale spatial engine answers the standard mobility questions asked
of exactly that table: is this GPS fix physically plausible
(speed filter — the geo twin of the text quality filters, run before
any location data enters a training mix), where did the key dwell
(stay points), how does traffic flow between cells (origin-destination
matrix), and which keys co-occur (co-location pairs — contact-graph /
dedup-by-device input).

All four operators are window/aggregate compositions of native column
expressions (no UDFs): one shuffle on the key for the lag-based ones,
one shuffle on the (cell, bucket) pair for co-location.  Distances are
the native :func:`geotile.udfs.haversine_col` (whole-stage codegen);
thresholded outputs and ROUND(4) speeds keep results exact under the
DuckDB oracle gate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import udfs


def _lagged(df: DataFrame, key: str, ts: str, order_col: str,
            lat: str, lon: str) -> DataFrame:
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(order_col).asc())
    return (df.withColumn("_plat", F.lag(lat).over(w))
            .withColumn("_plon", F.lag(lon).over(w))
            .withColumn("_pts", F.lag(ts).over(w)))


def speed_filter(df: DataFrame, max_speed_mps: float = 40.0,
                 key: str = "user_id", ts: str = "ep",
                 order_col: str = "event_id",
                 lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Physical-plausibility filter for GPS fixes: great-circle speed
    from the key's previous fix; a fix faster than ``max_speed_mps``
    (or with a non-increasing clock) is flagged ``keep = false`` — the
    standard teleport/jitter cleaner run over raw location logs before
    they feed any spatial aggregate or training mix.

    Returns the input plus ``(dist4, dt_s, speed4, keep)``; the first
    fix of a key keeps (no prior) and carries -1.0 sentinels instead of
    NULLs (a NULL double round-trips differently through the oracle
    gate's pandas fetch — NaN vs None; the sentinel keeps the gate
    value-exact), as does ``speed4`` for a non-increasing clock.
    ``speed4`` is ROUND(m/s, 4).  One shuffle (the per-key window); all
    expressions native."""
    d = _lagged(df, key, ts, order_col, lat, lon)
    dist = udfs.haversine_col(F.col("_plat"), F.col("_plon"),
                              F.col(lat), F.col(lon))
    dt = F.col(ts) - F.col("_pts")
    first = F.col("_pts").isNull()
    na = F.lit(-1.0)
    speed = F.when(first | (dt <= 0), na).otherwise(dist / dt)
    keep = first | ((dt > 0) & (speed <= max_speed_mps))
    return (d.withColumn("dist4", F.when(first, na).otherwise(F.round(dist, 4)))
            .withColumn("dt_s", F.when(first, na).otherwise(dt).cast("double"))
            .withColumn("speed4", F.when(first | (dt <= 0), na)
                        .otherwise(F.round(speed, 4)))
            .withColumn("keep", keep)
            .drop("_plat", "_plon", "_pts"))


def stay_points(df: DataFrame, radius_m: float = 300.0,
                min_dwell_s: int = 1800, key: str = "user_id",
                ts: str = "ep", order_col: str = "event_id",
                lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Stay-point (dwell) detection, consecutive-chain formulation: a
    run of a key's consecutive fixes each within ``radius_m`` of the
    PREVIOUS fix is one candidate stay; candidates spanning at least
    ``min_dwell_s`` seconds are emitted as
    ``(key, stay_id, n_fixes, t_start, t_end, clat, clon)``.

    The centroid is the mean of the fixes SNAPPED to a 1e-4-degree
    grid (``sum(round(lat * 1e4)) / (1e4 * n)``): integer sums are
    summation-ORDER-independent, so the result is bit-identical across
    partitionings and engines — a plain ``avg(lat)`` varies in the
    last ulp with Spark's partial-aggregation order and cannot sit
    under a value-exact gate (~11 m snap; dwell radii are hundreds of
    meters).

    The chain rule (distance to previous fix) is the SQL-exact
    simplification of anchor-based stay detection (Li et al. 2008
    measure from the run's first fix); chains over-merge slow drift —
    acceptable for cell-level dwell features and exactly replicable.
    Same plan shape as sessionize: lag -> boundary flag -> running sum
    -> one aggregate; one shuffle total."""
    d = _lagged(df, key, ts, order_col, lat, lon)
    dist = udfs.haversine_col(F.col("_plat"), F.col("_plon"),
                              F.col(lat), F.col(lon))
    new_run = F.when(F.col("_pts").isNull() | (dist > radius_m), 1).otherwise(0)
    w = (Window.partitionBy(key)
         .orderBy(F.col(ts).asc(), F.col(order_col).asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    runs = (d.withColumn("_new", new_run)
            .withColumn("stay_id", F.sum("_new").over(w)))
    snap = 10000.0
    out = (runs.groupBy(key, "stay_id")
           .agg(F.count("*").alias("n_fixes"),
                F.min(ts).alias("t_start"),
                F.max(ts).alias("t_end"),
                F.sum(F.round(F.col(lat) * snap).cast("long")).alias("_slat"),
                F.sum(F.round(F.col(lon) * snap).cast("long")).alias("_slon"))
           .where((F.col("t_end") - F.col("t_start")) >= min_dwell_s)
           .where(F.col("n_fixes") >= 2))
    return (out.withColumn(
                "clat", F.col("_slat").cast("double")
                / (F.lit(snap) * F.col("n_fixes")))
            .withColumn(
                "clon", F.col("_slon").cast("double")
                / (F.lit(snap) * F.col("n_fixes")))
            .drop("_slat", "_slon"))


def od_matrix(df: DataFrame, nchars: int = 4, key: str = "user_id",
              ts: str = "ep", order_col: str = "event_id",
              cell_col: str = "geohash") -> DataFrame:
    """Origin-destination flow matrix at cell granularity: each
    consecutive fix pair of a key whose cell CHANGED contributes one
    (origin_cell, dest_cell) flow; output is the count per directed
    pair.  The input must already carry ``cell_col`` (engine.with_cell).

    Scale shape: one per-key window (lag) then one (o, d) count — the
    flow table is tiny next to the fixes (bounded by occupied cell
    pairs), so the second shuffle's operand has already collapsed
    map-side."""
    o = F.substring(F.col(cell_col), 1, nchars)
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(order_col).asc())
    d = (df.withColumn("_d", o)
         .withColumn("_o", F.lag("_d").over(w)))
    return (d.where(F.col("_o").isNotNull() & (F.col("_o") != F.col("_d")))
            .groupBy(F.col("_o").alias("o_cell"), F.col("_d").alias("d_cell"))
            .agg(F.count("*").alias("n_flows")))


def colocation_pairs(df: DataFrame, bucket_s: int = 600, nchars: int = 5,
                     min_cooc: int = 2, key: str = "user_id",
                     ts: str = "ep", cell_col: str = "geohash",
                     max_bucket_keys: int = 1000) -> DataFrame:
    """Co-location pairs: keys observed in the SAME cell prefix within
    the SAME time bucket, counted over distinct (cell, bucket)
    co-occurrences; pairs seen at least ``min_cooc`` times are emitted
    as ``(a, b, n_cooc)`` with a < b.  The contact-graph primitive
    (same-device detection, companion mining).

    Scale shape — the LSH-pairs discipline applied to space-time
    buckets: first collapse to DISTINCT (key, cell, bucket) map-side
    (a key pinging 100x in one bucket is one row), then cap
    pathological buckets (a stadium cell-bucket with ``>
    max_bucket_keys`` keys would fan out quadratically), then the
    bucket self-join emits ordered pairs and one count.  No all-pairs
    join anywhere; fan-out per bucket is C(n_keys, 2) with n_keys
    bounded.  The distinct bucket table is persisted (it feeds the size
    guard AND both self-join sides — four plan branches otherwise
    recompute the dominant shuffle); callers release via
    ``geotile.cache.release``.  Capped buckets are not silent: the
    dropped (cell, bucket) pairs are attached to the result as the
    ``_geotile_dropped_buckets_df`` DataFrame — a LAZY frame over the
    already-persisted bucket table (no driver action at construction;
    count it when reporting — the standard df-cap honesty trade,
    reported instead of swallowed)."""
    from . import cache

    b = (df.select(F.col(key).alias("k"),
                   F.substring(F.col(cell_col), 1, nchars).alias("cell"),
                   F.floor(F.col(ts) / bucket_s).alias("tb"))
         .distinct().persist())
    sizes = b.groupBy("cell", "tb").agg(F.count("*").alias("_n"))
    ok = sizes.where(F.col("_n") <= max_bucket_keys).select("cell", "tb")
    kept = b.join(ok, ["cell", "tb"])
    l = kept.select("cell", "tb", F.col("k").alias("a"))
    r = kept.select("cell", "tb", F.col("k").alias("b"))
    pairs = (l.join(r, ["cell", "tb"])
             .where(F.col("a") < F.col("b")))
    out = (pairs.groupBy("a", "b").agg(F.count("*").alias("n_cooc"))
           .where(F.col("n_cooc") >= min_cooc))
    out = cache.track(out, [b])
    out._geotile_dropped_buckets_df = (  # type: ignore[attr-defined]
        sizes.where(F.col("_n") > max_bucket_keys))
    return out


def daily_trip_distance(df: DataFrame, bucket_s: int = 86400,
                        key: str = "user_id", ts: str = "ep",
                        order_col: str = "event_id",
                        lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Distance traveled per key per day: each consecutive fix pair is
    one leg credited to the day of its DESTINATION fix; leg lengths
    floor to integer millimeters before the sum, so the per-day total
    is summation-order-independent and engine-exact (a double sum of
    haversines varies in the last ulp with aggregation order).

    Returns ``(key, day, n_legs, dist_mm)``.  One per-key window
    shuffle + one (key, day) count — same shape as od_matrix."""
    d = _lagged(df, key, ts, order_col, lat, lon)
    dist = udfs.haversine_col(F.col("_plat"), F.col("_plon"),
                              F.col(lat), F.col(lon))
    mm = F.floor(dist * 1000.0).cast("long")
    return (d.where(F.col("_pts").isNotNull())
            .select(F.col(key), F.expr(f"{ts} DIV {bucket_s}").alias("day"),
                    mm.alias("_mm"))
            .groupBy(key, "day")
            .agg(F.count("*").alias("n_legs"), F.sum("_mm").alias("dist_mm")))


def daily_rate_anomalies(events: DataFrame, bucket_s: int = 86400,
                         key: str = "user_id", ts: str = "ep",
                         sigmas: int = 2) -> DataFrame:
    """Per-key daily event-rate anomaly flags with INTEGER-EXACT
    z-score arithmetic: a day is anomalous iff its count exceeds the
    key's mean by more than ``sigmas`` population standard deviations.
    The test ``(c - S/n)^2 > sigmas^2 * (n*SS - S^2) / n^2`` is
    multiplied through by n^2 so the whole comparison is
    ``(c*n - S)^2 > sigmas^2 * (n*SS - S^2) AND c*n > S`` — pure
    BIGINT, no doubles, exact in any engine (the bursty-key /
    scraper-detection screen run over raw event logs).

    Returns ``(key, day, n_events, is_anomaly)``.  Two aggregates: the
    (key, day) count collapses map-side; the per-key moment table is
    key-sized and joins back."""
    day = F.expr(f"{ts} DIV {bucket_s}").alias("day")
    daily = (events.select(F.col(key), day)
             .groupBy(key, "day").agg(F.count("*").alias("n_events")))
    mom = (daily.groupBy(key)
           .agg(F.count("*").alias("_n"),
                F.sum("n_events").alias("_s"),
                F.sum(F.col("n_events") * F.col("n_events")).alias("_ss")))
    dev = F.col("n_events") * F.col("_n") - F.col("_s")
    rhs = F.lit(sigmas * sigmas) * (F.col("_n") * F.col("_ss")
                                    - F.col("_s") * F.col("_s"))
    return (daily.join(mom, key)
            .withColumn("is_anomaly", (dev > 0) & (dev * dev > rhs))
            .drop("_n", "_s", "_ss"))


def session_trip_stats(df: DataFrame, gap_s: int = 3600,
                       key: str = "user_id", ts: str = "ep",
                       order_col: str = "event_id",
                       lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Per-session trip statistics: gap-based sessions (a new session
    starts after ``gap_s`` seconds of silence, engine.sessionize's
    rule) with, per (key, session), the fix count, the number of
    intra-session legs, the traveled distance (legs floored to integer
    millimeters pre-sum — order-independent, exact), and the session
    duration.  The per-trip mobility summary (commute mining, trip
    tables for OD calibration).

    ONE window pass computes the lagged fix AND the session boundary
    flag together, so the whole operator is a single per-key shuffle +
    one aggregate — the same plan as sessionize with the leg math
    fused in."""
    d = _lagged(df, key, ts, order_col, lat, lon)
    new_s = F.when(F.col("_pts").isNull()
                   | ((F.col(ts) - F.col("_pts")) > gap_s), 1).otherwise(0)
    w = (Window.partitionBy(key)
         .orderBy(F.col(ts).asc(), F.col(order_col).asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    dist = udfs.haversine_col(F.col("_plat"), F.col("_plon"),
                              F.col(lat), F.col(lon))
    leg = F.when((F.col("_pts").isNotNull()) & (new_s == 0), 1).otherwise(0)
    mm = F.when(leg == 1, F.floor(dist * 1000.0).cast("long")).otherwise(0)
    s = (d.withColumn("_new", new_s)
         .withColumn("session_id", F.sum("_new").over(w))
         .withColumn("_leg", leg)
         .withColumn("_mm", mm))
    return (s.groupBy(key, "session_id")
            .agg(F.count("*").alias("n_fixes"),
                 F.sum("_leg").alias("n_legs"),
                 F.sum("_mm").alias("dist_mm"),
                 (F.max(ts) - F.min(ts)).alias("duration_s")))


def geofence_transitions(df: DataFrame, fence: "list[str]", nchars: int = 2,
                         key: str = "user_id", ts: str = "ep",
                         order_col: str = "event_id",
                         cell_col: str = "geohash") -> DataFrame:
    """Geofence enter/exit detection over keyed position logs: one
    transition row whenever consecutive fixes of a key cross the
    boundary of the fence.  The fence is a set of geohash PREFIXES of
    length ``nchars`` — geohash prefixes nest, so membership of a fix
    whose ``cell_col`` is any longer hash is a single substring test
    against a tiny literal set (no spatial join, no polygon math at
    transition time; cover the fence polygon with cells ONCE up front,
    the way the reference covers radius queries, mapinfo.cpp:229-262).

    The standard alerting primitive over AddPos-style timelines
    (delivery zones, airport perimeters, campus presence): emits
    ``(key, order_col, ts, cell, transition)`` with transition in
    ('enter', 'exit'), ``cell`` the fence-resolution prefix of the fix.
    A key's first fix never transitions; output is NULL-free.

    Scale shape: ONE shuffle (the per-key lag window — same exchange
    every other trajectory operator rides); membership and the
    transition flag are native column expressions inside whole-stage
    codegen, and the typically <<1% transition rows are filtered before
    anything downstream.  100-TB note: the window partitions by key, so
    skewed devices (fleet trackers) bound a partition — the same
    exposure as speed_filter, use salted_topn-style pre-thin only if a
    single key exceeds an executor's sort buffer."""
    pref = F.substring(F.col(cell_col), 1, nchars)
    inside = pref.isin(*[str(c) for c in fence])
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(order_col).asc())
    d = (df.withColumn("_in", inside)
         .withColumn("_pin", F.lag("_in").over(w)))
    return (d.where(F.col("_pin").isNotNull() & (F.col("_pin") != F.col("_in")))
            .select(key, order_col, ts, pref.alias("cell"),
                    F.when(F.col("_in"), F.lit("enter"))
                    .otherwise(F.lit("exit")).alias("transition")))


def bearing_sectors(df: DataFrame, nsect: int = 8,
                    key: str = "user_id", ts: str = "ep",
                    order_col: str = "event_id",
                    lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Movement-direction histogram: the initial great-circle bearing
    of every consecutive-fix leg, binned into ``nsect`` equal compass
    sectors, counted per key — the standard flow-orientation /
    map-matching prior over AddPos-style timelines (which way does
    traffic through a cell actually move).  Returns one NULL-free row
    per (key, sector) with ``n_legs``.

    Bearing: theta = atan2(sin dlon * cos lat2,
    cos lat1 * sin lat2 - sin lat1 * cos lat2 * cos dlon), normalized
    to [0, 360) degrees; sector = theta DIV (360/nsect).  Cross-engine
    exactness rests on snapping to the sector INTEGER before counting
    (the engine-wide double discipline): a last-ulp trig difference
    flips a sector only when a bearing sits exactly on a boundary —
    and the reachable exact boundaries (due-north 0 via sin(0)=0,
    due-south via atan2(+-0, x<0) = +-pi) are IEEE-mandated identical
    in both engines.  The rad->deg conversion is the EXPLICIT
    ``theta * 180.0 / pi`` op sequence on BOTH sides (never each
    engine's degrees(): one multiplies by a precomputed 180/pi, the
    other divides — a genuinely different rounding).  Scale shape:
    ONE per-key window shuffle (the
    same exchange every trajectory operator rides) + one (key, sector)
    aggregate that partial-aggregates map-side; all expressions native
    inside whole-stage codegen — no Python anywhere."""
    if nsect < 1 or 360 % nsect != 0:
        raise ValueError("need nsect >= 1 dividing 360")
    d = _lagged(df, key, ts, order_col, lat, lon).where(
        F.col("_plat").isNotNull())
    la1, lo1 = F.radians("_plat"), F.radians("_plon")
    la2, lo2 = F.radians(lat), F.radians(lon)
    dl = lo2 - lo1
    import math as _math

    theta = F.atan2(
        F.sin(dl) * F.cos(la2),
        F.cos(la1) * F.sin(la2) - F.sin(la1) * F.cos(la2) * F.cos(dl)
    ) * F.lit(180.0) / F.lit(_math.pi)
    norm = (theta % F.lit(360.0) + F.lit(360.0)) % F.lit(360.0)
    width = 360 // nsect
    sector = F.least(F.floor(norm / F.lit(float(width))).cast("long"),
                     F.lit(nsect - 1))
    return (d.select(F.col(key), sector.alias("sector"))
            .groupBy(key, "sector").agg(F.count("*").alias("n_legs")))


def covisit_jaccard(df: DataFrame, nchars: int = 2,
                    max_cell_users: int = 1000, min_shared: int = 2,
                    key: str = "user_id",
                    cell_col: str = "geohash") -> DataFrame:
    """User-user co-visitation similarity: EXACT Jaccard over each
    key's distinct visited cell-prefix set — the location-profile
    analog of document MinHash (users as documents, visited cells as
    tokens), the primitive behind friend-suggestion / same-household
    detection over AddPos-style timelines.  Pairs sharing at least
    ``min_shared`` cells are emitted as ``(a, b, shared, n_a, n_b,
    jac_ppm)`` with a < b; ``jac_ppm`` is exact integer
    parts-per-million (shared * 1e6 DIV union — no doubles anywhere).

    Scale shape — the inverted-index / LSH-pairs discipline applied to
    space: collapse to DISTINCT (key, cell) map-side (a key pinging
    100x in one cell is one posting), DROP cells visited by more than
    ``max_cell_users`` keys (an airport cell carries no similarity
    signal and fans out quadratically — the df cap; dropped cells are
    NOT silent: they ride on the result as the lazy
    ``_geotile_dropped_cells_df``, same honesty trade as
    colocation_pairs), posting-list self-join per cell, ONE (a, b)
    count aggregate, and the ``min_shared`` filter runs BEFORE the
    per-key set sizes attach by two slim key joins (the
    filter-before-pair-shuffle rule).  Set sizes are computed over the
    SAME capped visit table, so both Jaccard operands see identical
    sets.  The visit table is persisted (it feeds the cap guard, both
    join sides, and the size table); callers release via
    ``geotile.cache.release``."""
    from . import cache

    v = (df.select(F.col(key).alias("k"),
                   F.substring(F.col(cell_col), 1, nchars).alias("cell"))
         .distinct().persist())
    sizes = v.groupBy("cell").agg(F.count("*").alias("_n"))
    ok = sizes.where(F.col("_n") <= max_cell_users).select("cell")
    kept = v.join(ok, ["cell"]).persist()
    n_per_key = kept.groupBy("k").agg(F.count("*").alias("n_cells"))
    pairs = (kept.select("cell", F.col("k").alias("a"))
             .join(kept.select("cell", F.col("k").alias("b")), ["cell"])
             .where(F.col("a") < F.col("b"))
             .groupBy("a", "b").agg(F.count("*").alias("shared"))
             .where(F.col("shared") >= int(min_shared)))
    out = (pairs
           .join(n_per_key.select(F.col("k").alias("a"),
                                  F.col("n_cells").alias("n_a")), "a")
           .join(n_per_key.select(F.col("k").alias("b"),
                                  F.col("n_cells").alias("n_b")), "b")
           .select("a", "b", "shared", "n_a", "n_b",
                   F.expr("shared * 1000000 DIV (n_a + n_b - shared)")
                   .alias("jac_ppm")))
    out = cache.track(out, [v, kept])
    out._geotile_dropped_cells_df = sizes.where(  # type: ignore[attr-defined]
        F.col("_n") > max_cell_users)
    return out


def radius_of_gyration(df: DataFrame, key: str = "user_id",
                       lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Radius of gyration per key (Gonzalez/Hidalgo/Barabasi 2008): the
    RMS great-circle distance of a key's fixes from their centroid —
    THE standard mobility-range statistic (commuter vs traveler
    separation, anomaly baselining).  Returns one row per key:
    ``(key, n_fixes, rg_m)``.

    Exactness discipline (the engine-wide double rule: snap to
    integers before any order-dependent aggregate): the centroid is
    the mean of milli-degree INTEGER snaps (floor(x*1000+0.5) — exact
    int sums commute under any partial-agg order; the mean's two
    double divisions are IEEE-correctly-rounded, identical in both
    engines), each fix's haversine distance to it is floored to
    integer METERS before squaring (d^2 <= 4e14 — no int64 overflow
    even at antipodes; the SUM overflows int64 only past ~23k
    antipodal-range fixes per key, where ANSI mode fails LOUD rather
    than wrapping — pre-aggregate per (key, cell) or snap to
    decameters upstream for such keys), and rg = floor(sqrt(sum/n)).
    Scale shape: one
    keyed centroid aggregate, one key join to re-attach centroids
    (both sides hash on the key — co-partitioned under AQE), one keyed
    final aggregate; haversine is the native column expression, zero
    Python."""
    mlat = udfs.milli(F.col(lat))
    mlon = udfs.milli(F.col(lon))
    cent = (df.groupBy(key)
            .agg(F.count("*").alias("n_fixes"),
                 F.sum(mlat).alias("_slat"),
                 F.sum(mlon).alias("_slon")))
    clat = (F.col("_slat").cast("double") / F.col("n_fixes").cast("double")
            ) / F.lit(1000.0)
    clon = (F.col("_slon").cast("double") / F.col("n_fixes").cast("double")
            ) / F.lit(1000.0)
    j = df.select(F.col(key), F.col(lat), F.col(lon)).join(
        cent.select(key, "n_fixes", clat.alias("_clat"),
                    clon.alias("_clon")), key)
    d = F.floor(udfs.haversine_col(
        F.col("_clat"), F.col("_clon"), F.col(lat), F.col(lon))).cast("long")
    return (j.select(F.col(key), F.col("n_fixes"), (d * d).alias("_d2"))
            .groupBy(key, "n_fixes").agg(F.sum("_d2").alias("_s"))
            .select(key, "n_fixes",
                    F.floor(F.sqrt(F.col("_s").cast("double")
                                   / F.col("n_fixes").cast("double")))
                    .cast("long").alias("rg_m")))


def anchor_cells(df: DataFrame, nchars: int = 4, key: str = "user_id",
                 ts: str = "ep", cell_col: str = "geohash",
                 night: "tuple[int, int]" = (0, 6),
                 work: "tuple[int, int]" = (9, 17)) -> DataFrame:
    """Home/work anchor inference — the classic two-anchor reduction
    of an AddPos timeline (mapinfo.cpp:151-215 stores the raw log;
    this answers "where does the key LIVE / WORK"): per key, the most-
    visited ``nchars``-prefix cell during night hours is ``home`` and
    during working hours is ``work``, with visit counts.  Ties break
    to the lexicographically smallest cell; keys with fixes in neither
    window drop; a missing side carries ``('', 0)`` sentinels rather
    than NULLs (the oracle gate's pandas fetch turns nullable columns
    into NaN — dtype-mismatch).  Hours are pure integer UTC arithmetic
    ``(ep % 86400) DIV 3600`` on POSITIVE epochs (no timezone/calendar
    builtins — identical in any engine); half-open ranges
    ``[night), [work)``.

    Scale shape: the fix log is touched once by a (key, daypart, cell)
    count that partial-aggregates map-side, so the window shuffle
    operand is the collapsed count frame (key x 2 x distinct-cells),
    not the log; the argmax is one row_number window; the two-column
    pivot is a second keyed aggregate of the ≤2-rows-per-key winners.
    Returns ``(key, home_cell, home_n, work_cell, work_n)``."""
    hour = F.expr(f"({ts} % 86400) DIV 3600")
    part = (F.when((hour >= night[0]) & (hour < night[1]), F.lit("home"))
            .when((hour >= work[0]) & (hour < work[1]), F.lit("work")))
    c = (df.select(F.col(key), part.alias("_p"),
                   F.substring(F.col(cell_col), 1, nchars).alias("_cell"))
         .where(F.col("_p").isNotNull())
         .groupBy(key, "_p", "_cell").agg(F.count("*").alias("n")))
    w = Window.partitionBy(key, "_p").orderBy(F.col("n").desc(),
                                              F.col("_cell").asc())
    top = c.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    side = {p: (F.max(F.when(F.col("_p") == p, F.col("_cell"))),
                F.max(F.when(F.col("_p") == p, F.col("n"))))
            for p in ("home", "work")}
    return (top.groupBy(key)
            .agg(F.coalesce(side["home"][0], F.lit("")).alias("home_cell"),
                 F.coalesce(side["home"][1],
                            F.lit(0).cast("long")).alias("home_n"),
                 F.coalesce(side["work"][0], F.lit("")).alias("work_cell"),
                 F.coalesce(side["work"][1],
                            F.lit(0).cast("long")).alias("work_n")))


def visit_entropy(df: DataFrame, nchars: int = 2, key: str = "user_id",
                  cell_col: str = "geohash") -> DataFrame:
    """Per-key location entropy (the random-entropy term of Song et
    al. 2010, "Limits of Predictability in Human Mobility"): Shannon
    entropy of the key's visit-frequency distribution over cell
    prefixes, in exact integer NANO-BITS — ``ent_nano = -sum_cell
    floor(p * log2(p) * 1e9)`` — the mobility-diversity screen
    (commuter vs explorer separation, bot detection) that pairs with
    :func:`radius_of_gyration`'s spatial range.  Returns one row per
    key: ``(key, n_fixes, n_cells, ent_nano)``.

    Exactness and scale shape mirror textops.char_entropy: the
    (key, cell) count partial-aggregates map-side so the first shuffle
    operand is key x distinct-cells (tiny next to the fix log); totals
    ride a second keyed aggregate over that collapsed frame and
    re-attach by a slim same-key join; each cell's nano-bit term
    floors to an integer BEFORE the final sum, making the result
    independent of partial-aggregation order and engine-exact (a raw
    double entropy sum varies in the last ulp with the add order)."""
    cell = F.substring(F.col(cell_col), 1, nchars)
    cnts = (df.select(F.col(key), cell.alias("_cell"))
            .groupBy(key, "_cell").agg(F.count("*").alias("c")))
    tot = cnts.groupBy(key).agg(F.sum("c").alias("n_fixes"),
                                F.count("*").alias("n_cells"))
    j = cnts.join(tot, key)
    p = F.col("c") / F.col("n_fixes")
    term = F.floor(p * F.log2(p) * F.lit(1000000000.0)).cast("long")
    return (j.select(F.col(key), F.col("n_fixes"), F.col("n_cells"),
                     term.alias("_t"))
            .groupBy(key, "n_fixes", "n_cells")
            .agg((-F.sum("_t")).cast("long").alias("ent_nano")))


def hausdorff_pairs(df: DataFrame, key: str = "user_id",
                    lat: str = "lat", lon: str = "lon",
                    scale: int = 16) -> DataFrame:
    """Symmetric Hausdorff distance between every pair of keys whose
    trajectories share at least one grid cell — the trajectory-
    SIMILARITY measure completing the mobility family (q82 answers
    "who was in the same place at the same TIME"; this answers "whose
    paths trace the same SHAPE", the standard metric for co-travel /
    duplicate-device detection and GPS-track dedup).

    A trajectory is collapsed to its DISTINCT grid-cell set
    (``floor(lat*scale), floor(lon*scale)`` — 1/scale-degree cells,
    ~7 km at scale=16) and the Hausdorff runs between the two CELL-
    CENTER point sets: ``H = max(h(A,B), h(B,A))`` with ``h(A,B) =
    max over a of min over b of dist(a, b)``.  Candidate pairs are the
    keys sharing >= 1 exact cell (the q82 co-location discipline:
    containment-gated, not all-pairs); each pointwise distance floors
    to integer METERS before the min/max ladder, so the result is an
    exact BIGINT the q133 oracle replays verbatim (min/max over
    integers is order-independent; a raw double would vary in the last
    ulp only through the haversine itself, which both engines compute
    with the identical op sequence).

    Scale shape: raw fixes collapse to the distinct (key, cell) frame
    in ONE partially-aggregated shuffle (the q131 discipline) —
    per-key size is bounded by the activity AREA, independent of fix
    count.  The candidate self-join runs on that collapsed frame; the
    per-pair cross frame is |cells_A| x |cells_B| rows, persisted once
    and aggregated twice (one directed max-min per orientation).
    Returns ``(key_a, key_b, n_cells_a, n_cells_b, hausdorff_m)``.
    """
    from . import cache

    s = float(scale)
    cells = (df.select(F.col(key).alias("k"),
                       F.floor(F.col(lat) * s).cast("long").alias("ilat"),
                       F.floor(F.col(lon) * s).cast("long").alias("ilon"))
             .distinct().persist())
    a = cells.select(F.col("k").alias("ka"), "ilat", "ilon")
    b = cells.select(F.col("k").alias("kb"), F.col("ilat").alias("blat"),
                     F.col("ilon").alias("blon"))
    pairs = (a.join(b, (a["ilat"] == b["blat"]) & (a["ilon"] == b["blon"])
                    & (a["ka"] < b["kb"]))
             .select("ka", "kb").distinct())
    ca = cells.select(F.col("k").alias("ka"), F.col("ilat").alias("alat"),
                      F.col("ilon").alias("alon"))
    cb = cells.select(F.col("k").alias("kb"), F.col("ilat").alias("blat"),
                      F.col("ilon").alias("blon"))
    cross = pairs.join(ca, "ka").join(cb, "kb")
    d = F.floor(udfs.haversine_col(
        (F.col("alat") + F.lit(0.5)) / F.lit(s),
        (F.col("alon") + F.lit(0.5)) / F.lit(s),
        (F.col("blat") + F.lit(0.5)) / F.lit(s),
        (F.col("blon") + F.lit(0.5)) / F.lit(s))).cast("long")
    cross = cross.withColumn("d", d).persist()
    h_ab = (cross.groupBy("ka", "kb", "alat", "alon")
            .agg(F.min("d").alias("dm"))
            .groupBy("ka", "kb").agg(F.max("dm").alias("h_ab")))
    h_ba = (cross.groupBy("ka", "kb", "blat", "blon")
            .agg(F.min("d").alias("dm"))
            .groupBy("ka", "kb").agg(F.max("dm").alias("h_ba")))
    sizes = cells.groupBy("k").agg(F.count("*").alias("nc"))
    out = (h_ab.join(h_ba, ["ka", "kb"])
           .join(sizes.select(F.col("k").alias("ka"),
                              F.col("nc").alias("n_cells_a")), "ka")
           .join(sizes.select(F.col("k").alias("kb"),
                              F.col("nc").alias("n_cells_b")), "kb")
           .select(F.col("ka").alias("key_a"), F.col("kb").alias("key_b"),
                   "n_cells_a", "n_cells_b",
                   F.greatest("h_ab", "h_ba").alias("hausdorff_m")))
    return cache.track(out, [cells, cross])


def route_ngrams(df: DataFrame, key: str = "user_id", ts: str = "ep",
                 order_col: str = "event_id", cell_col: str = "geohash",
                 nchars: int = 4, min_count: int = 2) -> DataFrame:
    """Common-corridor mining: count every 3-cell SEQUENCE (trigram of
    consecutive DISTINCT cells along a key's time-ordered fix stream)
    across all keys — the sequence-pattern dual of q81's OD matrix
    (which counts single transitions; three cells is the shortest
    n-gram that captures a TURN, the unit of route reconstruction).
    Dwell is collapsed first (consecutive repeats of one cell emit
    nothing), so a parked device contributes no corridors.

    Scale shape: ONE per-key window shuffle does everything — the
    dwell-collapse lag, then two leads over the collapsed stream; the
    trigram count partial-aggregates map-side, so the second exchange
    moves the (c1, c2, c3) count frame (corridor-vocabulary sized, not
    fix sized).  All string/integer ops — the q135 oracle replays the
    windows verbatim.  Returns ``(c1, c2, c3, n)`` with n >= min_count.
    """
    cell = F.substring(F.col(cell_col), 1, nchars)
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(),
                                        F.col(order_col).asc())
    moved = (df.select(F.col(key), F.col(ts), F.col(order_col),
                       cell.alias("_c"))
             .withColumn("_prev", F.lag("_c").over(w))
             .where(F.col("_prev").isNull() | (F.col("_prev") != F.col("_c"))))
    w2 = Window.partitionBy(key).orderBy(F.col(ts).asc(),
                                         F.col(order_col).asc())
    tri = (moved.withColumn("_c2", F.lead("_c", 1).over(w2))
           .withColumn("_c3", F.lead("_c", 2).over(w2))
           .where(F.col("_c3").isNotNull()))
    return (tri.groupBy(F.col("_c").alias("c1"), F.col("_c2").alias("c2"),
                        F.col("_c3").alias("c3"))
            .agg(F.count("*").alias("n"))
            .where(F.col("n") >= min_count))


def od_travel_times(df: DataFrame, nchars: int = 4, key: str = "user_id",
                    ts: str = "ep", order_col: str = "event_id",
                    cell_col: str = "geohash") -> DataFrame:
    """Travel-TIME matrix: q81's OD flows, keeping the elapsed seconds
    of each transition — the ETA / routing-cost primitive (the flow
    count says how many went o->d; this says how long o->d takes).
    Each consecutive fix pair whose cell changed contributes its
    integer time delta ``ts - lag(ts)`` (the last fix in the origin
    run to the first fix in the destination run, so dwell at the
    origin is excluded by construction).  Output per directed (o, d):
    ``(o_cell, d_cell, n_trips, total_s, min_s, max_s)`` — all exact
    BIGINTs (consumers divide for the mean; a double avg would vary in
    the last ulp with partial-agg order, the q86 discipline).

    Scale shape: identical to od_matrix — ONE per-key window (lag x2
    in the same frame) then one (o, d) aggregate that partial-
    aggregates map-side to the occupied-cell-pair frame."""
    c = F.substring(F.col(cell_col), 1, nchars)
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(order_col).asc())
    d = (df.withColumn("_d", c)
         .withColumn("_o", F.lag("_d").over(w))
         .withColumn("_dt", (F.col(ts) - F.lag(ts).over(w)).cast("long")))
    return (d.where(F.col("_o").isNotNull() & (F.col("_o") != F.col("_d")))
            .groupBy(F.col("_o").alias("o_cell"), F.col("_d").alias("d_cell"))
            .agg(F.count("*").alias("n_trips"),
                 F.sum("_dt").alias("total_s"),
                 F.min("_dt").alias("min_s"),
                 F.max("_dt").alias("max_s")))


def _visit_frame(df: DataFrame, nchars: int, key: str, ts: str,
                 order_col: str, cell_col: str) -> DataFrame:
    """Gaps-and-islands VISIT collapse shared by cell_occupancy (q140)
    and revisit_rates (q154): a key's consecutive fixes in one cell
    become one ``(_k, _c, _run, _s, _e)`` interval row.  ONE fix-sized
    shuffle (the per-key window; the groupBy reuses its hash
    partitioning — key is a subset of the grouping key)."""
    c = F.substring(F.col(cell_col), 1, nchars)
    w = Window.partitionBy("_k").orderBy(F.col("_t").asc(), F.col("_o").asc())
    runs = (df.select(F.col(key).alias("_k"), F.col(ts).alias("_t"),
                      F.col(order_col).alias("_o"), c.alias("_c"))
            .withColumn("_prev", F.lag("_c").over(w))
            .withColumn("_new", F.when(F.col("_prev").isNull()
                                       | (F.col("_prev") != F.col("_c")),
                                       F.lit(1)).otherwise(F.lit(0)))
            .withColumn("_run", F.sum("_new").over(w)))
    return (runs.groupBy("_k", "_c", "_run")
            .agg(F.min("_t").alias("_s"), F.max("_t").alias("_e")))


def cell_occupancy(df: DataFrame, nchars: int = 4, key: str = "user_id",
                   ts: str = "ep", order_col: str = "event_id",
                   cell_col: str = "geohash") -> DataFrame:
    """Peak simultaneous occupancy per cell — the LOAD question the
    visit-count queries can't answer (q81/q137 count transitions, q86
    counts trips; capacity planning needs "how many keys were inside
    AT ONCE, and when").  A key's consecutive fixes in one cell
    collapse to a VISIT interval ``[first_ep, last_ep]`` (inclusive;
    gaps-and-islands run ids), then the classic sweep line runs per
    cell: +1 at start, -1 at ``end+1`` (so back-to-back visits that
    touch at one epoch DO overlap), deltas summed per epoch and
    cumulated in epoch order — the running sum IS the concurrency.

    All exact integers: occupancy counts, dwell seconds, and the peak
    epoch (earliest epoch attaining the max, struct-argmax over
    ``(occ, -ep)``) survive any partial-agg order, so the oracle
    replays the identical windows.  Returns ``(cell, n_visits,
    total_dwell_s, max_concurrent, peak_ep)``.

    Scale shape: ONE fix-sized shuffle (the per-key window; the
    visit groupBy reuses its hash partitioning — user_id is a subset
    of the grouping key, no second exchange), then everything runs on
    the visit-BOUNDARY frame (2 rows per visit): one cell-keyed
    shuffle for the sweep, and the per-cell window + both final
    aggregates reuse that partitioning.  A hot cell costs its visit
    count, never its fix count.  The visits frame feeds two branches
    (sweep + dwell stats), so it persists; callers release via
    geotile.cache.track."""
    from . import cache

    visits = _visit_frame(df, nchars, key, ts, order_col, cell_col).persist()
    deltas = (visits.select(
        F.col("_c").alias("cell"),
        F.explode(F.array(
            F.struct(F.col("_s").alias("ep"),
                     F.lit(1).cast("long").alias("d")),
            F.struct((F.col("_e") + F.lit(1)).alias("ep"),
                     F.lit(-1).cast("long").alias("d")))).alias("e"))
        .select("cell", F.col("e.ep").alias("ep"), F.col("e.d").alias("d"))
        .groupBy("cell", "ep").agg(F.sum("d").alias("dd")))
    occ = deltas.withColumn(
        "occ", F.sum("dd").over(
            Window.partitionBy("cell").orderBy(F.col("ep").asc())))
    peak = (occ.groupBy("cell")
            .agg(F.max(F.struct(F.col("occ"), (-F.col("ep")).alias("nep")))
                 .alias("m"))
            .select("cell", F.col("m.occ").alias("max_concurrent"),
                    (-F.col("m.nep")).alias("peak_ep")))
    stats = (visits.groupBy(F.col("_c").alias("cell"))
             .agg(F.count("*").alias("n_visits"),
                  F.sum(F.col("_e") - F.col("_s")).alias("total_dwell_s")))
    return cache.track(stats.join(peak, "cell"), [visits])


def resample_track(df: DataFrame, step: int = 600, max_gap: int = 3600,
                   key: str = "user_id", ts: str = "ep",
                   order_col: str = "event_id",
                   lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Fixed-grid trajectory resampling: linearly interpolate each
    key's track at every ``step``-second grid tick that falls INSIDE a
    consecutive-fix gap no wider than ``max_gap`` — the densification
    primitive map matching / stay detection / training-sequence
    builders all want (irregular GPS goes in, a uniform time series
    comes out; gaps wider than ``max_gap`` are NOT bridged, the
    standard rule — interpolating across a signal outage fabricates a
    straight-line teleport).

    Exactness: coordinates quantize to integer micro-degrees up front;
    each interpolated value is ``pla + floor(dla * (g - pe) / dt)`` —
    one fixed-shape expression per output row (exact int64 products,
    one double divide + floor), so both engines compute bit-identical
    results with no aggregation-order exposure (the q134 doubles
    discipline).  Ticks are the multiples of ``step`` in ``(pe, ce]``;
    zero-length gaps are skipped (no divide by zero, deterministic
    under the (ts, order) ordering).

    Scale shape: ONE per-key window shuffle (the lag), then a map-only
    sequence-explode whose fan-out is the caller's densification
    choice (``<= max_gap/step`` rows per fix pair, a constant).
    Returns ``(key, tick_ep, ilat6, ilon6)``."""
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(order_col).asc())
    d = (df.select(F.col(key), F.col(ts), F.col(order_col),
                   F.floor(F.col(lat) * 1e6).cast("long").alias("_la"),
                   F.floor(F.col(lon) * 1e6).cast("long").alias("_lo"))
         .withColumn("_pla", F.lag("_la").over(w))
         .withColumn("_plo", F.lag("_lo").over(w))
         .withColumn("_pe", F.lag(ts).over(w)))
    dt = F.col(ts) - F.col("_pe")
    seg = d.where(F.col("_pe").isNotNull() & (dt > 0) & (dt <= max_gap))
    st = F.lit(int(step)).cast("long")
    gstart = F.col("_pe") - (F.col("_pe") % st) + st
    gstop = F.col(ts) - (F.col(ts) % st)
    ticks = seg.select(
        F.col(key), F.col(ts), "_pe", "_pla", "_plo", "_la", "_lo",
        F.explode(F.when(gstart <= gstop, F.sequence(gstart, gstop, st))
                  .otherwise(F.array().cast("array<long>"))).alias("g"))
    ila = (F.col("_pla") + F.floor((F.col("_la") - F.col("_pla"))
                                   * (F.col("g") - F.col("_pe"))
                                   / (F.col(ts) - F.col("_pe")))).cast("long")
    ilo = (F.col("_plo") + F.floor((F.col("_lo") - F.col("_plo"))
                                   * (F.col("g") - F.col("_pe"))
                                   / (F.col(ts) - F.col("_pe")))).cast("long")
    return ticks.select(F.col(key), F.col("g").alias("tick_ep"),
                        ila.alias("ilat6"), ilo.alias("ilon6"))


def cell_trend(df: DataFrame, nchars: int = 4, ts: str = "ep",
               cell_col: str = "geohash") -> DataFrame:
    """Per-cell OLS trend of daily fix counts — the parametric twin of
    q131's Mann-Kendall (MK answers "is there a monotone trend";
    this answers "how steep"): regress daily count y on epoch-day x
    and emit the slope as the EXACT rational
    ``slope_num / slope_den = (n*Sxy - Sx*Sy) / (n*Sx2 - Sx*Sx)``
    (all BIGINT sums — partial-agg order can't move them), plus the
    floored micro-slope for human eyes (identical double op tree both
    engines).  Cells observed on < 2 distinct days are dropped (the
    denominator would be 0).

    Scale shape: one (cell, day) partial-agg collapses the fixes,
    one (cell) aggregate collapses the days; the regression is five
    integer sums — nothing iterates, nothing sorts.  At corpus scales
    where n*Sxy outgrows int64 (~1e18), switch the sums to
    DECIMAL(38,0) (the q73 discipline).  Returns ``(cell, n_days,
    sum_y, slope_num, slope_den, slope_micro)``."""
    cell = F.substring(F.col(cell_col), 1, nchars)
    daily = (df.groupBy(cell.alias("cell"),
                        F.expr(f"{ts} div 86400").alias("d"))
             .agg(F.count("*").alias("y")))
    g = (daily.groupBy("cell")
         .agg(F.count("*").alias("n_days"),
              F.sum("d").alias("_sx"),
              F.sum("y").alias("sum_y"),
              F.sum(F.col("d") * F.col("y")).alias("_sxy"),
              F.sum(F.col("d") * F.col("d")).alias("_sx2")))
    num = F.col("n_days") * F.col("_sxy") - F.col("_sx") * F.col("sum_y")
    den = F.col("n_days") * F.col("_sx2") - F.col("_sx") * F.col("_sx")
    return (g.where(F.col("n_days") >= 2)
            .withColumn("slope_num", num.cast("long"))
            .withColumn("slope_den", den.cast("long"))
            .withColumn("slope_micro",
                        F.floor(F.col("slope_num") * F.lit(1000000)
                                / F.col("slope_den")).cast("long"))
            .select("cell", "n_days", "sum_y", "slope_num", "slope_den",
                    "slope_micro"))


def revisit_rates(df: DataFrame, gap_s: int = 86400, nchars: int = 4,
                  key: str = "user_id", ts: str = "ep",
                  order_col: str = "event_id",
                  cell_col: str = "geohash") -> DataFrame:
    """Revisitation / geo-retention per cell: of the keys that ever
    visited, how many came BACK — a later visit starting at least
    ``gap_s`` after their previous visit to the same cell ended (the
    habit-vs-transit split behind place ranking; the spatial twin of
    q76's cohort retention).  Counts are exact integers; the rate is
    the exact rational (n_returners, n_visitors) — consumers divide.

    Scale shape: the shared q140 visit collapse (one fix-sized window
    shuffle), then ONE (key, cell) window over the visit frame (lag
    of the previous visit's end) and one per-cell aggregate — both on
    interval rows, never fixes.  Returns ``(cell, n_visitors,
    n_returners, n_returns)``."""
    visits = _visit_frame(df, nchars, key, ts, order_col, cell_col)
    w = Window.partitionBy("_k", "_c").orderBy(F.col("_s").asc(),
                                               F.col("_run").asc())
    v = (visits.withColumn("_pe", F.lag("_e").over(w))
         .withColumn("_isret", F.col("_pe").isNotNull()
                     & (F.col("_s") - F.col("_pe") >= gap_s)))
    return (v.groupBy(F.col("_c").alias("cell"))
            .agg(F.countDistinct("_k").alias("n_visitors"),
                 F.countDistinct(F.when(F.col("_isret"), F.col("_k")))
                 .alias("n_returners"),
                 F.sum(F.when(F.col("_isret"), F.lit(1))
                       .otherwise(F.lit(0))).cast("long")
                 .alias("n_returns")))


def turn_stats(df: DataFrame, key: str = "user_id", ts: str = "ep",
               order_col: str = "event_id",
               lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Per-key turn-direction profile: for every consecutive fix
    triple (p0, p1, p2) the INTEGER cross product of the two
    micro-degree displacement vectors classifies the turn — positive
    = left, negative = right, zero = collinear (straight or exact
    reversal) — and one aggregate counts each class per key.  The
    relative-heading complement of ``bearing_sectors`` (absolute
    compass flow): a tortuosity / GPS-jitter screen (a pedestrian
    track turns constantly, a highway track barely) with NO
    trigonometry anywhere, so cross-engine exactness is free.

    Coordinates snap ONCE to integer micro-degrees via the engine-wide
    floor(x * 1e6 + 0.5) tie rule; every downstream operand (deltas,
    cross products, counts, the net left-right balance) is exact
    int64 (micro-degree deltas < 2e6, products < 4e12 — no ANSI
    overflow).  Scale shape: ONE per-key window shuffle (two lags
    over the shared trajectory exchange) + one per-key aggregate that
    partial-aggregates map-side; all native expressions inside
    whole-stage codegen.  Returns ``(key, n_turns, n_left, n_right,
    n_straight, net_lr)`` with n_turns = the triple count."""
    ila = F.floor(F.col(lat) * F.lit(1000000.0) + F.lit(0.5))
    ilo = F.floor(F.col(lon) * F.lit(1000000.0) + F.lit(0.5))
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(),
                                        F.col(order_col).asc())
    d = (df.select(F.col(key), F.col(ts), F.col(order_col),
                   ila.alias("_y"), ilo.alias("_x"))
         .withColumn("_y1", F.lag("_y", 1).over(w))
         .withColumn("_x1", F.lag("_x", 1).over(w))
         .withColumn("_y2", F.lag("_y", 2).over(w))
         .withColumn("_x2", F.lag("_x", 2).over(w))
         .where(F.col("_y2").isNotNull()))
    cross = ((F.col("_x1") - F.col("_x2")) * (F.col("_y") - F.col("_y1"))
             - (F.col("_y1") - F.col("_y2")) * (F.col("_x") - F.col("_x1")))
    d = d.select(F.col(key), cross.alias("_c"))
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    return (d.groupBy(key)
            .agg(F.count("*").alias("n_turns"),
                 F.sum(F.when(F.col("_c") > 0, one).otherwise(zero))
                 .alias("n_left"),
                 F.sum(F.when(F.col("_c") < 0, one).otherwise(zero))
                 .alias("n_right"),
                 F.sum(F.when(F.col("_c") == 0, one).otherwise(zero))
                 .alias("n_straight"))
            .withColumn("net_lr", F.col("n_left") - F.col("n_right")))


def markov_transitions(df: DataFrame, nchars: int = 4, key: str = "user_id",
                       ts: str = "ep", order_col: str = "event_id",
                       cell_col: str = "geohash") -> DataFrame:
    """First-order Markov next-cell transition model: every consecutive
    fix pair of a key contributes one (origin, destination) observation
    — INCLUDING self-loops, which carry the dwell probability that
    :func:`od_matrix` (flows only) deliberately drops.  Output per
    directed cell pair: the transition count ``n``, the exact
    floor-division probability ``p_micro = n * 1e6 DIV total_from_o``
    (integer micro-units — no float ever touches the model), and the
    per-origin rank ``rnk`` (count desc, destination asc) so a
    next-location predictor reads rank 1 directly.

    Scale shape: one per-key window (lag) on the shared trajectory
    exchange, one (o, d) count that partial-aggregates map-side, then
    one per-ORIGIN window over the collapsed pair table (bounded by
    occupied cell pairs, tiny next to the fixes).  All native
    expressions; the per-origin window's groups are at most the
    per-cell fan-out (destinations reachable in one step), so no skew
    salting is needed even for hub cells."""
    c = F.substring(F.col(cell_col), 1, nchars)
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(order_col).asc())
    d = (df.withColumn("_d", c)
         .withColumn("_o", F.lag("_d").over(w))
         .where(F.col("_o").isNotNull()))
    flows = (d.groupBy(F.col("_o").alias("o_cell"), F.col("_d").alias("d_cell"))
             .agg(F.count("*").alias("n")))
    wo = Window.partitionBy("o_cell")
    wr = Window.partitionBy("o_cell").orderBy(F.col("n").desc(),
                                              F.col("d_cell").asc())
    return (flows.withColumn("_tot", F.sum("n").over(wo))
            .withColumn("p_micro", F.expr("n * 1000000 DIV _tot"))
            .withColumn("rnk", F.row_number().over(wr).cast("long"))
            .drop("_tot"))


def markov_backtest(df: DataFrame, split_ep: int, nchars: int = 4,
                    key: str = "user_id", ts: str = "ep",
                    order_col: str = "event_id",
                    cell_col: str = "geohash") -> DataFrame:
    """Next-cell prediction BACKTEST: train the first-order Markov
    model (:func:`markov_transitions`, rank-1 destination per origin)
    on fixes BEFORE ``split_ep``, score it on transitions AFTER — the
    out-of-sample accuracy audit that turns q167's model into a
    measured claim.  Train and test halves lag independently (the one
    boundary-crossing pair per key is deliberately dropped — cheaper
    than a cross-half stitch and identical on both engines).  Origins
    unseen in training predict the ``''`` sentinel (never NULL) and
    score zero.  Returns per test origin: ``(o_cell, predicted,
    n_test, n_correct, acc_micro)`` with the exact floor-division
    accuracy.

    Scale shape: the model is a rank-1-per-origin cell table —
    broadcast-sized by construction — so the scoring join never
    shuffles the test fixes; each half pays the one per-key window."""
    train = df.where(F.col(ts) < F.lit(split_ep))
    test = df.where(F.col(ts) >= F.lit(split_ep))
    pred = (markov_transitions(train, nchars, key, ts, order_col, cell_col)
            .where(F.col("rnk") == 1)
            .select("o_cell", F.col("d_cell").alias("predicted")))
    c = F.substring(F.col(cell_col), 1, nchars)
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(),
                                        F.col(order_col).asc())
    t = (test.withColumn("_d", c)
         .withColumn("_o", F.lag("_d").over(w))
         .where(F.col("_o").isNotNull()))
    j = t.join(F.broadcast(pred), t["_o"] == pred["o_cell"], "left")
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    return (j.groupBy(F.col("_o").alias("o_cell"))
            .agg(F.max(F.coalesce("predicted", F.lit(""))).alias("predicted"),
                 F.count("*").alias("n_test"),
                 F.sum(F.when(F.col("_d") == F.col("predicted"), one)
                       .otherwise(zero)).alias("n_correct"))
            .withColumn("acc_micro",
                        F.expr("n_correct * 1000000 DIV n_test")))


def cell_changepoint(df: DataFrame, day0: int, ndays: int, nchars: int = 4,
                     cell_col: str = "geohash", ts: str = "ep") -> DataFrame:
    """Pettitt-style changepoint detection per cell: over each cell's
    DENSE daily count series (zero-filled from an explicit day window —
    absence is signal), the Mann-Whitney-type statistic
    ``U_t = sum over day pairs i <= t < j of sign(x_j - x_i)`` and the
    change day that maximizes ``|U_t|`` (tie: earliest day) — "when
    did this cell's traffic regime shift", the monitoring complement
    of q131's monotone-trend test (Pettitt 1979 detects a LEVEL step,
    Mann-Kendall a drift).  Every operand is int64: counts, signs,
    the prefix sums, the argmax.

    Cells whose series is CONSTANT (every day equal) carry no
    changepoint signal and are absent from the output — a property,
    not a bug (all U_t = 0).

    Scale shape: the fixes shuffle once into (cell, day) counts; the
    pair/prefix expansion is days^3 per cell — a CONSTANT of the
    window (30 days -> <= 4,495 rows/cell) materialized map-side from
    the collapsed table, never from the fixes; zero-sign pairs are
    dropped before the explode.  Returns ``(cell, change_day, u_stat,
    u_abs)``."""
    from . import cache

    c = F.substring(F.col(cell_col), 1, nchars)
    # persist the two collapsed frames: daily feeds both the grid and
    # the zero-fill join, dense feeds BOTH sides of the pair self-join
    # — without them every branch re-scans the fixes through the cell
    # UDF (plan-audited: 8 Arrow passes collapse to 1)
    daily = (df.select(c.alias("cell"),
                       F.expr(f"{ts} DIV 86400").alias("day"))
             .groupBy("cell", "day").agg(F.count("*").alias("x"))
             .persist())
    grid = (daily.select("cell").distinct()
            .select("cell",
                    F.explode(F.sequence(F.lit(day0),
                                         F.lit(day0 + ndays - 1)))
                    .alias("day")))
    dense = (grid.join(daily, ["cell", "day"], "left")
             .select("cell", "day",
                     F.coalesce("x", F.lit(0)).cast("long").alias("x"))
             .persist())
    a = dense.alias("a")
    b = dense.alias("b")
    sgn = (F.when(F.col("b.x") > F.col("a.x"), F.lit(1))
           .when(F.col("b.x") < F.col("a.x"), F.lit(-1))
           .otherwise(F.lit(0)).cast("long"))
    pairs = (a.join(b, (F.col("b.cell") == F.col("a.cell"))
                    & (F.col("b.day") > F.col("a.day")))
             .select(F.col("a.cell").alias("cell"),
                     F.col("a.day").alias("di"), F.col("b.day").alias("dj"),
                     sgn.alias("s"))
             .where(F.col("s") != 0))
    ex = pairs.select("cell", "s",
                      F.explode(F.sequence(F.col("di"),
                                           F.col("dj") - 1)).alias("t"))
    u = ex.groupBy("cell", "t").agg(F.sum("s").alias("u_stat"))
    w = Window.partitionBy("cell").orderBy(F.abs(F.col("u_stat")).desc(),
                                           F.col("t").asc())
    out = (u.withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") == 1)
           .select("cell", F.col("t").alias("change_day"), "u_stat",
                   F.abs("u_stat").alias("u_abs")))
    return cache.track(out, [daily, dense])


def poi_visits(df: DataFrame, pois, radius_key: bool = True,
               min_dwell_s: int = 1800, stay_radius_m: float = 300.0,
               key: str = "user_id", ts: str = "ep",
               order_col: str = "event_id", lat: str = "lat",
               lon: str = "lon") -> DataFrame:
    """POI visit attribution — the place-visits rollup: stay points
    (:func:`stay_points`) whose snapped-grid centroid falls within a
    POI's radius attribute one VISIT to that POI; per POI the visit
    count, distinct visitors, and dwell-second totals (exact int64
    sums over unix-second spans).  A stay inside two overlapping POIs
    attributes to both (radius-join semantics, like the engine's
    radius_join) — dedup-to-nearest is a caller policy, not silently
    imposed.  ``pois`` is a small literal list of ``(poi_id, lat, lon,
    radius_m)``.

    Scale shape: stays are the collapsed dwell table (one window
    shuffle, q80); the POI side is broadcast and the haversine refine
    is a native column expression — the fixes never shuffle again.
    Returns ``(poi_id, n_visits, n_users, dwell_s_sum, dwell_s_max)``
    for POIs with at least one visit."""
    stays = stay_points(df, radius_m=stay_radius_m,
                        min_dwell_s=min_dwell_s, key=key, ts=ts,
                        order_col=order_col, lat=lat, lon=lon)
    spark = df.sparkSession
    pdf = spark.createDataFrame(
        [(int(p), float(la), float(lo), float(r)) for p, la, lo, r in pois],
        "poi_id long, plat double, plon double, pradius double")
    dist = udfs.haversine_col(F.col("clat"), F.col("clon"),
                              F.col("plat"), F.col("plon"))
    hits = (stays.crossJoin(F.broadcast(pdf))
            .where(dist <= F.col("pradius")))
    return (hits.groupBy("poi_id")
            .agg(F.count("*").alias("n_visits"),
                 F.countDistinct(key).alias("n_users"),
                 F.sum(F.col("t_end") - F.col("t_start"))
                 .alias("dwell_s_sum"),
                 F.max(F.col("t_end") - F.col("t_start"))
                 .alias("dwell_s_max")))


def session_sinuosity(df: DataFrame, gap_s: int = 3600,
                      key: str = "user_id", ts: str = "ep",
                      order_col: str = "event_id", lat: str = "lat",
                      lon: str = "lon") -> DataFrame:
    """Route-deviation (sinuosity) per session: the ratio of the path
    length (sum of leg great-circle distances) to the straight-line
    great-circle distance between the session's first and last fix —
    the detour/tortuosity screen (a delivery detour or GPS drift
    scores high, a highway run sits near 1.0).  Sessions split on
    ``gap_s`` silence like :func:`session_trip_stats`.

    Exactness: legs and the endpoint chord floor to integer
    millimeters before any aggregate; the ratio is one floor division
    ``path_mm * 1e6 DIV chord_mm``.  Sessions whose endpoints coincide
    (chord 0) or with < 2 fixes are dropped — a loop's sinuosity is
    undefined, not infinite.  One per-key window shuffle + one
    aggregate; first/last fixes resolve via struct-ordered min/max (no
    second window)."""
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(),
                                        F.col(order_col).asc())
    d = (df.withColumn("_plat", F.lag(lat).over(w))
         .withColumn("_plon", F.lag(lon).over(w))
         .withColumn("_pts", F.lag(ts).over(w))
         .withColumn("_new",
                     F.when(F.col("_pts").isNull()
                            | (F.col(ts) - F.col("_pts") > gap_s),
                            1).otherwise(0)))
    ws = (Window.partitionBy(key)
          .orderBy(F.col(ts).asc(), F.col(order_col).asc())
          .rowsBetween(Window.unboundedPreceding, 0))
    d = d.withColumn("session_id", F.sum("_new").over(ws))
    leg = udfs.haversine_col(F.col("_plat"), F.col("_plon"),
                             F.col(lat), F.col(lon))
    leg_mm = (F.when(F.col("_new") == 0,
                     F.floor(leg * F.lit(1000.0)))
              .otherwise(F.lit(0))).cast("long")
    ends = (d.groupBy(key, "session_id")
            .agg(F.count("*").alias("n_fixes"),
                 F.sum(leg_mm).alias("path_mm"),
                 F.min(F.struct(F.col(ts), F.col(order_col),
                                F.col(lat).alias("la"),
                                F.col(lon).alias("lo"))).alias("_f"),
                 F.max(F.struct(F.col(ts), F.col(order_col),
                                F.col(lat).alias("la"),
                                F.col(lon).alias("lo"))).alias("_l")))
    chord = udfs.haversine_col(F.col("_f.la"), F.col("_f.lo"),
                               F.col("_l.la"), F.col("_l.lo"))
    return (ends.withColumn("chord_mm",
                            F.floor(chord * F.lit(1000.0)).cast("long"))
            .where((F.col("n_fixes") >= 2) & (F.col("chord_mm") > 0))
            .select(key, "session_id", "n_fixes", "path_mm", "chord_mm",
                    F.expr("path_mm * 1000000 DIV chord_mm")
                    .alias("sinuosity_micro")))


def decayed_cell_heat(df: DataFrame, asof_day: int, nchars: int = 4,
                      cell_col: str = "geohash", ts: str = "ep") -> DataFrame:
    """Freshness-weighted cell density: each fix contributes
    ``1e9 DIV 2^age_days`` (one-day half-life, EXACT integer halving —
    no float decay anywhere), summed per cell — the recency-aware heat
    a serving layer ranks cells by, where a plain count ranks a
    stale hub over a rising one.  Fixes older than 29 days contribute
    0 (the integer weight underflows), which IS the retention horizon.
    One map-side weight expression + one cell-keyed aggregate.
    Returns ``(cell, n, heat_nano)``."""
    age = F.lit(asof_day) - F.expr(f"{ts} DIV 86400")
    wgt = (F.when((age >= 0) & (age <= 29),
                  F.expr(f"1000000000 DIV shiftleft(CAST(1 AS BIGINT), "
                         f"CAST({asof_day} - {ts} DIV 86400 AS INT))"))
           .otherwise(F.lit(0))).cast("long")
    return (df.select(F.substring(F.col(cell_col), 1, nchars).alias("cell"),
                      wgt.alias("_w"))
            .groupBy("cell")
            .agg(F.count("*").alias("n"), F.sum("_w").alias("heat_nano")))


def dead_reckoning_error(df: DataFrame, key: str = "user_id",
                         ts: str = "ep", order_col: str = "event_id",
                         lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Dead-reckoning baseline error: predict each fix by LINEAR
    extrapolation of the previous two (constant velocity in
    micro-degree space — p' = p1 + (p1 - p0), time-free form), then
    measure the great-circle miss to the actual fix — the
    continuous-space prediction baseline next to q175's cell-level
    Markov backtest (any fancier motion model must beat THIS number).

    Exactness: coordinates snap once to integer micro-degrees
    (floor(x*1e6 + 0.5), the turn_stats rule) so the extrapolated
    point is exact integer arithmetic; each miss floors to integer
    meters before the per-key sums, making mean/max order-independent.
    Extrapolated latitudes can leave [-90, 90] on synthetic jumps —
    they CLAMP (documented; longitude wraps are left to the haversine,
    which is periodic).  One per-key window shuffle (two lags) + one
    aggregate.  Returns ``(key, n_preds, err_m_sum, err_m_max,
    err_m_mean)`` with the mean an exact floor division."""
    ila = F.floor(F.col(lat) * F.lit(1000000.0) + F.lit(0.5))
    ilo = F.floor(F.col(lon) * F.lit(1000000.0) + F.lit(0.5))
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(),
                                        F.col(order_col).asc())
    d = (df.select(F.col(key), F.col(ts), F.col(order_col),
                   ila.alias("_y"), ilo.alias("_x"))
         .withColumn("_y1", F.lag("_y", 1).over(w))
         .withColumn("_x1", F.lag("_x", 1).over(w))
         .withColumn("_y2", F.lag("_y", 2).over(w))
         .withColumn("_x2", F.lag("_x", 2).over(w))
         .where(F.col("_y2").isNotNull()))
    py = F.least(F.greatest(2 * F.col("_y1") - F.col("_y2"),
                            F.lit(-90000000)), F.lit(90000000))
    px = 2 * F.col("_x1") - F.col("_x2")
    err = udfs.haversine_col(py / F.lit(1000000.0), px / F.lit(1000000.0),
                             F.col("_y") / F.lit(1000000.0),
                             F.col("_x") / F.lit(1000000.0))
    e_m = F.floor(err).cast("long")
    return (d.select(F.col(key), e_m.alias("_e"))
            .groupBy(key)
            .agg(F.count("*").alias("n_preds"),
                 F.sum("_e").alias("err_m_sum"),
                 F.max("_e").alias("err_m_max"))
            .withColumn("err_m_mean", F.expr("err_m_sum DIV n_preds")))


def convoys(df: DataFrame, bucket_s: int = 3600, nchars: int = 4,
            min_len: int = 3, key: str = "user_id", ts: str = "ep",
            cell_col: str = "geohash",
            max_bucket_keys: int = 1000) -> DataFrame:
    """Convoy / flock detection (Jeung et al. 2008, cell-relaxed
    form): key pairs co-located — same cell prefix, same time bucket —
    in at least ``min_len`` CONSECUTIVE buckets.  Co-presence counts
    (:func:`colocation_pairs`) catch companions; consecutiveness is
    what separates TRAVELING TOGETHER from coincidental repeat
    encounters, and the gaps-and-islands run decomposition (the q140
    sweep idiom) expresses it exactly: within a pair, runs group by
    ``bucket - row_number`` and the longest run gates.

    Scale shape: the colocation discipline verbatim — distinct
    (key, cell, bucket) collapse, hot-bucket cap, bucketed self-join —
    then per-PAIR windows over the distinct co-bucket table (pairs x
    their co-buckets, tiny next to the fixes).  A pair co-located in
    two cells within one bucket still counts that bucket once
    (distinct buckets before the run split).  Returns ``(a, b,
    n_cooc_buckets, max_run)`` where max_run >= min_len."""
    from . import cache

    b = (df.select(F.col(key).alias("k"),
                   F.substring(F.col(cell_col), 1, nchars).alias("cell"),
                   F.floor(F.col(ts) / bucket_s).cast("long").alias("tb"))
         .distinct().persist())
    sizes = b.groupBy("cell", "tb").agg(F.count("*").alias("_n"))
    ok = sizes.where(F.col("_n") <= max_bucket_keys).select("cell", "tb")
    kept = b.join(ok, ["cell", "tb"])
    l = kept.select("cell", "tb", F.col("k").alias("a"))
    r = kept.select("cell", "tb", F.col("k").alias("b"))
    pb = (l.join(r, ["cell", "tb"])
          .where(F.col("a") < F.col("b"))
          .select("a", "b", "tb").distinct())
    w = Window.partitionBy("a", "b").orderBy(F.col("tb").asc())
    runs = (pb.withColumn("_g", F.col("tb") - F.row_number().over(w))
            .groupBy("a", "b", "_g").agg(F.count("*").alias("_len")))
    out = (runs.groupBy("a", "b")
           .agg(F.sum("_len").alias("n_cooc_buckets"),
                F.max("_len").alias("max_run"))
           .where(F.col("max_run") >= min_len))
    return cache.track(out, [b])


def fence_dwell(df: DataFrame, fence, nchars: int = 2,
                key: str = "user_id", ts: str = "ep",
                order_col: str = "event_id",
                cell_col: str = "geohash") -> DataFrame:
    """Geofence dwell ACCOUNTING — the billing/compliance rollup on
    top of :func:`geofence_transitions`' alerting: total seconds each
    key spends inside the fence, as the sum of durations of segments
    whose BOTH endpoints are inside (the conservative
    no-interpolation rule: boundary-crossing segments contribute
    nothing — an underestimate by at most one segment per crossing,
    documented rather than smoothed).  All integer epochs.  Keys that
    never complete an inside segment are absent.

    One per-key lag window (the shared trajectory exchange) + one
    aggregate.  Returns ``(key, n_segments, dwell_s)``."""
    pref = F.substring(F.col(cell_col), 1, nchars)
    inside = pref.isin(*[str(c) for c in fence])
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(),
                                        F.col(order_col).asc())
    d = (df.withColumn("_in", inside)
         .withColumn("_pin", F.lag("_in").over(w))
         .withColumn("_pts", F.lag(ts).over(w)))
    seg = d.where(F.col("_pin").isNotNull() & F.col("_pin") & F.col("_in"))
    return (seg.groupBy(key)
            .agg(F.count("*").alias("n_segments"),
                 F.sum(F.col(ts) - F.col("_pts")).alias("dwell_s")))


def hourly_acf(df: DataFrame, lat: str = "lat", lon: str = "lon",
               ts: str = "ep", cell_deg: float = 30.0,
               max_lag: int = 3) -> DataFrame:
    """Per-cell temporal autocorrelation raw moments: rasterize points
    to a coarse grid, count per (cell, hour), ZERO-FILL every cell's
    series over the GLOBAL observed hour span, and emit the exact
    integer moments of the lagged products — the periodicity /
    burstiness screen on cell activity (daily rhythm shows up as
    lag-24 mass; a flat cell gives lag sums ~ (sum_x)^2/n).

    Emits per cell: ``n_hours``, ``sum_x``, ``sum_x2``, and
    ``lag{1..max_lag} = sum_t x_t * x_(t+l)`` over the zero-filled
    series — all exact BIGINTs (the autocorrelation r_l is one
    division away; consumers compute, the gate compares integers).

    Scale shape: one data-sized (cell, hour) partial aggregation; the
    zero-fill grid is cells x hours (bounded by the grid and the time
    span, never by rows) built from a broadcast 1-row global span; the
    lag products are one window per cell over that bounded grid."""
    ybin, xbin, _, _ = udfs.deg_bins(F.col(lat), F.col(lon), cell_deg)
    hour = F.floor(F.col(ts) / F.lit(3600)).cast("long")
    counts = (df.select((ybin * 100000 + xbin).alias("cell_id"),
                        hour.alias("h"))
              .groupBy("cell_id", "h").agg(F.count("*").alias("x")))
    span = counts.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (counts.select("cell_id").distinct()
            .crossJoin(F.broadcast(span))
            .select("cell_id",
                    F.explode(F.sequence("h0", "h1")).alias("h")))
    filled = (grid.join(counts, ["cell_id", "h"], "left")
              .select("cell_id", "h",
                      F.coalesce("x", F.lit(0).cast("long")).alias("x")))
    w = Window.partitionBy("cell_id").orderBy("h")
    cols = [F.count("*").alias("n_hours"),
            F.sum("x").alias("sum_x"),
            F.sum(F.col("x") * F.col("x")).alias("sum_x2")]
    lagged = filled
    for l in range(1, max_lag + 1):
        lagged = lagged.withColumn(
            f"_n{l}", F.lead("x", l).over(w))
        cols.append(F.sum(F.col("x") * F.col(f"_n{l}")).alias(f"lag{l}"))
    return lagged.groupBy("cell_id").agg(*cols)


def simplify_tracks(df: DataFrame, eps_milli: int = 30000,
                    key: str = "user_id", ts: str = "ep",
                    lat: str = "lat", lon: str = "lon",
                    order_col: str = "event_id") -> DataFrame:
    """Douglas–Peucker polyline simplification per track, EXACT in
    integer milli-degree coordinates: keep both endpoints; for each
    candidate segment find the interior point with the maximum
    perpendicular offset and split there iff it exceeds ``eps_milli``
    — the trajectory-compression pass that cuts GPS tracks to their
    shape-defining vertices before storage or map matching.

    All geometry is integer: coordinates snap to milli-degrees via
    floor(x*1000 + 0.5) (the cross-engine tie rule), the offset test
    is the exact cross-product comparison ``cross^2 > eps^2 * |seg|^2``
    (arbitrary-precision on the single argmax candidate — int64 would
    overflow the square), and argmax ties break to the SMALLEST index.
    Degenerate segments (coincident endpoints) fall back to point
    distance.  The kept set is order-independent, so the recursion
    order doesn't matter.

    Scale shape: one shuffle groups each track (applyInPandas per
    key); inside, the per-SEGMENT loop is output-sized (one iteration
    per kept vertex) with the interior scan fully vectorized — never
    per-row Python over the raw points.  Tracks are bounded by key
    cardinality; a single pathological mega-track is the same skew
    unit every per-key window in this engine shares (salt upstream).

    Returns kept vertices ``(key, idx, x, y)`` where idx is the
    0-based position in the (ts, order_col)-sorted track, x/y are
    milli-degree lon/lat."""
    import numpy as np
    import pandas as pd

    eps = int(eps_milli)

    def _dp(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values([ts, order_col], kind="mergesort")
        xs = np.floor(pdf[lon].to_numpy() * 1000.0 + 0.5).astype(np.int64)
        ys = np.floor(pdf[lat].to_numpy() * 1000.0 + 0.5).astype(np.int64)
        n = len(xs)
        keep = np.zeros(n, dtype=bool)
        keep[0] = True
        keep[n - 1] = True
        stack = [(0, n - 1)]
        while stack:                      # one iteration per kept vertex
            i, j = stack.pop()
            if j <= i + 1:
                continue
            dx = int(xs[j]) - int(xs[i])
            dy = int(ys[j]) - int(ys[i])
            seglen2 = dx * dx + dy * dy
            vx = xs[i + 1:j] - xs[i]
            vy = ys[i + 1:j] - ys[i]
            if seglen2 == 0:
                d2 = vx * vx + vy * vy
                r = int(np.argmax(d2))
                split = int(d2[r]) > eps * eps
            else:
                cross = dx * vy - dy * vx
                r = int(np.argmax(np.abs(cross)))
                c = abs(int(cross[r]))
                split = c * c > eps * eps * seglen2       # exact big-int
            if split:
                m = i + 1 + r
                keep[m] = True
                stack.append((i, m))
                stack.append((m, j))
        out = pd.DataFrame({
            key: pdf[key].to_numpy(),
            "idx": np.arange(n, dtype=np.int64),
            "x": xs, "y": ys})
        return out[keep]

    cols = df.select(key, ts, order_col, lat, lon)
    return cols.groupBy(key).applyInPandas(
        _dp, f"{key} long, idx long, x long, y long")


def commute_anchors(df: DataFrame, cell_deg: float = 10.0,
                    night: tuple = (0, 6), day: tuple = (9, 17),
                    key: str = "user_id", ts: str = "ep",
                    lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Home/work anchor detection with commute-day accounting: per
    user the modal NIGHT-hours cell (home) and modal WORK-hours cell
    (work), ties to the smallest cell id, plus the number of days the
    user was observed at home during night hours AND at work during
    work hours — the classic mobility primitive behind commute-flow
    matrices (builds on q117's anchor_cells, adding the daypart split
    and the day-level conjunction).

    Returns ``(key, home_cell, work_cell, n_home_obs, n_work_obs,
    n_commute_days)``; users missing either anchor are dropped.

    Scale shape: one (user, cell, daypart) partial aggregation, two
    per-user top-1 windows over the collapsed frame, and day-level
    joins on already-distinct (user, date) frames — nothing data-sized
    after the first shuffle.  Cells pack as ``row * 1000 + column``, so
    ``cell_deg`` must give at most 1,000 columns (``cell_deg >= 0.36``);
    a finer grid raises ``ValueError`` rather than merge cells."""
    ybin, xbin, _, nx = udfs.deg_bins(F.col(lat), F.col(lon), cell_deg)
    if nx > 1000:
        raise ValueError(f"commute_anchors: cell_deg={cell_deg} gives {nx} columns; "
                         "cell ids pack row * 1000 + column, so at most 1000 fit")
    hod = (F.floor(F.col(ts) / F.lit(3600.0)).cast("long") % 24)
    base = df.select(F.col(key).alias("u"),
                     (ybin * 1000 + xbin).alias("cell"),
                     hod.alias("hod"),
                     F.floor(F.col(ts) / F.lit(86400.0)).cast("long")
                     .alias("d"))

    def _anchor(lo: int, hi: int, name: str, cnt: str) -> DataFrame:
        c = (base.where((F.col("hod") >= lo) & (F.col("hod") < hi))
             .groupBy("u", "cell").agg(F.count("*").alias(cnt)))
        w = Window.partitionBy("u").orderBy(F.desc(cnt), F.asc("cell"))
        return (c.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select("u", F.col("cell").alias(name), cnt))

    home = _anchor(night[0], night[1], "home_cell", "n_home_obs")
    work = _anchor(day[0], day[1], "work_cell", "n_work_obs")
    anchors = home.join(work, "u")
    nights = (base.where((F.col("hod") >= night[0])
                         & (F.col("hod") < night[1]))
              .select("u", "cell", "d").distinct())
    days = (base.where((F.col("hod") >= day[0]) & (F.col("hod") < day[1]))
            .select("u", "cell", "d").distinct())
    hd = (anchors.select(F.col("u").alias("cu"),
                         F.col("home_cell").alias("acell"))
          .join(nights, (F.col("cu") == nights["u"])
                & (F.col("acell") == nights["cell"]))
          .select("cu", "d"))
    wd = (anchors.select(F.col("u").alias("cu"),
                         F.col("work_cell").alias("acell"))
          .join(days, (F.col("cu") == days["u"])
                & (F.col("acell") == days["cell"]))
          .select("cu", "d"))
    comm = (hd.join(wd, ["cu", "d"]).distinct()
            .groupBy("cu").agg(F.count("*").alias("n_commute_days")))
    out = (anchors.join(comm, anchors["u"] == comm["cu"], "left")
           .select(F.col("u").alias(key), "home_cell", "work_cell",
                   "n_home_obs", "n_work_obs",
                   F.coalesce("n_commute_days", F.lit(0).cast("long"))
                   .alias("n_commute_days")))
    return out


def path_crossings(df: DataFrame, cell_milli: int = 5000,
                   key: str = "user_id", ts: str = "ep",
                   order_col: str = "event_id",
                   lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Exact path-crossing detection between users: consecutive track
    segments (milli-degree integer endpoints) PROPERLY intersecting a
    segment of a DIFFERENT user's track — the geometric complement of
    q82's co-location (same cell AND same time): a crossing is purely
    spatial evidence that two trajectories cut each other.

    Proper intersection is the strict orientation test
    ``o(A,B,C)*o(A,B,D) < 0 AND o(C,D,A)*o(C,D,B) < 0`` on exact
    int64 cross products — touching endpoints and collinear overlaps
    are NOT crossings (deterministic cross-engine tie rule).

    Scale shape: candidates come from an EQUI-join on the coarse grid
    cells each segment's bbox overlaps (sequence/explode — a segment
    spanning s cells appears s times, bounded by step length /
    cell_milli, never a theta join); the exact test is a native
    column filter run BEFORE the pair-dedup shuffle (hot cells emit
    duplicate candidates, not false pairs).  Returns one row per
    crossing segment pair: ``(u1, s1, u2, s2)`` with u1 < u2 and s*
    the 0-based segment index in (ts, order_col) order."""
    w = Window.partitionBy(key).orderBy(ts, order_col)
    segs = (df.select(
        F.col(key).alias("u"),
        (F.row_number().over(w) - 1).alias("s"),
        F.floor(F.col(lon) * 1000 + 0.5).cast("long").alias("ax"),
        F.floor(F.col(lat) * 1000 + 0.5).cast("long").alias("ay"),
        F.floor(F.lead(lon).over(w) * 1000 + 0.5).cast("long").alias("bx"),
        F.floor(F.lead(lat).over(w) * 1000 + 0.5).cast("long").alias("by"))
        .where(F.col("bx").isNotNull()))
    cm = F.lit(int(cell_milli))
    cells = (segs
             .withColumn("cx", F.explode(F.sequence(
                 F.floor(F.least("ax", "bx") / cm).cast("long"),
                 F.floor(F.greatest("ax", "bx") / cm).cast("long"))))
             .withColumn("cy", F.explode(F.sequence(
                 F.floor(F.least("ay", "by") / cm).cast("long"),
                 F.floor(F.greatest("ay", "by") / cm).cast("long")))))
    l = cells.select(F.col("u").alias("u1"), F.col("s").alias("s1"),
                     F.col("ax").alias("x1"), F.col("ay").alias("y1"),
                     F.col("bx").alias("x2"), F.col("by").alias("y2"),
                     "cx", "cy")
    r = cells.select(F.col("u").alias("u2"), F.col("s").alias("s2"),
                     F.col("ax").alias("x3"), F.col("ay").alias("y3"),
                     F.col("bx").alias("x4"), F.col("by").alias("y4"),
                     "cx", "cy")

    def _o(px, py, qx, qy, rx, ry):
        return ((F.col(qx) - F.col(px)) * (F.col(ry) - F.col(py))
                - (F.col(qy) - F.col(py)) * (F.col(rx) - F.col(px)))

    o1 = _o("x1", "y1", "x2", "y2", "x3", "y3")
    o2 = _o("x1", "y1", "x2", "y2", "x4", "y4")
    o3 = _o("x3", "y3", "x4", "y4", "x1", "y1")
    o4 = _o("x3", "y3", "x4", "y4", "x2", "y2")
    cand = (l.join(r, ["cx", "cy"])
            .where(F.col("u1") < F.col("u2"))
            .where((o1 * o2 < 0) & (o3 * o4 < 0))     # verify BEFORE dedup
            .select("u1", "s1", "u2", "s2").distinct())
    return cand


def haar_energy(df: DataFrame, lat: str = "lat", lon: str = "lon",
                ts: str = "ep", cell_deg: float = 30.0,
                levels: int = 3, span: int = 512) -> DataFrame:
    """Haar wavelet energy spectrum per cell over the hourly count
    series — the multi-resolution companion to :func:`hourly_acf`:
    level-l energy is the sum of squared Haar detail coefficients
    ``d_l[i] = sum_t x_t * sign_l(t)`` (sign flips on bit l-1 of the
    hour offset, blocks of 2^l hours), separating fast flicker
    (level 1) from slow drift (level 3) in exact integers.

    No zero-fill is needed: an absent hour contributes 0 to every
    detail sum, and all-empty blocks have d = 0 — so each level is
    ONE partially-aggregated groupBy over the observed (cell, hour)
    histogram, never a dense grid.  Hours are offsets from the global
    min hour, truncated to ``span`` (power of two).

    Returns per cell: ``(cell_id, n_obs, e1..e{levels})`` — all exact
    BIGINTs."""
    ybin, xbin, _, _ = udfs.deg_bins(F.col(lat), F.col(lon), cell_deg)
    hour = F.floor(F.col(ts) / F.lit(3600.0)).cast("long")
    raw = df.select((ybin * 100000 + xbin).alias("cell_id"),
                    hour.alias("h"))
    h0 = raw.agg(F.min("h").alias("h0"))
    base = (raw.crossJoin(F.broadcast(h0))
            .select("cell_id", (F.col("h") - F.col("h0")).alias("t"))
            .where(F.col("t") < int(span))
            .groupBy("cell_id", "t").agg(F.count("*").alias("x")))
    out = base.groupBy("cell_id").agg(F.sum("x").alias("n_obs"))
    for l in range(1, levels + 1):
        sign = F.lit(1) - F.lit(2) * (F.floor(F.col("t") / F.lit(1 << (l - 1)))
                                      .cast("long") % 2)
        d = (base.groupBy("cell_id",
                          F.floor(F.col("t") / F.lit(1 << l)).cast("long")
                          .alias("bl"))
             .agg(F.sum(F.col("x") * sign).alias("d")))
        e = d.groupBy("cell_id").agg(
            F.sum(F.col("d") * F.col("d")).alias(f"e{l}"))
        out = out.join(e, "cell_id")
    return out


def corridor_counts(df: DataFrame, cell_milli: int = 250,
                    key: str = "user_id", ts: str = "ep",
                    order_col: str = "event_id",
                    lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Exact LINE rasterization (supercover) of track segments onto a
    milli-degree grid, counted per cell — route-corridor heat, the
    segment-level member of the raster family (points -> q102/q183
    heat, polygons -> q147 fill, zones -> q226, blobs -> q216; this
    rasterizes the EDGES).  A cell counts a segment iff the continuous
    segment intersects it.

    Entirely relational and integer-exact in BOTH engines: per
    (segment, column) the clipped x-interval's y-endpoints are exact
    rationals ``n/den`` (den = dx*cell); their cell floors come from
    one double division whose distance from any integer is >= 1/den,
    far above double rounding error at these magnitudes (|n| <~ 1e8)
    — so floor is exact without bigint division.  Column/row touches
    on exact boundaries resolve by the same floor rule in both
    engines.

    Scale shape: one per-key window builds segments; each segment
    explodes to its spanned columns then rows (bounded by step length
    / cell size, never a theta join); traversals dedup on (key, seg,
    cell) BEFORE the per-cell rollup.  Returns ``(cx, cy, n_segments,
    n_users)``."""
    W = int(cell_milli)
    w = Window.partitionBy(key).orderBy(ts, order_col)
    raw = (df.select(
        F.col(key).alias("u"),
        (F.row_number().over(w) - 1).alias("s"),
        F.floor(F.col(lon) * 1000 + 0.5).cast("long").alias("px"),
        F.floor(F.col(lat) * 1000 + 0.5).cast("long").alias("py"),
        F.floor(F.lead(lon).over(w) * 1000 + 0.5).cast("long").alias("qx"),
        F.floor(F.lead(lat).over(w) * 1000 + 0.5).cast("long").alias("qy"))
        .where(F.col("qx").isNotNull()))
    # orient left-to-right so dx >= 0 (y swaps with its x)
    fwd = F.col("qx") >= F.col("px")
    segs = raw.select(
        "u", "s",
        F.when(fwd, F.col("px")).otherwise(F.col("qx")).alias("ax"),
        F.when(fwd, F.col("py")).otherwise(F.col("qy")).alias("ay"),
        F.when(fwd, F.col("qx")).otherwise(F.col("px")).alias("bx"),
        F.when(fwd, F.col("qy")).otherwise(F.col("py")).alias("by"))
    cols = (segs
            .withColumn("cx", F.explode(F.sequence(
                F.floor(F.col("ax") / W).cast("long"),
                F.floor(F.col("bx") / W).cast("long")))))
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    xlo = F.greatest(F.col("ax"), F.col("cx") * W)
    xhi = F.least(F.col("bx"), (F.col("cx") + 1) * W)
    n1 = F.col("ay") * dx + dy * (xlo - F.col("ax"))
    n2 = F.col("ay") * dx + dy * (xhi - F.col("ax"))
    den = dx * W
    cy1v = F.floor(F.least(n1, n2) / den).cast("long")
    cy2v = F.floor(F.greatest(n1, n2) / den).cast("long")
    cy1 = F.when(dx == 0, F.floor(F.least("ay", "by") / W).cast("long")) \
        .otherwise(cy1v)
    cy2 = F.when(dx == 0, F.floor(F.greatest("ay", "by") / W).cast("long")) \
        .otherwise(cy2v)
    cells = (cols.withColumn("cy", F.explode(F.sequence(cy1, cy2)))
             .select("u", "s", "cx", "cy").distinct())
    return (cells.groupBy("cx", "cy")
            .agg(F.count("*").alias("n_segments"),
                 F.countDistinct("u").alias("n_users")))


def step_direction_stats(df: DataFrame, key: str = "user_id",
                         ts: str = "ep", order_col: str = "event_id",
                         lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Circular (directional) statistics per key: the mean-resultant
    components of every consecutive-fix step direction — the vector
    summary q113's sector histogram can't give (a histogram says which
    octants; the resultant length says HOW directed the movement is,
    near 0 for a random walk, near 1 for a commute beeline, and the
    resultant angle gives the net heading).

    Directions are PLANAR unit vectors on the integer milli-degree
    plane: step (dx, dy) in snapped milli-degrees contributes
    ``cos = dx/|step|``, ``sin = dy/|step|``.  Exactness: each
    component quantizes to ``floor(1e6 * d / sqrt(dx^2+dy^2))``
    BEFORE the sum (the engine-wide double discipline — sqrt and
    divide are correctly-rounded IEEE ops, identical both engines;
    axis-aligned steps hit exact ±1e6/0).  Zero-length steps
    (consecutive fixes snapping to the same milli-cell) are skipped
    and counted separately.

    Scale shape: ONE per-key window shuffle (the shared trajectory
    exchange) + one per-key aggregate; all native column expressions.
    Returns ``(key, n_steps, n_zero, sum_cos_micro, sum_sin_micro)``
    — the resultant length/angle are one formula away."""
    d = _lagged(df, key, ts, order_col, lat, lon).where(
        F.col("_plat").isNotNull())
    px = udfs.milli(F.col(lon))
    py = udfs.milli(F.col(lat))
    qx = udfs.milli(F.col("_plon"))
    qy = udfs.milli(F.col("_plat"))
    dx, dy = px - qx, py - qy
    d2 = (dx * dx + dy * dy).cast("double")
    steps = d.select(F.col(key), dx.alias("dx"), dy.alias("dy"),
                     F.sqrt(d2).alias("ln"))
    zero = F.col("ln") == F.lit(0.0)
    cosm = F.floor(F.lit(1000000.0) * F.col("dx").cast("double")
                   / F.col("ln")).cast("long")
    sinm = F.floor(F.lit(1000000.0) * F.col("dy").cast("double")
                   / F.col("ln")).cast("long")
    return (steps.groupBy(key)
            .agg(F.sum(F.when(~zero, 1).otherwise(0)).cast("long")
                 .alias("n_steps"),
                 F.sum(F.when(zero, 1).otherwise(0)).cast("long")
                 .alias("n_zero"),
                 F.coalesce(F.sum(F.when(~zero, cosm)), F.lit(0))
                 .cast("long").alias("sum_cos_micro"),
                 F.coalesce(F.sum(F.when(~zero, sinm)), F.lit(0))
                 .cast("long").alias("sum_sin_micro")))


def gravity_residuals(df: DataFrame, nchars: int = 4,
                      key: str = "user_id", ts: str = "ep",
                      order_col: str = "event_id",
                      cell_col: str = "geohash") -> DataFrame:
    """Gravity-model baseline audit over the OD flow matrix: under
    independence the expected flow o->d is ``E = O_o * D_d / T``
    (origin marginal x destination marginal over the grand total —
    the zero-distance-exponent gravity baseline); the chi-square-
    style residual per OBSERVED flow pair says which corridors are
    over/under-served vs pure size effects — the q81 matrix's
    analytic layer, mirroring q244's independence audit on the
    spatial flow table.

    Emits per observed (o_cell, d_cell): the exact integer flow ``n``
    and marginals ``o_tot``/``d_tot``, plus ``e_micro = floor(1e6 *
    O*D/T)`` and ``g_micro = floor(1e6 * (n-E)^2/E)`` in ONE
    fixed-shape double expression each.  Only observed pairs are
    emitted (the zero-filled grid is origins x destinations — cell-
    quadratic; absent corridors are derivable from the marginals).

    Scale shape: rides :func:`od_matrix`'s collapsed flow frame (one
    window + one count shuffle over the fixes, everything after is
    flow-table-sized); marginals re-aggregate that collapsed frame
    and the grand total attaches as a 1-row broadcast."""
    from . import cache

    flows = od_matrix(df, nchars=nchars, key=key, ts=ts,
                      order_col=order_col, cell_col=cell_col).persist()
    ot = flows.groupBy("o_cell").agg(F.sum("n_flows").alias("o_tot"))
    dt = flows.groupBy("d_cell").agg(F.sum("n_flows").alias("d_tot"))
    tt = flows.agg(F.sum("n_flows").alias("t_tot"))
    j = (flows.join(ot, "o_cell").join(dt, "d_cell")
         .crossJoin(F.broadcast(tt)))
    e = (F.col("o_tot").cast("double") * F.col("d_tot").cast("double")
         / F.col("t_tot").cast("double"))
    d = F.col("n_flows").cast("double") - e
    out = j.select(
        "o_cell", "d_cell", F.col("n_flows").alias("n"),
        "o_tot", "d_tot",
        F.floor(F.lit(1000000.0) * e).cast("long").alias("e_micro"),
        F.floor(F.lit(1000000.0) * (d * d / e)).cast("long")
        .alias("g_micro"))
    return cache.track(out, [flows])


def ipf_fit(df: DataFrame, nchars: int = 4, rounds: int = 2,
            key: str = "user_id", ts: str = "ep",
            order_col: str = "event_id",
            cell_col: str = "geohash") -> DataFrame:
    """Doubly-constrained OD matrix fitting by iterative proportional
    fitting (IPF / Furness balancing): starting from a UNIFORM seed
    over the observed origin x destination grid, alternately rescale
    rows then columns to the observed flow margins for ``rounds``
    full rounds — the standard transport-planning estimator of the
    maximum-entropy flow table consistent with the margins, and the
    independence baseline q249's residuals are read against (IPF on a
    uniform seed converges to exactly that product form; finite
    rounds give the gated intermediate).

    Exactness: the table stays INTEGER micro-units throughout — each
    scaling is ``f' = floor(f * target_scaled / margin_sum)`` with
    the margin sum an exact BIGINT (integer sums are order-free, the
    engine-wide discipline; the one double product/divide per element
    is fixed-shape and identically rounded cross-engine).

    Scale shape: rides od_matrix's collapsed flow frame; the grid is
    origins x destinations (cell-quadratic, never data-sized); each
    scaling is one margin aggregate joined back — 2 bounded shuffles
    per round.  Returns ``(o_cell, d_cell, o_tot, d_tot, f_micro)``."""
    from . import cache

    flows = od_matrix(df, nchars=nchars, key=key, ts=ts,
                      order_col=order_col, cell_col=cell_col).persist()
    ot = flows.groupBy("o_cell").agg(F.sum("n_flows").alias("o_tot"))
    dt = flows.groupBy("d_cell").agg(F.sum("n_flows").alias("d_tot"))
    g = (ot.crossJoin(dt)
         .withColumn("f", F.lit(1000000).cast("long")))
    for _ in range(int(rounds)):
        rs = g.groupBy("o_cell").agg(F.sum("f").alias("rs"))
        g = (g.join(rs, "o_cell")
             .withColumn("f", F.floor(
                 F.col("f").cast("double")
                 * (F.col("o_tot") * F.lit(1000000)).cast("double")
                 / F.col("rs").cast("double")).cast("long"))
             .drop("rs"))
        cs = g.groupBy("d_cell").agg(F.sum("f").alias("cs"))
        g = (g.join(cs, "d_cell")
             .withColumn("f", F.floor(
                 F.col("f").cast("double")
                 * (F.col("d_tot") * F.lit(1000000)).cast("double")
                 / F.col("cs").cast("double")).cast("long"))
             .drop("cs"))
    out = g.select("o_cell", "d_cell", "o_tot", "d_tot",
                   F.col("f").alias("f_micro"))
    return cache.track(out, [flows])


def activity_streaks(df: DataFrame, t: str = "ep", nchars: int = 3,
                     cell_col: str = "geohash") -> DataFrame:
    """Per-cell activity STREAKS (gaps-and-islands over observed
    days): the longest run of consecutive active days, the number of
    distinct runs, and the run containing the last observed day —
    the continuity metric behind "reliably active place" vs
    "one-off event venue" labels (q131/q241 measure trend, q256 the
    level; streaks measure persistence).

    Exactness: the classic integer islands key ``day - row_number``
    groups consecutive days; every emitted quantity is a count.

    Scale shape: one data-sized partial aggregation to the (cell,
    day) frame; the islands window and rollups run per cell on that
    collapsed frame.  Returns ``(cell, n_days, n_streaks,
    max_streak, last_streak)``."""
    from . import cache

    cell = F.substring(F.col(cell_col), 1, nchars)
    days = (df.select(cell.alias("cell"),
                      F.expr(f"{t} div 86400").alias("day"))
            .distinct().persist())
    w = Window.partitionBy("cell").orderBy("day")
    grp = (days.withColumn("grp", F.col("day")
                           - F.row_number().over(w)))
    runs = (grp.groupBy("cell", "grp")
            .agg(F.count("*").alias("len"),
                 F.max("day").alias("run_end")))
    wl = Window.partitionBy("cell").orderBy(F.desc("run_end"))
    out = (runs.withColumn("rn", F.row_number().over(wl))
           .groupBy("cell")
           .agg(F.sum("len").alias("n_days"),
                F.count("*").alias("n_streaks"),
                F.max("len").alias("max_streak"),
                F.max(F.when(F.col("rn") == 1, F.col("len")))
                .alias("last_streak")))
    return cache.track(out, [days])


def follow_patterns(df: DataFrame, nchars: int = 4, min_support: int = 2,
                    key: str = "user_id", ts: str = "ep",
                    order_col: str = "event_id",
                    cell_col: str = "geohash") -> DataFrame:
    """Gapped sequential patterns over daily movement: cell pair
    (a, b) is SUPPORTED by a (user, day) iff the user visits a at
    some point and b strictly later that day — visits in between are
    allowed, which is what separates this from q135's contiguous
    route n-grams (PrefixSpan's length-2 core, the useful order
    signal: "home then airport", regardless of the stops between).

    Support counts DISTINCT (user, day) occurrences; patterns with
    support >= ``min_support`` are emitted as ``(a_cell, b_cell,
    support)``.  All integers; the a!=b and first(a)<last(b) tests
    are exact index comparisons.

    Scale shape: fixes collapse to one row per (user, day, cell)
    with min/max visit indexes (one window + one partial aggregate);
    the pattern join runs per (user, day) on that COLLAPSED frame
    (fan-out = distinct-cells-per-day squared, bounded by daily
    movement, never by ping volume); support is one count."""
    from . import cache

    cell = F.substring(F.col(cell_col), 1, nchars)
    w = Window.partitionBy(key, "day").orderBy(
        F.col(ts).asc(), F.col(order_col).asc())
    fixes = (df.withColumn("day", F.expr(f"{ts} div 86400"))
             .withColumn("idx", F.row_number().over(w))
             .select(F.col(key).alias("k"), "day", cell.alias("cell"),
                     "idx"))
    per_cell = (fixes.groupBy("k", "day", "cell")
                .agg(F.min("idx").alias("fi"), F.max("idx").alias("la"))
                .persist())
    a = per_cell.select("k", "day", F.col("cell").alias("a_cell"),
                        F.col("fi").alias("fa"))
    b = per_cell.select(F.col("k").alias("kb"), F.col("day").alias("db"),
                        F.col("cell").alias("b_cell"),
                        F.col("la").alias("lb"))
    pat = (a.join(b, (a["k"] == b["kb"]) & (a["day"] == b["db"]))
           .where((F.col("a_cell") != F.col("b_cell"))
                  & (F.col("fa") < F.col("lb")))
           .groupBy("a_cell", "b_cell")
           .agg(F.count("*").alias("support"))
           .where(F.col("support") >= int(min_support)))
    return cache.track(pat, [per_cell])


def viterbi_paths(df: DataFrame, steps: int = 3, nchars: int = 4,
                  key: str = "user_id", ts: str = "ep",
                  order_col: str = "event_id",
                  cell_col: str = "geohash") -> DataFrame:
    """Most-probable k-step itinerary per origin cell (Viterbi
    max-product over :func:`markov_transitions`): the decoder on top
    of q167's transition model — q167 ranks single hops, q175
    backtests them; this chains the model into the best full path,
    the next-k-locations predictor.

    Exactness: path score is the exact BIGINT PRODUCT of the hops'
    integer ``p_micro`` (<= 1e18 for 3 hops — inside int64); per
    intermediate state the survivor is the max ``(score, prefix...)``
    struct — score first, then lexicographically larger prefix, the
    pinned deterministic tie rule the oracle replays with ORDER BY
    DESC row_number.

    Scale shape: the DP runs entirely on the COLLAPSED transition
    frame (cells x cells at worst) — one join + one struct-max
    aggregate per step; the fix-level data is touched once by
    markov_transitions.  Returns per origin ``(o_cell, score, hop1,
    hop2, hop3)`` for steps=3."""
    from . import cache

    if steps != 3:
        raise ValueError("gated shape is the 3-step decoder")
    t = (markov_transitions(df, nchars=nchars, key=key, ts=ts,
                            order_col=order_col, cell_col=cell_col)
         .select(F.col("o_cell").alias("o"), F.col("d_cell").alias("d"),
                 F.col("p_micro").alias("p"))
         .persist())
    # step 1: best (score, ()) per (origin, state) is just the edge
    s1 = t.select("o", F.col("d").alias("m1"), F.col("p").alias("sc"))
    # step 2: survivors per (o, m2) carry the argmax m1
    e2 = t.select(F.col("o").alias("m1"), F.col("d").alias("m2"),
                  F.col("p").alias("p2"))
    s2 = (s1.join(e2, "m1")
          .select("o", "m2",
                  F.struct((F.col("sc") * F.col("p2")).alias("sc"),
                           F.col("m1").alias("m1")).alias("st"))
          .groupBy("o", "m2").agg(F.max("st").alias("st"))
          .select("o", "m2", F.col("st.sc").alias("sc"),
                  F.col("st.m1").alias("m1")))
    # step 3: full-path argmax per origin
    e3 = t.select(F.col("o").alias("m2"), F.col("d").alias("m3"),
                  F.col("p").alias("p3"))
    s3 = (s2.join(e3, "m2")
          .select("o",
                  F.struct((F.col("sc") * F.col("p3")).alias("sc"),
                           F.col("m1").alias("m1"),
                           F.col("m2").alias("m2"),
                           F.col("m3").alias("m3")).alias("st"))
          .groupBy("o").agg(F.max("st").alias("st"))
          .select(F.col("o").alias("o_cell"),
                  F.col("st.sc").alias("score"),
                  F.col("st.m1").alias("hop1"),
                  F.col("st.m2").alias("hop2"),
                  F.col("st.m3").alias("hop3")))
    return cache.track(s3, [t])


def novelty_profile(df: DataFrame, nchars: int = 4,
                    key: str = "user_id", ts: str = "ep",
                    order_col: str = "event_id",
                    cell_col: str = "geohash") -> DataFrame:
    """Exploration-vs-return mobility profile (Song/Pappalardo
    explorers-vs-returners): per key, how many fixes land in a cell
    the key has NEVER visited before, split between the first and
    second half of the key's timeline — new-place discovery decays
    for returners and stays flat for explorers; q116's visit entropy
    measures the marginal distribution, this measures its GROWTH.

    Exactness: a fix is NOVEL iff it is the key's first visit to its
    cell (row_number over (key, cell) in time order == 1); the
    half split is the integer visit index vs (n+1) div 2.  All
    counts.

    Scale shape: two windows on the SAME keyed exchange (per-(key,
    cell) first-visit rank, per-key visit index) + one rollup.
    Returns ``(key, n_visits, n_cells, new_first_half,
    new_second_half)``."""
    cell = F.substring(F.col(cell_col), 1, nchars)
    wkc = Window.partitionBy(key, "cell").orderBy(
        F.col(ts).asc(), F.col(order_col).asc())
    wk = Window.partitionBy(key).orderBy(
        F.col(ts).asc(), F.col(order_col).asc())
    wall = Window.partitionBy(key)
    d = (df.withColumn("cell", cell)
         .withColumn("first_visit",
                     (F.row_number().over(wkc) == 1).cast("long"))
         .withColumn("vidx", F.row_number().over(wk))
         .withColumn("nv", F.count("*").over(wall)))
    half = F.expr("(nv + 1) div 2")
    return (d.groupBy(F.col(key))
            .agg(F.max("nv").cast("long").alias("n_visits"),
                 F.sum("first_visit").alias("n_cells"),
                 F.sum(F.when(F.col("vidx") <= half,
                              F.col("first_visit"))).cast("long")
                 .alias("new_first_half"),
                 F.sum(F.when(F.col("vidx") > half,
                              F.col("first_visit"))).cast("long")
                 .alias("new_second_half")))


def seq_cond_entropy(df: DataFrame, nchars: int = 4,
                     key: str = "user_id", ts: str = "ep",
                     order_col: str = "event_id",
                     cell_col: str = "geohash") -> DataFrame:
    """Per-origin conditional next-cell entropy H(next | origin) over
    the first-order transition counts — the PREDICTABILITY number on
    top of q167's Markov model (Song et al. 2010: low conditional
    entropy = highly predictable movement; q116's visit entropy is
    the marginal, this is the sequence's): for each origin cell the
    exact transition census and the nano-nat entropy of its
    destination distribution.

    Exactness: each destination's term quantizes to ``floor(1e9 *
    (n * ln(tot/n)) / tot)`` BEFORE the per-origin sum (the
    engine-wide ln-floor discipline; a deterministic origin — one
    destination — gives exactly 0).

    Scale shape: rides the same one-window + collapsed (o, d) count
    frame as markov_transitions; the entropy is one more aggregate
    over that frame.  Returns ``(o_cell, n_dest, total,
    h_nano)``."""
    from . import cache

    o = F.substring(F.col(cell_col), 1, nchars)
    w = Window.partitionBy(key).orderBy(
        F.col(ts).asc(), F.col(order_col).asc())
    d = (df.withColumn("_d", o)
         .withColumn("_o", F.lag("_d").over(w)))
    counts = (d.where(F.col("_o").isNotNull())
              .groupBy(F.col("_o").alias("o_cell"),
                       F.col("_d").alias("d_cell"))
              .agg(F.count("*").alias("n"))
              .persist())
    tot = counts.groupBy("o_cell").agg(F.sum("n").alias("tot"),
                                       F.count("*").alias("n_dest"))
    term = F.floor(
        F.lit(1000000000.0)
        * (F.col("n").cast("double")
           * F.log(F.col("tot").cast("double") / F.col("n").cast("double")))
        / F.col("tot").cast("double")).cast("long")
    out = (counts.join(tot, "o_cell")
           .withColumn("t", term)
           .groupBy("o_cell")
           .agg(F.max("n_dest").cast("long").alias("n_dest"),
                F.max("tot").cast("long").alias("total"),
                F.sum("t").alias("h_nano")))
    return cache.track(out, [counts])


def distance_decay(df: DataFrame, ring_milli: int = 2000,
                   nchars: int = 4, key: str = "user_id",
                   ts: str = "ep", order_col: str = "event_id",
                   cell_col: str = "geohash",
                   lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Distance-decay (deterrence) curve of OD flows: trips binned by
    the planar distance between their origin and destination FIX
    positions — the empirical deterrence function a calibrated
    gravity model needs (q249 audits the zero-deterrence baseline;
    this measures how flow mass actually falls with distance).

    Each consecutive-fix cell transition (the od_matrix trip
    definition) contributes one observation at ring ``floor(sqrt(dx^2
    + dy^2) / ring_milli)`` of its endpoint snap distance — exact
    BIGINT d^2, sqrt-ring floors only exact-representable at perfect
    squares (the q247 argument).  Emits per ring: trip count,
    distinct user count, and distinct (o, d) corridor count.

    Scale shape: ONE per-key lag window (the shared trajectory
    exchange), map-side ring assignment, one bounded ring rollup
    (ring count <= max-span / ring width).  Returns ``(ring,
    n_trips, n_users, n_corridors)``."""
    cell = F.substring(F.col(cell_col), 1, nchars)
    w = Window.partitionBy(key).orderBy(
        F.col(ts).asc(), F.col(order_col).asc())
    px = udfs.milli(F.col(lon))
    py = udfs.milli(F.col(lat))
    d = (df.withColumn("_d", cell)
         .withColumn("_px", px).withColumn("_py", py)
         .withColumn("_o", F.lag("_d").over(w))
         .withColumn("_ox", F.lag("_px").over(w))
         .withColumn("_oy", F.lag("_py").over(w)))
    trips = d.where(F.col("_o").isNotNull() & (F.col("_o") != F.col("_d")))
    d2 = ((F.col("_px") - F.col("_ox")) * (F.col("_px") - F.col("_ox"))
          + (F.col("_py") - F.col("_oy")) * (F.col("_py") - F.col("_oy")))
    ring = F.floor(F.sqrt(d2.cast("double"))
                   / F.lit(float(ring_milli))).cast("long")
    return (trips.withColumn("ring", ring)
            .groupBy("ring")
            .agg(F.count("*").alias("n_trips"),
                 F.countDistinct(key).alias("n_users"),
                 F.countDistinct("_o", "_d").alias("n_corridors")))


def cell_sync_pairs(df: DataFrame, lat: str = "lat", lon: str = "lon",
                    ts: str = "ep", cell_deg: float = 30.0,
                    top_k: int = 20) -> DataFrame:
    """Synchronized cell pairs: exact Pearson correlation between the
    ZERO-FILLED hourly activity series of every coarse-cell pair, top
    ``top_k`` by correlation — the teleconnection screen ("these two
    regions pulse together") on top of q219's per-cell ACF moments;
    co-moving far-apart cells flag shared drivers (timezone, event
    syndication, bot schedules).

    Exactness: the q155 discipline — all five moments are exact
    BIGINTs over the zero-filled integer series, the correlation's
    rational (num, den_x, den_y) is exact, and ``r_micro = floor(1e6
    * num / (sqrt(den_x) * sqrt(den_y)))`` is one fixed-shape double
    expression (sqrt per factor keeps operands in int64-exact
    doubles).  Constant series (zero variance) are excluded.  The
    top-k orders by (r_micro desc, cell_a asc, cell_b asc).

    Scale shape: one data-sized (cell, hour) partial aggregation; the
    zero-fill grid and the hour-keyed pair join run on the bounded
    cells x hours frame (the hour join emits cells^2 rows per hour —
    bounded by the coarse grid, never by data); one pair-moment
    rollup and a TakeOrdered."""
    from . import cache

    ybin, xbin, _, _ = udfs.deg_bins(F.col(lat), F.col(lon), cell_deg)
    hour = F.floor(F.col(ts) / F.lit(3600)).cast("long")
    counts = (df.select((ybin * 100000 + xbin).alias("cell_id"),
                        hour.alias("h"))
              .groupBy("cell_id", "h").agg(F.count("*").alias("x")))
    span = counts.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (counts.select("cell_id").distinct()
            .crossJoin(F.broadcast(span))
            .select("cell_id",
                    F.explode(F.sequence("h0", "h1")).alias("h")))
    filled = (grid.join(counts, ["cell_id", "h"], "left")
              .select("cell_id", "h",
                      F.coalesce("x", F.lit(0).cast("long")).alias("x"))
              .persist())
    a = filled.select(F.col("cell_id").alias("ca"), "h",
                      F.col("x").alias("xa"))
    b = filled.select(F.col("cell_id").alias("cb"),
                      F.col("h").alias("hb"), F.col("x").alias("xb"))
    pairs = (a.join(b, (a["h"] == b["hb"]) & (a["ca"] < b["cb"]))
             .groupBy("ca", "cb")
             .agg(F.count("*").alias("n"),
                  F.sum("xa").alias("sx"), F.sum("xb").alias("sy"),
                  F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
                  F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
                  F.sum(F.col("xb") * F.col("xb")).alias("syy")))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    scored = (pairs
              .withColumn("num", num).withColumn("den_x", dx)
              .withColumn("den_y", dy)
              .where((F.col("den_x") > 0) & (F.col("den_y") > 0))
              .withColumn("r_micro",
                          F.floor(F.lit(1000000.0)
                                  * F.col("num").cast("double")
                                  / (F.sqrt(F.col("den_x").cast("double"))
                                     * F.sqrt(F.col("den_y")
                                              .cast("double"))))
                          .cast("long")))
    out = (scored.select("ca", "cb", "n", "num", "den_x", "den_y",
                         "r_micro")
           .orderBy(F.desc("r_micro"), F.asc("ca"), F.asc("cb"))
           .limit(int(top_k)))
    return cache.track(out, [filled])


def peak_hours(df: DataFrame, lat: str = "lat", lon: str = "lon",
               ts: str = "ep", cell_deg: float = 30.0) -> DataFrame:
    """Hour-of-day activity profile per cell: the peak hour (argmax
    count, ties to the earliest hour), its share of the cell's
    activity, and the day/night split — "when is this place busy",
    the operational summary under q219's ACF (which detects rhythm
    but not WHEN) and q256's bands (which bound volume but not
    phase).

    Exactness: all counts; the peak share quantizes to ``share_micro
    = (peak_n * 1e6) div total`` — pure integer division; day hours
    are [6, 18).

    Scale shape: one (cell, hour-of-day) partial aggregation (24
    rows per cell), one struct-argmax per cell, one rollup.
    Returns ``(cell_id, total, peak_hour, peak_n, share_micro,
    n_day, n_night)``."""
    ybin, xbin, _, _ = udfs.deg_bins(F.col(lat), F.col(lon), cell_deg)
    how = F.pmod(F.expr(f"{ts} div 3600"), F.lit(24))
    counts = (df.select((ybin * 100000 + xbin).alias("cell_id"),
                        how.alias("hh"))
              .groupBy("cell_id", "hh").agg(F.count("*").alias("n")))
    # struct-argmax: max (n, -hh) -> largest count, ties to the
    # EARLIEST hour (negated hour orders descending)
    pick = F.max(F.struct(F.col("n").alias("n"),
                          (-F.col("hh")).alias("nh"))).alias("pk")
    return (counts.groupBy("cell_id")
            .agg(F.sum("n").alias("total"),
                 pick,
                 F.sum(F.when((F.col("hh") >= 6) & (F.col("hh") < 18),
                              F.col("n")).otherwise(0)).alias("n_day"))
            .select("cell_id", "total",
                    (-F.col("pk.nh")).cast("long").alias("peak_hour"),
                    F.col("pk.n").alias("peak_n"),
                    F.expr("(pk.n * 1000000) div total").cast("long")
                    .alias("share_micro"),
                    F.col("n_day").cast("long").alias("n_day"),
                    (F.col("total") - F.col("n_day")).cast("long")
                    .alias("n_night")))


def dtw_day_consistency(df: DataFrame, k: int = 8,
                        key: str = "user_id", ts: str = "ep",
                        order_col: str = "event_id",
                        lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Day-over-day route consistency via DYNAMIC TIME WARPING: for
    every key active on at least two days, resample each of the
    first two active days' tracks to ``k`` index-equidistant points
    and compute the exact DTW alignment cost between them — the
    classic elastic trajectory distance (robust to pace differences
    a pointwise comparison would punish), here as a commute-
    regularity score next to q270's novelty and q154's revisit
    rates.

    Exactness: resampling picks ROW ``(j*(n-1)) DIV (k-1)`` of the
    day's (ts, order)-sorted fixes (pure integer index selection, no
    interpolation), coordinates quantize to floor(x*1e6) micro-
    degrees, the step cost is the exact int64 squared euclidean
    distance, and the k x k DP runs in integers — the oracle replays
    the same recurrence as a generated chain of lateral column
    expressions, no recursion, no floats.

    Scale shape: one keyed window shuffle ranks days and fixes; the
    k-point selection is a filter (no second shuffle — same exchange
    key); the DP runs inside one Arrow batch VECTORIZED ACROSS KEYS
    (k^2 = 64 numpy steps over the whole batch, never a per-key
    Python loop).  Returns ``(key, n_a, n_b, dtw_cost)``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType

    kk = int(k)
    day = (F.col(ts) / F.lit(86400)).cast("long").alias("_day")
    d = df.select(F.col(key), F.col(ts), F.col(order_col),
                  F.floor(F.col(lon) * 1e6).cast("long").alias("xm"),
                  F.floor(F.col(lat) * 1e6).cast("long").alias("ym"),
                  F.expr(f"{ts} DIV 86400").alias("_day"))
    wdr = Window.partitionBy(key).orderBy("_day")
    wrn = Window.partitionBy(key, "_day").orderBy(
        F.col(ts).asc(), F.col(order_col).asc())
    wn = Window.partitionBy(key, "_day")
    r = (d.withColumn("rn", F.row_number().over(wrn))
         .withColumn("n", F.count("*").over(wn))
         .withColumn("dr", F.dense_rank().over(wdr))
         .where(F.col("dr") <= 2))
    js = F.explode(F.sequence(F.lit(0), F.lit(kk - 1))).alias("j")
    pts = (r.select(key, "dr", "rn", "n", "xm", "ym", js)
           .where(F.col("rn") - 1 == F.expr(f"(j * (n - 1)) DIV {kk - 1}")))
    per_day = (pts.groupBy(key, "dr")
               .agg(F.max("n").alias("nf"),
                    F.array_sort(F.collect_list(
                        F.struct("j", "xm", "ym"))).alias("pp")))
    a = per_day.where(F.col("dr") == 1).select(
        key, F.col("nf").alias("n_a"),
        F.col("pp.xm").alias("ax"), F.col("pp.ym").alias("ay"))
    b = per_day.where(F.col("dr") == 2).select(
        key, F.col("nf").alias("n_b"),
        F.col("pp.xm").alias("bx"), F.col("pp.ym").alias("by"))

    @F.pandas_udf(LongType())
    def _dtw(ax, ay, bx, by):
        n = len(ax)
        if n == 0:
            return pd.Series([], dtype="int64")
        AX = np.stack(ax.to_numpy()).astype(np.int64)
        AY = np.stack(ay.to_numpy()).astype(np.int64)
        BX = np.stack(bx.to_numpy()).astype(np.int64)
        BY = np.stack(by.to_numpy()).astype(np.int64)
        dx = AX[:, :, None] - BX[:, None, :]
        dy = AY[:, :, None] - BY[:, None, :]
        c = dx * dx + dy * dy                      # (N, k, k)
        dp = np.empty_like(c)
        for i in range(kk):
            for j in range(kk):
                if i == 0 and j == 0:
                    prev = 0
                elif i == 0:
                    prev = dp[:, 0, j - 1]
                elif j == 0:
                    prev = dp[:, i - 1, 0]
                else:
                    prev = np.minimum(np.minimum(dp[:, i - 1, j],
                                                 dp[:, i, j - 1]),
                                      dp[:, i - 1, j - 1])
                dp[:, i, j] = c[:, i, j] + prev
        return pd.Series(dp[:, kk - 1, kk - 1])

    return (a.join(b, key)
            .select(key, "n_a", "n_b",
                    _dtw("ax", "ay", "bx", "by").alias("dtw_cost")))


def lz_match_profile(df: DataFrame, n_max: int = 40, nchars: int = 4,
                     key: str = "user_id", ts: str = "ep",
                     order_col: str = "event_id",
                     cell_col: str = "geohash") -> DataFrame:
    """Lempel-Ziv match-length profile — the building blocks of the
    Song/Barabasi ACTUAL-entropy estimator that set the famous 93%
    mobility-predictability bound: over each key's first ``n_max``
    cell visits (time order), position i's match length ``L_i`` is
    the longest common prefix between the suffix starting at i and
    any suffix starting before i (overlap allowed, the LZ77 rule),
    and ``lambda_i = min(L_i + 1, n - i + 1)`` is the shortest
    never-seen-before substring length.  ``n * ln(n) / sum(lambda)``
    — one division away from the emitted integers — is the entropy
    rate; q271's conditional entropy is its order-1 approximation.

    Exactness: every emitted quantity is an integer (counts and
    match lengths); the truncation to ``n_max`` fixes is part of the
    contract (the oracle's declarative all-pairs lcp scan is
    O(n^3) per key — bounded only because n is).

    Scale shape: one keyed window shuffle ranks + truncates; the
    per-key DP (suffix-match matrix built backwards, n vectorized
    numpy steps) runs on n_max-row groups inside applyInPandas.
    Returns ``(key, n, sum_lambda, max_l)``."""
    import numpy as np
    import pandas as pd

    wk = Window.partitionBy(key).orderBy(
        F.col(ts).asc(), F.col(order_col).asc())
    t = (df.withColumn("cell", F.substring(F.col(cell_col), 1, nchars))
         .withColumn("rn", F.row_number().over(wk))
         .where(F.col("rn") <= int(n_max))
         .select(key, "rn", "cell"))

    def _lz(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("rn")
        codes = pd.factorize(pdf["cell"])[0].astype(np.int64)
        n = len(codes)
        eq = codes[:, None] == codes[None, :]
        m = np.zeros((n + 1, n + 1), dtype=np.int64)
        for i in range(n - 1, -1, -1):
            m[i, :n] = eq[i] * (1 + m[i + 1, 1:n + 1])
        lam = np.empty(n, dtype=np.int64)
        max_l = 0
        for i in range(n):
            li = int(m[i, :i].max()) if i > 0 else 0
            max_l = max(max_l, li)
            lam[i] = min(li + 1, n - i)
        return pd.DataFrame({key: [pdf[key].iloc[0]],
                             "n": [n], "sum_lambda": [int(lam.sum())],
                             "max_l": [max_l]})

    return (t.groupBy(key)
            .applyInPandas(_lz, f"{key} long, n long, sum_lambda long,"
                                " max_l long"))


def ewma_alerts(df: DataFrame, lat: str = "lat", lon: str = "lon",
                ts: str = "ep", cell_deg: float = 30.0,
                spike_min: int = 3) -> DataFrame:
    """Integer EWMA spike alerting per cell — the classic online
    anomaly monitor (alpha = 1/8) replayed over the zero-filled
    hourly series: an hour alerts when its count more than DOUBLES
    the running mean (``x*8 > 2*v``) and is at least ``spike_min``;
    the mean then absorbs it via the pure-integer recurrence
    ``v' = v + floordiv(x*8 - v, 8)`` (v carries eighths — no
    floats, and floordiv is written as the pmod identity so Spark's
    truncating DIV and DuckDB's flooring // cannot diverge on
    negatives).

    Exactness: every state transition is integer; the oracle replays
    the recurrence as a linear recursive CTE over the same
    zero-filled grid.  Scale shape: one (cell, hour) count shuffle;
    the grid is cells x hours-in-span (TIME-bounded, not
    data-bounded — the sequential scan per cell is over the span
    length, the per-batch loop cost a streaming monitor pays by
    definition).  Returns ``(cell_id, n_hours, total, n_alerts,
    v_final)``."""
    import numpy as np
    import pandas as pd

    ybin, xbin, _, _ = udfs.deg_bins(F.col(lat), F.col(lon), cell_deg)
    hcol = F.expr(f"{ts} DIV 3600")
    base = df.select((ybin * 100000 + xbin).alias("cell_id"),
                     hcol.alias("hh"))
    span = base.agg(F.min("hh").alias("h0"), F.max("hh").alias("h1"))
    counts = base.groupBy("cell_id", "hh").agg(F.count("*").alias("x"))
    cells = counts.select("cell_id").distinct()
    grid = (cells.crossJoin(F.broadcast(span))
            .select("cell_id",
                    F.explode(F.sequence(F.lit(0),
                                         F.col("h1") - F.col("h0")))
                    .alias("h"), "h0")
            .join(counts.crossJoin(F.broadcast(span))
                  .select("cell_id",
                          (F.col("hh") - F.col("h0")).alias("h"),
                          "x"),
                  ["cell_id", "h"], "left")
            .select("cell_id", "h",
                    F.coalesce("x", F.lit(0)).cast("long").alias("x")))

    def _ew(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("h")
        xs = pdf["x"].to_numpy(np.int64)
        v = int(xs[0]) * 8
        na = 0
        for x in xs[1:]:
            x8 = int(x) * 8
            if x8 > 2 * v and x >= spike_min:
                na += 1
            a = x8 - v
            v = v + (a - (a % 8 + 8) % 8) // 8
        return pd.DataFrame({"cell_id": [pdf["cell_id"].iloc[0]],
                             "n_hours": [len(xs)],
                             "total": [int(xs.sum())],
                             "n_alerts": [na], "v_final": [v]})

    return (grid.groupBy("cell_id")
            .applyInPandas(_ew, "cell_id long, n_hours long, total long,"
                                " n_alerts long, v_final long"))


def visit_motifs(df: DataFrame, nchars: int = 4, max_locs: int = 4,
                 key: str = "user_id", ts: str = "ep",
                 order_col: str = "event_id",
                 cell_col: str = "geohash") -> DataFrame:
    """Daily visit-order motif census — the mobility-motifs idea
    (Schneider et al.) in its sequence form: per (key, day) collapse
    consecutive repeats of the gh-cell track, relabel locations by
    FIRST-VISIT order (1, 2, 3, ...), and take the SET of directed
    transitions between labels as the day's motif signature (e.g.
    ``1>2,2>1`` is the home-work pendulum, ``1>2,2>3,3>1`` the
    triangle tour).  First-visit relabeling makes the signature a
    pure function of the visit order — deterministic, cross-engine
    exact, no graph-isomorphism search — and the census over all
    user-days is the population's routine vocabulary (q86 counts
    trips, q270 counts novelty; this names the SHAPE of the day).

    Days with 2..``max_locs`` distinct locations census; 1-location
    days (no transition) and busier days are excluded as the motif
    literature does.  Exactness: labels are window ranks, signatures
    sorted comma-joined strings, everything counts.

    Scale shape: three windows on one (key, day)-keyed exchange +
    one signature rollup; nothing data-sized leaves the keyed
    partition.  Returns ``(n_locs, motif, n_user_days)``."""
    day = F.expr(f"{ts} DIV 86400")
    w = Window.partitionBy(key, "_day").orderBy(
        F.col(ts).asc(), F.col(order_col).asc())
    d = (df.withColumn("_day", day)
         .withColumn("cell", F.substring(F.col(cell_col), 1, nchars))
         .withColumn("_prev", F.lag("cell").over(w))
         .where(F.col("_prev").isNull()
                | (F.col("_prev") != F.col("cell")))
         .withColumn("seq", F.row_number().over(w)))
    wfv = Window.partitionBy(key, "_day", "cell")
    wlab = Window.partitionBy(key, "_day").orderBy("fv")
    lab = (d.withColumn("fv", F.min("seq").over(wfv))
           .withColumn("label", F.dense_rank().over(wlab)))
    wseq = Window.partitionBy(key, "_day").orderBy("seq")
    tr = (lab.withColumn("_pl", F.lag("label").over(wseq))
          .where(F.col("_pl").isNotNull())
          .select(key, "_day",
                  F.concat(F.col("_pl").cast("string"), F.lit(">"),
                           F.col("label").cast("string")).alias("code"),
                  "label"))
    per_day = (tr.groupBy(key, "_day")
               .agg(F.max("label").cast("long").alias("n_locs"),
                    F.array_join(F.array_sort(F.collect_set("code")),
                                 ",").alias("motif"))
               .where((F.col("n_locs") >= 2)
                      & (F.col("n_locs") <= int(max_locs))))
    return (per_day.groupBy("n_locs", "motif")
            .agg(F.count("*").cast("long").alias("n_user_days")))


def jain_fairness(df: DataFrame, lat: str = "lat", lon: str = "lon"
                  ) -> DataFrame:
    """Jain's fairness index over 1-degree cell loads — the
    networking-standard load-balance number ``(sum x)^2 / (n * sum
    x^2)`` (1 = perfectly even, 1/n = one cell owns everything),
    complementing q189's Gini with the index schedulers actually
    quote.  Exact: one occupancy aggregate, then the index as ONE
    integer DIV on the 1-row moments; numerator and denominator ride
    along so the gate pins the rationals, not just the floor.
    Returns one row ``(n_cells, sum_x, sum_x2, jain_micro)``."""
    oy = F.floor(F.col(lat) + F.lit(90.0)).cast("long")
    ox = F.floor(F.col(lon) + F.lit(180.0)).cast("long")
    occ = (df.select(oy.alias("y"), ox.alias("x"))
           .groupBy("y", "x").agg(F.count("*").alias("c")))
    return (occ.agg(F.count("*").cast("long").alias("n_cells"),
                    F.sum("c").cast("long").alias("sum_x"),
                    F.sum(F.col("c") * F.col("c")).cast("long")
                    .alias("sum_x2"))
            .select("n_cells", "sum_x", "sum_x2",
                    F.expr("(sum_x * sum_x * 1000000) DIV "
                           "(n_cells * sum_x2)").cast("long")
                    .alias("jain_micro")))


def cell_hour_mi(df: DataFrame, lat: str = "lat", lon: str = "lon",
                 ts: str = "ep", cell_deg: float = 30.0) -> DataFrame:
    """Mutual information between cell and hour-of-day — "does WHERE
    depend on WHEN" as one number: ``MI = sum p_ij ln(p_ij / (p_i
    p_j))``, the dependence measure q116 (marginal entropy) and q219
    (per-cell rhythm) bracket but never state.  Exact rule: each
    cell-hour term is ``floor(ln((n_ij * N) / (n_i * n_j)) * 1e9) *
    n_ij`` — the log floors to integer nano-nats BEFORE the
    multiply and sum, so the aggregate is order-independent; the
    final division by N is left to the reader (one division from
    the MI in nats).

    Scale shape: one (cell, hour) contingency aggregate (bounded by
    cells x 24), marginals as two rollups of it, one bounded join.
    Returns one row ``(n_total, n_cells, n_hours, mi_sum_nano)``
    where ``mi_sum_nano / n_total / 1e9`` is the MI in nats."""
    ybin, xbin, _, _ = udfs.deg_bins(F.col(lat), F.col(lon), cell_deg)
    how = F.pmod(F.expr(f"{ts} DIV 3600"), F.lit(24))
    ct = (df.select((ybin * 100000 + xbin).alias("cell_id"),
                    how.alias("hh"))
          .groupBy("cell_id", "hh").agg(F.count("*").alias("nij")))
    ci = ct.groupBy("cell_id").agg(F.sum("nij").alias("ni"))
    hj = ct.groupBy("hh").agg(F.sum("nij").alias("nj"))
    tot = ct.agg(F.sum("nij").alias("nn"),
                 F.count("*").alias("n_pairs"))
    j = (ct.join(ci, "cell_id").join(F.broadcast(hj), "hh")
         .crossJoin(F.broadcast(tot)))
    term = (F.floor(F.log((F.col("nij") * F.col("nn")).cast("double")
                          / (F.col("ni") * F.col("nj")).cast("double"))
                    * F.lit(1e9)).cast("long") * F.col("nij"))
    return (j.agg(F.max("nn").cast("long").alias("n_total"),
                  F.count_distinct("cell_id").cast("long")
                  .alias("n_cells"),
                  F.count_distinct("hh").cast("long").alias("n_hours"),
                  F.sum(term).cast("long").alias("mi_sum_nano")))


def recurrence_det(df: DataFrame, n_max: int = 40, nchars: int = 4,
                   key: str = "user_id", ts: str = "ep",
                   order_col: str = "event_id",
                   cell_col: str = "geohash") -> DataFrame:
    """Recurrence quantification (determinism) over each key's cell
    sequence — the nonlinear-dynamics reading of a trajectory: a
    recurrence is a pair of times visiting the same cell (i < j,
    c_i = c_j); DETERMINISM counts the recurrences that sit on a
    diagonal line of length >= 2 (the previous or next step recurs
    too) — high DET = the key replays whole SUB-ROUTES, not just
    revisits places, which is exactly what q287's LZ matches measure
    from the compression side and q154's revisit rate cannot see.

    Same truncation contract as q287 (first ``n_max`` fixes).  All
    counts; DET = n_det / n_rec is one division away.

    Scale shape: one keyed window ranks + truncates; the recurrence
    pair join is per-key on the cell (bounded by n_max^2 pairs per
    key), the diagonal test two more equi-joins on (key, position).
    Returns ``(key, n, n_rec, n_det)``."""
    wk = Window.partitionBy(key).orderBy(
        F.col(ts).asc(), F.col(order_col).asc())
    t = (df.withColumn("cell", F.substring(F.col(cell_col), 1, nchars))
         .withColumn("rn", F.row_number().over(wk))
         .where(F.col("rn") <= int(n_max))
         .select(F.col(key).alias("k"), "rn", "cell"))
    a = t.select("k", F.col("rn").alias("i"), F.col("cell").alias("ci"))
    b = t.select("k", F.col("rn").alias("j"), F.col("cell").alias("cj"))
    rec = (a.join(b, (a["k"] == b["k"]) & (F.col("i") < F.col("j"))
                  & (F.col("ci") == F.col("cj")))
           .select(a["k"].alias("kk"), "i", "j"))
    nxt = t.select(F.col("k").alias("k2"), F.col("rn").alias("p"),
                   F.col("cell").alias("cp"))
    prv = t.select(F.col("k").alias("k3"), F.col("rn").alias("q"),
                   F.col("cell").alias("cq"))
    # does the NEXT step recur too?  (i+1, j+1) both present + equal
    nn = (rec
          .join(nxt, (F.col("k2") == F.col("kk"))
                & (F.col("p") == F.col("i") + 1))
          .join(prv, (F.col("k3") == F.col("kk"))
                & (F.col("q") == F.col("j") + 1)
                & (F.col("cq") == F.col("cp")))
          .select("kk", "i", "j", F.lit(1).alias("nx")))
    # does the PREVIOUS step recur?  (i-1, j-1)
    pp = (rec
          .join(nxt, (F.col("k2") == F.col("kk"))
                & (F.col("p") == F.col("i") - 1))
          .join(prv, (F.col("k3") == F.col("kk"))
                & (F.col("q") == F.col("j") - 1)
                & (F.col("cq") == F.col("cp")))
          .select("kk", "i", "j", F.lit(1).alias("pv")))
    det = (rec.join(nn, ["kk", "i", "j"], "left")
           .join(pp, ["kk", "i", "j"], "left")
           .withColumn("d", (F.coalesce("nx", F.lit(0))
                             + F.coalesce("pv", F.lit(0)) > 0)
                       .cast("long")))
    cnt = t.groupBy(F.col("k").alias("kk")).agg(F.count("*").alias("n"))
    agg = (det.groupBy("kk")
           .agg(F.count("*").cast("long").alias("n_rec"),
                F.sum("d").cast("long").alias("n_det")))
    return (cnt.join(agg, "kk", "left")
            .select(F.col("kk").alias(key), F.col("n").cast("long"),
                    F.coalesce("n_rec", F.lit(0)).cast("long")
                    .alias("n_rec"),
                    F.coalesce("n_det", F.lit(0)).cast("long")
                    .alias("n_det")))


def consensus_line(df: DataFrame, ts: str = "ep", tol_div: int = 10
                   ) -> DataFrame:
    """Exhaustive max-consensus line fit (RANSAC without the R) over
    the hour-of-day activity profile: for EVERY pair of the 24
    (hour, count) points, the line through them, scored by how many
    points fall within tolerance — the consensus answer to "is the
    daily curve basically linear plus outliers", robust where least
    squares is dragged by the rush-hour spikes Theil-Sen (q241)
    medians away differently.  24 points make full enumeration exact
    (276 candidate lines x 24 points); no sampling, no randomness.

    All integer: a point (x, y) is an inlier of the line through
    (x1, y1), (x2, y2) iff ``|(y - y1)*(x2 - x1) - (x - x1)*
    (y2 - y1)| * tol_div <= max_count * (x2 - x1)`` (tolerance =
    max_count / tol_div, cross-multiplied — no division); the winner
    is max (n_inliers, -x1, -x2) (ties to the earliest pair).
    Returns one row ``(x1, y1, x2, y2, n_inliers, n_points)``."""
    prof = (df.select(F.pmod(F.expr(f"{ts} DIV 3600"), F.lit(24))
                      .alias("x"))
            .groupBy("x").agg(F.count("*").alias("y")))
    mx = prof.agg(F.max("y").alias("my"))
    a = prof.select(F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = prof.select(F.col("x").alias("x2"), F.col("y").alias("y2"))
    lines = a.join(b, F.col("x1") < F.col("x2"))
    p = prof.select(F.col("x").alias("px"), F.col("y").alias("py"))
    j = lines.crossJoin(p).crossJoin(F.broadcast(mx))
    resid = ((F.col("py") - F.col("y1")) * (F.col("x2") - F.col("x1"))
             - (F.col("px") - F.col("x1"))
             * (F.col("y2") - F.col("y1")))
    inlier = (F.abs(resid) * F.lit(int(tol_div))
              <= F.col("my") * (F.col("x2") - F.col("x1"))).cast("long")
    scored = (j.groupBy("x1", "y1", "x2", "y2")
              .agg(F.sum(inlier).alias("n_inliers")))
    npts = prof.agg(F.count("*").alias("n_points"))
    best = (scored.agg(F.max(F.struct(
        F.col("n_inliers"), (-F.col("x1")).alias("nx1"),
        (-F.col("x2")).alias("nx2"), F.col("y1"), F.col("y2")))
        .alias("m")))
    return (best.crossJoin(F.broadcast(npts))
            .select((-F.col("m.nx1")).cast("long").alias("x1"),
                    F.col("m.y1").cast("long").alias("y1"),
                    (-F.col("m.nx2")).cast("long").alias("x2"),
                    F.col("m.y2").cast("long").alias("y2"),
                    F.col("m.n_inliers").cast("long").alias("n_inliers"),
                    F.col("n_points").cast("long").alias("n_points")))


def unicity_audit(df: DataFrame, max_p: int = 3, nchars: int = 4,
                  key: str = "user_id", cell_col: str = "geohash"
                  ) -> DataFrame:
    """Trace unicity audit (de Montjoye-style re-identification risk):
    how many keys are UNIQUELY identified by just their top-p most
    visited cells — the attack-side number the protection ops (q149
    k-anonymity, q195 l-diversity, q235 t-closeness) defend against;
    the famous result is that ~4 points identify ~95% of people, and
    this measures the analogue on the corpus at p = 1..max_p.

    Deterministic signature: the top-p cells by (visit count desc,
    cell asc), joined in rank order.  Census per p: total keys, keys
    whose signature is unique, distinct signatures, and the largest
    anonymity set.  All counts.

    Scale shape: one (key, cell) count shuffle + a rank window per
    key; each p's census groups the key-sized signature table.
    Returns ``(p, n_keys, n_unique, n_sigs, max_group)``."""
    cell = F.substring(F.col(cell_col), 1, nchars)
    vc = (df.select(F.col(key), cell.alias("cell"))
          .groupBy(key, "cell").agg(F.count("*").alias("n")))
    wr = Window.partitionBy(key).orderBy(F.desc("n"), F.asc("cell"))
    rk = (vc.withColumn("r", F.row_number().over(wr))
          .where(F.col("r") <= int(max_p)))
    parts = []
    for p in range(1, int(max_p) + 1):
        sig = (rk.where(F.col("r") <= p)
               .groupBy(key)
               .agg(F.array_join(F.array_sort(F.collect_list(
                   F.concat(F.lpad(F.col("r").cast("string"), 2, "0"),
                            F.lit(":"), F.col("cell")))), ",")
                    .alias("sig")))
        grp = sig.groupBy("sig").agg(F.count("*").alias("g"))
        parts.append(
            grp.agg(F.sum("g").cast("long").alias("n_keys"),
                    F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
                    .cast("long").alias("n_unique"),
                    F.count("*").cast("long").alias("n_sigs"),
                    F.max("g").cast("long").alias("max_group"))
            .select(F.lit(p).cast("long").alias("p"), "n_keys",
                    "n_unique", "n_sigs", "max_group"))
    out = reduce(DataFrame.unionByName, parts)
    return out


def token_bucket_audit(df: DataFrame, cap_milli: int = 5000,
                       cost_milli: int = 1000, rate_milli: int = 100,
                       key: str = "user_id", ts: str = "ep",
                       order_col: str = "event_id") -> DataFrame:
    """Token-bucket admission replay — the rate-limiter every ingest
    edge runs, replayed exactly over each key's event stream: the
    bucket starts full (``cap_milli`` milli-tokens), refills at
    ``rate_milli`` per second up to the cap, and each event either
    spends ``cost_milli`` (admitted) or is rejected with the bucket
    untouched.  The answer to "what would this limiter have dropped"
    BEFORE deploying it — the simulation complement of q276's
    debounce (which measures bursts) and q87's anomalies (which
    flags them).

    Pure integer state: ``tokens = min(cap, tokens + dt * rate)``
    then the spend test — a linear recurrence the oracle replays as
    a per-key recursive CTE.  Scale shape: one keyed window orders
    events; the sequential replay runs per key inside applyInPandas
    (per-key event counts, the admission-control cost by
    definition).  Returns ``(key, n_events, n_rejected,
    final_milli)``."""
    import numpy as np
    import pandas as pd

    wk = Window.partitionBy("k").orderBy(F.col("t").asc(),
                                         F.col("o").asc())
    t = (df.select(F.col(key).alias("k"), F.col(ts).alias("t"),
                   F.col(order_col).alias("o"))
         .withColumn("rn", F.row_number().over(wk)))
    cap, cost, rate = int(cap_milli), int(cost_milli), int(rate_milli)

    def _replay(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("rn")
        ts_arr = pdf["t"].to_numpy(np.int64)
        tok = cap
        prev = None
        rej = 0
        for tv in ts_arr:
            if prev is not None:
                tok = min(cap, tok + (int(tv) - prev) * rate)
            prev = int(tv)
            if tok >= cost:
                tok -= cost
            else:
                rej += 1
        return pd.DataFrame({"k": [pdf["k"].iloc[0]],
                             "n_events": [len(ts_arr)],
                             "n_rejected": [rej],
                             "final_milli": [tok]})

    return (t.groupBy("k")
            .applyInPandas(_replay, "k long, n_events long,"
                                    " n_rejected long, final_milli long")
            .withColumnRenamed("k", key))
