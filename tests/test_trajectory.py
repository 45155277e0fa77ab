"""Trajectory operators: brute-force equivalence + shape invariants."""

import numpy as np

from geotile import engine, trajectory
from geotile.kernel import geohash_np as gh


def _traj_rows():
    # user 1: dwell at (10, 20) for 4 fixes spanning 3000 s, then a
    # 5 km jump, then 2 more fixes nearby (short dwell, 100 s)
    rows = [(1, 0, 10.0, 20.0), (1, 1000, 10.0001, 20.0001),
            (1, 2000, 10.0002, 20.0000), (1, 3000, 10.0001, 20.0002),
            (1, 3600, 10.05, 20.05), (1, 3700, 10.0501, 20.0501)]
    # user 2: teleports (absurd speed) and a clock tie
    rows += [(2, 0, 0.0, 0.0), (2, 10, 45.0, 90.0), (2, 10, 45.0, 90.0001),
             (2, 4000, 45.0001, 90.0001)]
    return [(i, u, t, la, lo) for i, (u, t, la, lo) in enumerate(rows)]


def _df(spark):
    return spark.createDataFrame(
        _traj_rows(), "event_id long, user_id long, ep long, lat double, lon double")


def test_speed_filter_brute_force(spark):
    out = {r["event_id"]: r for r in
           trajectory.speed_filter(_df(spark), max_speed_mps=40.0).collect()}
    rows = sorted(_traj_rows(), key=lambda r: (r[1], r[2], r[0]))
    prev = {}
    for eid, u, t, la, lo in rows:
        r = out[eid]
        if u not in prev:
            assert r["keep"] and r["dist4"] == -1.0 and r["speed4"] == -1.0
        else:
            pt, pla, plo = prev[u]
            d = float(gh.haversine_m(np.array([pla]), np.array([plo]),
                                     np.array([la]), np.array([lo]))[0])
            dt = t - pt
            assert r["dt_s"] == float(dt)
            assert abs(r["dist4"] - round(d, 4)) < 1e-9
            if dt <= 0:
                assert r["speed4"] == -1.0 and not r["keep"]
            else:
                assert r["keep"] == (d / dt <= 40.0)
        prev[u] = (t, la, lo)


def test_stay_points_chain_semantics(spark):
    out = sorted(trajectory.stay_points(_df(spark), radius_m=300.0,
                                        min_dwell_s=1800).collect(),
                 key=lambda r: r["user_id"])
    # user 1's first run (4 fixes, 3000 s) qualifies; the post-jump run
    # spans only 100 s.  User 2's teleport to (45, 90) starts a run
    # whose three nearby fixes span t=10..4000 -> also a stay
    assert len(out) == 2
    r = out[0]
    assert r["user_id"] == 1 and r["n_fixes"] == 4
    assert (r["t_start"], r["t_end"]) == (0, 3000)
    # snapped-grid centroid: mean of round(lat*1e4)/1e4
    lats = [10.0, 10.0001, 10.0002, 10.0001]
    assert r["clat"] == sum(round(v * 1e4) for v in lats) / (1e4 * 4)
    r2 = out[1]
    assert r2["user_id"] == 2 and r2["n_fixes"] == 3
    assert (r2["t_start"], r2["t_end"]) == (10, 4000)


def test_od_matrix_flows(spark):
    pos = engine.with_cell(_df(spark), lat="lat", lon="lon")
    out = {(r["o_cell"], r["d_cell"]): r["n_flows"]
           for r in trajectory.od_matrix(pos, nchars=4).collect()}
    # user 1 crosses cells once (dwell -> +0.05 deg), user 2 hops
    # 0->45/90 then stays; every flow here is distinct cells
    assert all(o != d for o, d in out)
    assert sum(out.values()) >= 2
    total_moves = sum(v for v in out.values())
    # recompute brute force
    import collections
    flows = collections.Counter()
    rows = sorted(_traj_rows(), key=lambda r: (r[1], r[2], r[0]))
    prevc = {}
    for eid, u, t, la, lo in rows:
        c = gh.encode(np.array([la]), np.array([lo]), 5)[0][:4]
        if u in prevc and prevc[u] != c:
            flows[(prevc[u], c)] += 1
        prevc[u] = c
    assert out == dict(flows)
    assert total_moves == sum(flows.values())


def test_colocation_pairs_and_hot_bucket_cap(spark):
    # users 1..4 share cell+bucket twice; users 5..9 pile into one
    # hot bucket that exceeds the cap -> contributes nothing
    rows = []
    for b in (0, 1):
        for u in (1, 2, 3, 4):
            rows.append((len(rows), u, b * 1000, 10.0, 20.0))
    for u in range(5, 10):
        rows.append((len(rows), u, 5000, -30.0, 40.0))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double")
    pos = engine.with_cell(df, lat="lat", lon="lon")
    out = {(r["a"], r["b"]): r["n_cooc"] for r in
           trajectory.colocation_pairs(pos, bucket_s=1000, nchars=4,
                                       min_cooc=2, max_bucket_keys=4).collect()}
    assert out == {(a, b): 2 for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b}
    # with the cap lifted the hot-bucket pairs appear (n_cooc 1 < 2
    # filtered; lower min_cooc to see them)
    out2 = {(r["a"], r["b"]) for r in
            trajectory.colocation_pairs(pos, bucket_s=1000, nchars=4,
                                        min_cooc=1, max_bucket_keys=1000).collect()}
    assert (5, 6) in out2 and (8, 9) in out2
    # the capped run reports exactly one dropped bucket, the uncapped none
    from geotile import cache

    capped = trajectory.colocation_pairs(pos, bucket_s=1000, nchars=4,
                                         min_cooc=2, max_bucket_keys=4)
    assert capped._geotile_dropped_buckets_df.count() == 1
    capped.collect()
    cache.release(capped)


def test_daily_trip_distance_brute_force(spark):
    out = {(r["user_id"], r["day"]): (r["n_legs"], r["dist_mm"])
           for r in trajectory.daily_trip_distance(
               _df(spark), bucket_s=2000).collect()}
    import collections
    legs = collections.defaultdict(lambda: [0, 0])
    rows = sorted(_traj_rows(), key=lambda r: (r[1], r[2], r[0]))
    prev = {}
    for eid, u, t, la, lo in rows:
        if u in prev:
            pla, plo = prev[u]
            d = float(gh.haversine_m(np.array([pla]), np.array([plo]),
                                     np.array([la]), np.array([lo]))[0])
            k = (u, t // 2000)
            legs[k][0] += 1
            legs[k][1] += int(np.floor(d * 1000.0))
        prev[u] = (la, lo)
    assert out == {k: tuple(v) for k, v in legs.items()}


def test_daily_rate_anomalies_integer_exact(spark):
    # user 1: 9 quiet days (1 event) + 1 burst day (20 events)
    rows = []
    for d in range(9):
        rows.append((len(rows), 1, d * 86400 + 5))
    for j in range(20):
        rows.append((len(rows), 1, 9 * 86400 + j))
    # user 2: perfectly uniform -> nothing flagged
    for d in range(5):
        rows.append((len(rows), 2, d * 86400 + 1))
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ep long")
    out = {(r["user_id"], r["day"]): r["is_anomaly"]
           for r in trajectory.daily_rate_anomalies(ev, ts="ep").collect()}
    assert out[(1, 9)] is True
    assert all(not v for (u, d), v in out.items() if (u, d) != (1, 9))
    # brute-force check of the integer inequality on the burst day
    counts = [1] * 9 + [20]
    n, s = len(counts), sum(counts)
    ss = sum(c * c for c in counts)
    c = 20
    assert (c * n - s) > 0 and (c * n - s) ** 2 > 4 * (n * ss - s * s)


def test_session_trip_stats_brute_force(spark):
    out = {(r["user_id"], r["session_id"]):
           (r["n_fixes"], r["n_legs"], r["dist_mm"], r["duration_s"])
           for r in trajectory.session_trip_stats(
               _df(spark), gap_s=500).collect()}
    import collections
    sess = collections.defaultdict(lambda: [0, 0, 0, []])
    rows = sorted(_traj_rows(), key=lambda r: (r[1], r[2], r[0]))
    prev = {}
    sid = collections.defaultdict(int)
    for eid, u, t, la, lo in rows:
        new = u not in prev or t - prev[u][0] > 500
        if new:
            sid[u] += 1
        k = (u, sid[u])
        sess[k][0] += 1
        sess[k][3].append(t)
        if not new:
            pla, plo = prev[u][1], prev[u][2]
            d = float(gh.haversine_m(np.array([pla]), np.array([plo]),
                                     np.array([la]), np.array([lo]))[0])
            sess[k][1] += 1
            sess[k][2] += int(np.floor(d * 1000.0))
        prev[u] = (t, la, lo)
    expect = {k: (v[0], v[1], v[2], max(v[3]) - min(v[3]))
              for k, v in sess.items()}
    assert out == expect


def test_geofence_transitions_enter_exit(spark):
    # user 1 walks: outside -> inside -> inside -> outside; user 2
    # stays inside (no transition after the first fix); user 3 has a
    # single fix (never transitions).  Fence = the 2-char cell of
    # (10, 20) = 's1'.
    fence_cell = str(gh.encode(np.array([10.0]), np.array([20.0]), 2)[0])
    rows = [(0, 1, 0, -40.0, -60.0), (1, 1, 100, 10.0, 20.0),
            (2, 1, 200, 10.1, 20.1), (3, 1, 300, -40.0, -60.0),
            (4, 2, 0, 10.0, 20.0), (5, 2, 100, 10.2, 20.2),
            (6, 3, 0, -40.0, -60.0)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double")
    out = trajectory.geofence_transitions(
        engine.with_cell(df, nchars=5), [fence_cell], nchars=2).collect()
    got = sorted((r["user_id"], r["event_id"], r["transition"], r["cell"])
                 for r in out)
    assert got == [(1, 1, "enter", fence_cell), (1, 3, "exit", "68")]
    assert all(r["ep"] in (100, 300) for r in out)


def test_bearing_sectors_brute_force(spark):
    import collections
    import math

    out = {(r["user_id"], r["sector"]): r["n_legs"]
           for r in trajectory.bearing_sectors(_df(spark), nsect=8).collect()}
    rows = sorted(_traj_rows(), key=lambda r: (r[1], r[2], r[0]))
    prev = {}
    expect = collections.Counter()
    for eid, u, t, la, lo in rows:
        if u in prev:
            pla, plo = prev[u]
            la1, lo1 = pla / 180.0 * math.pi, plo / 180.0 * math.pi
            la2, lo2 = la / 180.0 * math.pi, lo / 180.0 * math.pi
            dl = lo2 - lo1
            th = math.atan2(
                math.sin(dl) * math.cos(la2),
                math.cos(la1) * math.sin(la2)
                - math.sin(la1) * math.cos(la2) * math.cos(dl)) * 180.0 / math.pi
            norm = math.fmod(math.fmod(th, 360.0) + 360.0, 360.0)
            expect[(u, min(int(math.floor(norm / 45.0)), 7))] += 1
        prev[u] = (la, lo)
    assert out == dict(expect)


def test_bearing_sectors_cardinal_directions(spark):
    # due north / back south for user 1; due east / back west along the
    # equator for user 2 — the four IEEE-exact bearing boundaries
    rows = [(0, 1, 0, 0.0, 0.0), (1, 1, 100, 10.0, 0.0),
            (2, 1, 200, 0.0, 0.0),
            (3, 2, 0, 0.0, 0.0), (4, 2, 100, 0.0, 10.0),
            (5, 2, 200, 0.0, 0.0)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double")
    out = {(r["user_id"], r["sector"]): r["n_legs"]
           for r in trajectory.bearing_sectors(df, nsect=8).collect()}
    assert out == {(1, 0): 1, (1, 4): 1, (2, 2): 1, (2, 6): 1}


def test_bearing_sectors_validates_nsect(spark):
    import pytest

    with pytest.raises(ValueError):
        trajectory.bearing_sectors(_df(spark), nsect=7)


def test_covisit_jaccard_known_sets(spark):
    # kept visit sets after the df cap drops the ubiquitous 'zz' cell
    # (df=3 > cap 2): u1 {aa,bb,cc}, u2 {bb,cc,dd}, u3 {aa}; only
    # (1,2) reaches min_shared=2 -> jac = 2/(3+3-2) = 500000 ppm
    rows = [(1, "aa"), (1, "aa"), (1, "bb"), (1, "cc"), (1, "zz"),
            (2, "bb"), (2, "cc"), (2, "dd"), (2, "zz"),
            (3, "aa"), (3, "zz")]
    df = spark.createDataFrame(rows, "user_id long, geohash string")
    out = trajectory.covisit_jaccard(df, nchars=2, max_cell_users=2,
                                     min_shared=2)
    got = [(r["a"], r["b"], r["shared"], r["n_a"], r["n_b"], r["jac_ppm"])
           for r in out.collect()]
    assert got == [(1, 2, 2, 3, 3, 500_000)]
    dropped = [(r["cell"], r["_n"])
               for r in out._geotile_dropped_cells_df.collect()]
    assert dropped == [("zz", 3)]
    from geotile import cache
    cache.release(out)


def test_covisit_jaccard_dedups_repeat_visits(spark):
    # 100 pings in one shared cell are ONE posting each: shared=1,
    # below min_shared=2 -> no pair
    rows = [(1, "aa")] * 100 + [(2, "aa")] * 100
    df = spark.createDataFrame(rows, "user_id long, geohash string")
    out = trajectory.covisit_jaccard(df, nchars=2, max_cell_users=10,
                                     min_shared=2)
    assert out.count() == 0
    from geotile import cache
    cache.release(out)


def test_radius_of_gyration_brute_force(spark):
    import math

    out = {r["user_id"]: (r["n_fixes"], r["rg_m"]) for r in
           trajectory.radius_of_gyration(_df(spark)).collect()}
    import collections
    byu = collections.defaultdict(list)
    for eid, u, t, la, lo in _traj_rows():
        byu[u].append((la, lo))
    expect = {}
    for u, fixes in byu.items():
        n = len(fixes)
        slat = sum(math.floor(la * 1000.0 + 0.5) for la, lo in fixes)
        slon = sum(math.floor(lo * 1000.0 + 0.5) for la, lo in fixes)
        clat = (slat / n) / 1000.0
        clon = (slon / n) / 1000.0
        s = 0
        for la, lo in fixes:
            d = math.floor(float(gh.haversine_m(
                np.array([clat]), np.array([clon]),
                np.array([la]), np.array([lo]))[0]))
            s += d * d
        expect[u] = (n, math.floor(math.sqrt(s / n)))
    assert out == expect


def test_radius_of_gyration_single_fix_is_zero(spark):
    df = spark.createDataFrame([(0, 7, 0, 12.345, -67.89)],
                               "event_id long, user_id long, ep long, "
                               "lat double, lon double")
    out = trajectory.radius_of_gyration(df).collect()
    assert [(r["user_id"], r["n_fixes"], r["rg_m"]) for r in out] == [(7, 1, 0)]


def test_visit_entropy_known_distributions(spark):
    import math

    # u1: 2+2 fixes over two cells -> exactly 1 bit; u2: single cell
    # -> 0; u3: 3/1 split -> the floored 0.811-bit sum
    rows = [(1, "aa"), (1, "aa"), (1, "bb"), (1, "bb"),
            (2, "cc"),
            (3, "aa"), (3, "aa"), (3, "aa"), (3, "bb")]
    df = spark.createDataFrame(rows, "user_id long, geohash string")
    out = {r["user_id"]: (r["n_fixes"], r["n_cells"], r["ent_nano"])
           for r in trajectory.visit_entropy(df, nchars=2).collect()}
    exp3 = -(math.floor(0.75 * math.log2(0.75) * 1e9)
             + math.floor(0.25 * math.log2(0.25) * 1e9))
    assert out == {1: (4, 2, 1_000_000_000), 2: (1, 1, 0), 3: (4, 2, exp3)}


def test_visit_entropy_bounds(spark):
    import math

    # 0 <= H <= log2(n_cells) (+1 nano-bit per cell of floor slack)
    out = trajectory.visit_entropy(
        engine.with_cell(_df(spark), nchars=5), nchars=4).collect()
    assert out
    for r in out:
        hi = math.log2(r["n_cells"]) * 1e9 + r["n_cells"]
        assert 0 <= r["ent_nano"] <= hi


def test_anchor_cells_known_timeline(spark):
    # user 1: night fixes 2x in 'aaaa', 1x in 'bbbb'; work fixes 1x in
    # 'cccc' -> home=aaaa(2), work=cccc(1).  user 2: only evening
    # (hour 20) fixes -> dropped.  user 3: night tie 1-1 -> lexico
    # smallest cell; no work fixes -> ('', 0) sentinels.
    h = 3600
    rows = [(1, 1 * h, "aaaax"), (1, 86400 + 2 * h, "aaaay"),
            (1, 3 * h, "bbbbx"), (1, 10 * h, "ccccx"),
            (2, 20 * h, "ddddx"),
            (3, 0 * h, "ffffx"), (3, 5 * h, "eeeex")]
    df = spark.createDataFrame(rows, "user_id long, ep long, geohash string")
    out = {r["user_id"]: (r["home_cell"], r["home_n"],
                          r["work_cell"], r["work_n"])
           for r in trajectory.anchor_cells(df, nchars=4).collect()}
    assert out == {1: ("aaaa", 2, "cccc", 1), 3: ("eeee", 1, "", 0)}


def test_anchor_cells_counts_conserve(spark):
    # over the synthetic walk: each side's count never exceeds the
    # user's fixes in that hour window, and anchors are non-empty iff
    # the window had fixes
    df = engine.with_cell(_df(spark), nchars=5)
    fixes = {}
    for _, u, t, _, _ in _traj_rows():
        hr = (t % 86400) // 3600
        part = "home" if 0 <= hr < 6 else ("work" if 9 <= hr < 17 else None)
        if part:
            fixes[(u, part)] = fixes.get((u, part), 0) + 1
    out = trajectory.anchor_cells(df, nchars=4).collect()
    assert {r["user_id"] for r in out} == {u for (u, _) in fixes}
    for r in out:
        for part, cell, n in (("home", r["home_cell"], r["home_n"]),
                              ("work", r["work_cell"], r["work_n"])):
            total = fixes.get((r["user_id"], part), 0)
            assert 0 <= n <= total
            assert (cell != "") == (total > 0)
            if total:
                assert len(cell) == 4


def test_hausdorff_pairs_known_geometry(spark):
    # users 1 and 2 share cell (0, 0) at scale=16; user 1 also visits
    # (0, 1), user 2 also visits (0, 4).  user 3 never shares a cell.
    def fix(eid, uid, ilat, ilon):
        return (eid, uid, 0, (ilat + 0.25) / 16.0, (ilon + 0.25) / 16.0)

    rows = [fix(0, 1, 0, 0), fix(1, 1, 0, 1), fix(2, 1, 0, 1),  # dup cell
            fix(3, 2, 0, 0), fix(4, 2, 0, 4),
            fix(5, 3, 40, 40)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double")
    got = trajectory.hausdorff_pairs(df, scale=16).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["key_a"], r["key_b"]) == (1, 2)
    assert (r["n_cells_a"], r["n_cells_b"]) == (2, 2)
    # hand-computed: h(A,B) = min-dist of A's cell (0,1) to B = 3 cells
    # of longitude at the equator; h(B,A) = B's (0,4) to A's (0,1) =
    # 3 cells too -> symmetric; centers at (0.5/16, (j+0.5)/16)
    ctr = 0.5 / 16.0
    exp = int(np.floor(gh.haversine_m(
        np.array([ctr]), np.array([1.5 / 16.0]),
        np.array([ctr]), np.array([4.5 / 16.0]))[0]))
    assert r["hausdorff_m"] == exp
    # the distance is symmetric by construction here; sanity: nonzero
    assert r["hausdorff_m"] > 10000


def test_hausdorff_pairs_subset_property(spark):
    # identical trajectories -> Hausdorff 0; containment A within B ->
    # h(A,B) = 0 but h(B,A) > 0 (asymmetry handled by the greatest)
    def fix(eid, uid, ilat, ilon):
        return (eid, uid, 0, (ilat + 0.75) / 16.0, (ilon + 0.75) / 16.0)

    rows = [fix(0, 1, 5, 5), fix(1, 1, 5, 6),
            fix(2, 2, 5, 5), fix(3, 2, 5, 6),          # identical to 1
            fix(4, 4, 5, 5)]                           # subset of 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double")
    got = {(r["key_a"], r["key_b"]): r["hausdorff_m"]
           for r in trajectory.hausdorff_pairs(df, scale=16).collect()}
    assert got[(1, 2)] == 0
    assert got[(1, 4)] > 0 and got[(2, 4)] == got[(1, 4)]


def test_route_ngrams_collapses_dwell_and_counts(spark):
    # two users drive A->B->C->D (one shared corridor); user 1 dwells
    # in B (repeat fixes collapse); user 3 only does A->B (too short)
    A, B, C, D = (10.0, 20.0), (10.0, 20.5), (10.5, 20.5), (10.5, 21.0)
    rows = []
    for uid, path in ((1, [A, B, B, B, C, D]), (2, [A, B, C, D]),
                      (3, [A, B])):
        for i, (la, lo) in enumerate(path):
            rows.append((uid * 100 + i, uid, i * 60, la, lo))
    df = engine.with_cell(spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double"))
    got = {(r["c1"], r["c2"], r["c3"]): r["n"]
           for r in trajectory.route_ngrams(df, min_count=2).collect()}

    def c4(p):
        return gh.encode(np.array([p[0]]), np.array([p[1]]))[0][:4]

    # both users produce A->B->C and B->C->D; nothing else reaches 2
    assert got == {(c4(A), c4(B), c4(C)): 2, (c4(B), c4(C), c4(D)): 2}


def test_cell_occupancy_sweep_and_peak(spark):
    # cell A: user 1 visits [0, 100], user 2 visits [100, 200] (touch
    # at ep=100 -> overlap of 2), user 3 single fix at 300; user 1
    # leaves A for B at 150 then returns at 400 (second A visit).
    A, B = (10.0, 20.0), (10.0, 21.0)
    rows = [(0, 1, 0, *A), (1, 1, 100, *A),      # visit A [0,100]
            (2, 1, 150, *B),                      # visit B [150,150]
            (3, 1, 400, *A),                      # visit A [400,400]
            (10, 2, 100, *A), (11, 2, 200, *A),   # visit A [100,200]
            (20, 3, 300, *A)]                     # visit A [300,300]
    df = engine.with_cell(spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double"))
    got = {r["cell"]: (r["n_visits"], r["total_dwell_s"],
                       r["max_concurrent"], r["peak_ep"])
           for r in trajectory.cell_occupancy(df).collect()}

    def c4(p):
        return gh.encode(np.array([p[0]]), np.array([p[1]]))[0][:4]

    # A: 4 visits (1 twice, 2, 3), dwell 100+100+0+0, peak 2 users at
    # the inclusive-touch epoch 100; B: one zero-length visit.
    assert got == {c4(A): (4, 200, 2, 100), c4(B): (1, 0, 1, 150)}


def test_od_travel_times_excludes_dwell(spark):
    # user dwells at A (t=0..100), moves to B at t=160, back to A at
    # t=400: A->B takes 60 s (from the LAST A fix), B->A takes 240 s
    A, B = (10.0, 20.0), (10.0, 21.0)
    rows = [(0, 1, 0, *A), (1, 1, 100, *A), (2, 1, 160, *B),
            (3, 1, 400, *A)]
    df = engine.with_cell(spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double"))
    got = {(r["o_cell"], r["d_cell"]):
           (r["n_trips"], r["total_s"], r["min_s"], r["max_s"])
           for r in trajectory.od_travel_times(df).collect()}

    def c4(p):
        return gh.encode(np.array([p[0]]), np.array([p[1]]))[0][:4]

    assert got == {(c4(A), c4(B)): (1, 60, 60, 60),
                   (c4(B), c4(A)): (1, 240, 240, 240)}
    # flow counts agree with od_matrix on the same frame
    flows = {(r["o_cell"], r["d_cell"]): r["n_flows"]
             for r in trajectory.od_matrix(df).collect()}
    assert {k: v[0] for k, v in got.items()} == flows


def test_resample_track_grid_and_gap_rules(spark):
    import math

    rows = [(0, 1, 100, 10.0, 20.0), (1, 1, 1300, 10.0012, 20.0006),
            (2, 1, 9000, 11.0, 21.0),   # 7700 s gap > max_gap: no ticks
            (3, 2, 600, 5.0, 6.0), (4, 2, 1200, 5.0006, 6.0)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double")
    got = {(r["user_id"], r["tick_ep"]): (r["ilat6"], r["ilon6"])
           for r in trajectory.resample_track(df).collect()}

    def q(x):
        return math.floor(x * 1e6)

    def interp(p, c, pe, ce, g):
        return p + math.floor((c - p) * (g - pe) / (ce - pe))

    want = {
        # ticks strictly after pe=100, <= ce=1300 -> 600, 1200
        (1, 600): (interp(q(10.0), q(10.0012), 100, 1300, 600),
                   interp(q(20.0), q(20.0006), 100, 1300, 600)),
        (1, 1200): (interp(q(10.0), q(10.0012), 100, 1300, 1200),
                    interp(q(20.0), q(20.0006), 100, 1300, 1200)),
        # tick at exactly ce reproduces the fix; tick at pe excluded
        (2, 1200): (q(5.0006), q(6.0)),
    }
    assert got == want


def test_cell_trend_matches_closed_form(spark):
    # one cell with a clean +2/day trend (days 10..13: 1,3,5,7 fixes),
    # one single-day cell (dropped: denominator undefined)
    A, B = (10.0, 20.0), (-30.0, 40.0)
    rows = []
    for i, day in enumerate(range(10, 14)):
        for k in range(1 + 2 * i):
            rows.append((len(rows), 1, day * 86400 + k, *A))
    rows.append((len(rows), 2, 5 * 86400, *B))
    df = engine.with_cell(spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double"))
    out = {r["cell"]: r for r in trajectory.cell_trend(df).collect()}
    assert len(out) == 1
    r = next(iter(out.values()))
    xs, ys = [10, 11, 12, 13], [1, 3, 5, 7]
    n, sx, sy = 4, sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sx2 = sum(x * x for x in xs)
    assert (r["n_days"], r["sum_y"]) == (4, 16)
    assert (r["slope_num"], r["slope_den"]) == (n * sxy - sx * sy,
                                                n * sx2 - sx * sx)
    # exact rational = 2 fixes/day
    assert r["slope_num"] * 1 == 2 * r["slope_den"]
    assert r["slope_micro"] == 2000000


def test_revisit_rates_gap_rule(spark):
    A, B = (10.0, 20.0), (10.0, 21.0)
    day = 86400
    rows = [
        # user 1: A, away to B, back to A after 2 days -> one return
        (0, 1, 0, *A), (1, 1, 100, *B), (2, 1, 2 * day, *A),
        # user 2: A, away, back after only 1 hour -> NOT a return
        (10, 2, 0, *A), (11, 2, 100, *B), (12, 2, 3700, *A),
        # user 3: visits A once
        (20, 3, 50, *A),
    ]
    df = engine.with_cell(spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double"))
    got = {r["cell"]: (r["n_visitors"], r["n_returners"], r["n_returns"])
           for r in trajectory.revisit_rates(df).collect()}

    def c4(p):
        return gh.encode(np.array([p[0]]), np.array([p[1]]))[0][:4]

    assert got[c4(A)] == (3, 1, 1)
    assert got[c4(B)] == (2, 0, 0)


def test_turn_stats_classifies_by_cross_sign(spark):
    # user 1: E, then N (left), then E (right), then E again (straight)
    # points: (0,0) (0,1) (1,1) (1,2) (1,3) -> triples: L, R, S
    rows = [(i, 1, 1000 + i, float(la), float(lo))
            for i, (la, lo) in enumerate(
                [(0, 0), (0, 1), (1, 1), (1, 2), (1, 3)])]
    # user 2: exact reversal is collinear -> straight
    rows += [(10 + i, 2, 2000 + i, 0.0, float(lo))
             for i, lo in enumerate([0, 1, 0])]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double")
    got = {r["user_id"]: (r["n_turns"], r["n_left"], r["n_right"],
                          r["n_straight"], r["net_lr"])
           for r in trajectory.turn_stats(df).collect()}
    assert got[1] == (3, 1, 1, 1, 0)
    assert got[2] == (1, 0, 0, 1, 0)


def test_markov_transitions_brute_force(spark):
    cells = engine.with_cell(_df(spark), nchars=5)
    got = {(r["o_cell"], r["d_cell"]): (r["n"], r["p_micro"], r["rnk"])
           for r in trajectory.markov_transitions(cells, nchars=4).collect()}
    # local ground truth: lag per user on (ep, event_id), 4-char cells,
    # self-loops included
    rows = sorted(_traj_rows(), key=lambda r: (r[1], r[2], r[0]))
    by_user = {}
    for eid, u, t, la, lo in rows:
        c = gh.encode(np.array([la]), np.array([lo]), nchars=5)[0][:4]
        by_user.setdefault(u, []).append(c)
    counts = {}
    for seq in by_user.values():
        for o, d in zip(seq, seq[1:]):
            counts[(o, d)] = counts.get((o, d), 0) + 1
    assert set(got) == set(counts)
    tot = {}
    for (o, _d), n in counts.items():
        tot[o] = tot.get(o, 0) + n
    for (o, d), n in counts.items():
        gn, gp, _ = got[(o, d)]
        assert gn == n
        assert gp == n * 1000000 // tot[o]
    # ranks: within each origin, 1..k by (n desc, d asc), rank 1 = argmax
    for o in tot:
        dests = sorted(((d, n) for (oo, d), n in counts.items() if oo == o),
                       key=lambda x: (-x[1], x[0]))
        for rk, (d, _n) in enumerate(dests, start=1):
            assert got[(o, d)][2] == rk


def test_markov_self_loops_dominate_dwell(spark):
    # a user who never leaves one cell: exactly one transition row,
    # a self-loop with probability 1.0 (1e6 micro) and rank 1
    rows = [(i, 9, i * 100, 10.0 + i * 1e-6, 20.0) for i in range(5)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double")
    out = trajectory.markov_transitions(
        engine.with_cell(df, nchars=5), nchars=4).collect()
    assert len(out) == 1
    r = out[0]
    assert r["o_cell"] == r["d_cell"]
    assert (r["n"], r["p_micro"], r["rnk"]) == (4, 1000000, 1)


def test_markov_backtest_hand_case(spark):
    # cells: train teaches A->B (twice) and B->A (once);
    # test holds A->B (correct), A->A (wrong), B->C (B predicts A: wrong)
    # ts < 100 = train, >= 100 = test
    A, B, C = (10.0, 20.0), (30.0, 40.0), (-30.0, -40.0)
    seq = [(0, A), (10, B), (20, A), (30, B),          # train: A->B x2, B->A
           (100, A), (110, B),                         # test: A->B correct
           (120, A),                                   # B->A: B predicts A -> correct
           (130, A),                                   # A->A: predicts B -> wrong
           (140, B), (150, C)]                         # B->C: predicts A -> wrong
    rows = [(i, 1, t, la, lo) for i, (t, (la, lo)) in enumerate(seq)]
    df = engine.with_cell(spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double"),
        nchars=5)
    got = {r["o_cell"]: r for r in
           trajectory.markov_backtest(df, split_ep=100, nchars=4).collect()}
    cA = gh.encode(np.array([A[0]]), np.array([A[1]]), nchars=5)[0][:4]
    cB = gh.encode(np.array([B[0]]), np.array([B[1]]), nchars=5)[0][:4]
    assert got[cA]["predicted"] == cB
    # test transitions from A: A->B, A->A, A->B (the 130->140 pair) = 2/3
    assert (got[cA]["n_test"], got[cA]["n_correct"]) == (3, 2)
    assert got[cA]["acc_micro"] == 2 * 1000000 // 3
    # from B: B->A (correct), B->C (wrong)
    assert (got[cB]["n_test"], got[cB]["n_correct"]) == (2, 1)


def test_markov_backtest_unseen_origin_sentinel(spark):
    # train has only A->A; test transitions start from B (unseen)
    A, B = (10.0, 20.0), (30.0, 40.0)
    rows = [(0, 1, 0, *A), (1, 1, 10, *A),
            (2, 1, 100, *B), (3, 1, 110, *B)]
    df = engine.with_cell(spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double"),
        nchars=5)
    got = {r["o_cell"]: r for r in
           trajectory.markov_backtest(df, split_ep=100, nchars=4).collect()}
    cB = gh.encode(np.array([B[0]]), np.array([B[1]]), nchars=5)[0][:4]
    assert got[cB]["predicted"] == ""
    assert got[cB]["n_correct"] == 0 and got[cB]["acc_micro"] == 0


def test_cell_changepoint_detects_planted_step(spark):
    # one cell, 20-day window: 5 fixes/day for days 0-9, 1/day after
    # -> U_t peaks (in magnitude) at t = day 9 with |U| = 100
    day0 = 19723
    rows = []
    eid = 0
    for d in range(20):
        for _ in range(5 if d < 10 else 1):
            rows.append((eid, 1, (day0 + d) * 86400 + eid % 1000,
                         10.0, 20.0))
            eid += 1
    df = engine.with_cell(spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double"),
        nchars=5)
    got = trajectory.cell_changepoint(df, day0=day0, ndays=20,
                                      nchars=4).collect()
    assert len(got) == 1
    r = got[0]
    assert r["change_day"] == day0 + 9
    assert r["u_stat"] == -100 and r["u_abs"] == 100


def test_cell_changepoint_constant_series_absent(spark):
    # a cell with the SAME count every day has no signal: absent
    day0 = 19723
    rows = [(d, 1, (day0 + d) * 86400 + 10, 10.0, 20.0) for d in range(20)]
    df = engine.with_cell(spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double"),
        nchars=5)
    got = trajectory.cell_changepoint(df, day0=day0, ndays=20,
                                      nchars=4).collect()
    assert got == []


def test_poi_visits_attribution_and_dwell(spark):
    # user 1 dwells 2000 s at POI 0's center; user 2 dwells 2500 s
    # there too; user 3 dwells far away (no POI)
    rows = []
    for i, (u, la, lo, dur) in enumerate([(1, 10.0, 20.0, 2000),
                                          (2, 10.001, 20.001, 2500),
                                          (3, -50.0, -100.0, 3000)]):
        for k, t in enumerate((0, dur // 2, dur)):
            rows.append((i * 10 + k, u, t, la + k * 1e-5, lo))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double")
    out = {r["poi_id"]: r for r in trajectory.poi_visits(
        df, [(7, 10.0005, 20.0005, 5000.0)], min_dwell_s=1800).collect()}
    assert set(out) == {7}
    r = out[7]
    assert r["n_visits"] == 2 and r["n_users"] == 2
    assert r["dwell_s_sum"] == 4500 and r["dwell_s_max"] == 2500


def test_session_sinuosity_detour_vs_straight(spark):
    # user 1: straight east run -> ratio ~ 1e6; user 2: out-and-back
    # detour (path ~2x chord)
    rows = [(0, 1, 0, 0.0, 0.0), (1, 1, 100, 0.0, 0.1),
            (2, 1, 200, 0.0, 0.2),
            (10, 2, 0, 10.0, 0.0), (11, 2, 100, 10.1, 0.05),
            (12, 2, 200, 10.0, 0.1)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double")
    got = {r["user_id"]: r for r in
           trajectory.session_sinuosity(df, gap_s=3600).collect()}
    assert got[1]["sinuosity_micro"] <= 1000001  # floor can shave 1
    assert got[1]["sinuosity_micro"] >= 999900
    assert got[2]["sinuosity_micro"] > 1500000


def test_session_sinuosity_drops_loops(spark):
    rows = [(0, 1, 0, 5.0, 5.0), (1, 1, 100, 5.1, 5.1),
            (2, 1, 200, 5.0, 5.0)]  # returns to start: chord 0
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double")
    assert trajectory.session_sinuosity(df, gap_s=3600).collect() == []


def test_decayed_cell_heat_halving(spark):
    # 3 fixes today, 2 yesterday, 1 too old -> heat = 3*1e9 + 2*5e8
    day = 20000
    rows = ([(i, 1, day * 86400 + i, 10.0, 20.0) for i in range(3)]
            + [(10 + i, 1, (day - 1) * 86400 + i, 10.0, 20.0)
               for i in range(2)]
            + [(20, 1, (day - 40) * 86400, 10.0, 20.0)])
    df = engine.with_cell(spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double"),
        nchars=5)
    got = trajectory.decayed_cell_heat(df, asof_day=day, nchars=4).collect()
    assert len(got) == 1
    assert got[0]["n"] == 6
    assert got[0]["heat_nano"] == 3 * 1000000000 + 2 * 500000000


def test_dead_reckoning_zero_on_constant_velocity(spark):
    # perfectly linear track in micro-degree space -> every prediction
    # lands exactly -> all errors 0
    rows = [(i, 1, i * 100, 10.0 + i * 0.001, 20.0 + i * 0.002)
            for i in range(6)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double")
    got = trajectory.dead_reckoning_error(df).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_preds"] == 4
    assert r["err_m_sum"] == 0 and r["err_m_max"] == 0
    assert r["err_m_mean"] == 0


def test_dead_reckoning_turn_error_matches_numpy(spark):
    # straight then a hard turn: the turn fix's miss equals the
    # haversine between the extrapolated and actual points
    pts = [(0, 10.0, 20.0), (100, 10.0, 20.01), (200, 10.01, 20.01)]
    rows = [(i, 1, t, la, lo) for i, (t, la, lo) in enumerate(pts)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double")
    r = trajectory.dead_reckoning_error(df).collect()[0]
    # prediction for fix 2: (10.0, 20.02); actual (10.01, 20.01)
    want = int(np.floor(gh.haversine_m(
        np.array([10.0]), np.array([20.02]),
        np.array([10.01]), np.array([20.01]))[0]))
    assert (r["n_preds"], r["err_m_sum"], r["err_m_max"]) == (1, want, want)


def test_convoys_requires_consecutive_buckets(spark):
    # pair (1,2): co-located buckets 0,1,2 (run 3) -> convoy
    # pair (1,3): co-located buckets 0,2,4 (runs of 1) -> not a convoy
    rows = []
    eid = 0
    for tb in (0, 1, 2):
        for u in (1, 2):
            rows.append((eid, u, tb * 1000 + 5, 10.0, 20.0)); eid += 1
    for tb in (0, 2, 4):
        rows.append((eid, 3, tb * 1000 + 7, 10.0, 20.0)); eid += 1
    df = engine.with_cell(spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double"),
        nchars=5)
    from geotile import cache

    out = trajectory.convoys(df, bucket_s=1000, nchars=4, min_len=3)
    got = {(r["a"], r["b"]): r for r in out.collect()}
    cache.release(out)
    assert set(got) == {(1, 2)}
    assert got[(1, 2)]["max_run"] == 3 and got[(1, 2)]["n_cooc_buckets"] == 3


def test_fence_dwell_counts_inside_segments_only(spark):
    # fix sequence: out -> in -> in -> out -> in; only the in->in
    # segment (100 s) bills; crossings contribute nothing
    seq = [(0, -40.0), (100, 10.0), (200, 10.0001), (300, -40.0),
           (400, 10.0)]
    rows = [(i, 1, t, la, 20.0) for i, (t, la) in enumerate(seq)]
    df = engine.with_cell(spark.createDataFrame(
        rows, "event_id long, user_id long, ep long, lat double, lon double"),
        nchars=5)
    cell_in = gh.encode(np.array([10.0]), np.array([20.0]), 5)[0][:2]
    got = trajectory.fence_dwell(df, [cell_in], nchars=2).collect()
    assert len(got) == 1
    assert (got[0]["n_segments"], got[0]["dwell_s"]) == (1, 100)


def test_hourly_acf_hand_series(spark):
    """Zero-filled lag products on a hand-built two-cell series."""
    from pyspark.sql import functions as F

    from geotile import trajectory

    # cell A (lat 0, lon 0): hours 0,0,1,3 ; cell B (lat 40, lon 100): hour 2
    rows = [(0.0, 0.0, 0), (0.0, 0.0, 1800), (0.0, 0.0, 3700),
            (0.0, 0.0, 3 * 3600), (40.0, 100.0, 2 * 3600 + 5)]
    df = spark.createDataFrame(rows, "lat double, lon double, ep long")
    out = {r["cell_id"]: r.asDict() for r in
           trajectory.hourly_acf(df, cell_deg=30.0, max_lag=2).collect()}
    a = (90 // 30) * 100000 + (180 // 30)      # y=3,x=6
    b = ((40 + 90) // 30) * 100000 + ((100 + 180) // 30)
    # global span hours 0..3 -> series A: [2,1,0,1], B: [0,0,1,0]
    assert out[a]["n_hours"] == 4 and out[a]["sum_x"] == 4
    assert out[a]["sum_x2"] == 2 * 2 + 1 + 0 + 1
    assert out[a]["lag1"] == 2 * 1 + 1 * 0 + 0 * 1
    assert out[a]["lag2"] == 2 * 0 + 1 * 1
    assert out[b]["sum_x"] == 1 and out[b]["lag1"] == 0 and out[b]["lag2"] == 0


def test_simplify_tracks_recursive_parity_and_line(spark):
    """Stack DP equals a plain recursive DP on random tracks; a
    perfectly collinear track keeps only its endpoints; endpoints are
    always kept."""
    import numpy as np

    from geotile import trajectory

    def rec_dp(xs, ys, eps):
        keep = {0, len(xs) - 1}

        def go(i, j):
            if j <= i + 1:
                return
            dx, dy = int(xs[j] - xs[i]), int(ys[j] - ys[i])
            s2 = dx * dx + dy * dy
            vx = xs[i + 1:j] - xs[i]
            vy = ys[i + 1:j] - ys[i]
            if s2 == 0:
                d2 = vx * vx + vy * vy
                r = int(np.argmax(d2))
                split = int(d2[r]) > eps * eps
            else:
                cr = dx * vy - dy * vx
                r = int(np.argmax(np.abs(cr)))
                split = abs(int(cr[r])) ** 2 > eps * eps * s2
            if split:
                m = i + 1 + r
                keep.add(m)
                go(i, m)
                go(m, j)

        go(0, len(xs) - 1)
        return sorted(keep)

    rng = np.random.default_rng(9)
    rows = []
    tracks = {}
    for u in range(6):
        n = int(rng.integers(3, 40))
        xs = rng.integers(-170000, 170000, n)
        ys = rng.integers(-80000, 80000, n)
        tracks[u] = (xs, ys)
        rows += [(u, int(t), int(e), float(ys[t]) / 1000.0,
                  float(xs[t]) / 1000.0) for t, e in enumerate(range(n))]
    # user 100: exactly collinear
    xs = np.arange(0, 50000, 5000, dtype=np.int64)
    tracks[100] = (xs, xs // 2)
    rows += [(100, int(t), int(t), float(x // 2) / 1000.0, float(x) / 1000.0)
             for t, x in enumerate(xs)]
    df = spark.createDataFrame(
        rows, "user_id long, ep long, event_id long, lat double, lon double")
    kept = trajectory.simplify_tracks(df, eps_milli=15000)
    got = {}
    for r in kept.collect():
        got.setdefault(r["user_id"], []).append(r["idx"])
    for u, (xs, ys) in tracks.items():
        assert sorted(got[u]) == rec_dp(np.asarray(xs, dtype=np.int64),
                                        np.asarray(ys, dtype=np.int64),
                                        15000), u
    assert sorted(got[100]) == [0, len(tracks[100][0]) - 1]


def test_commute_anchors_hand_case(spark):
    """Known anchors, tie rule, and the day-conjunction count."""
    from geotile import trajectory

    H = 3600
    D = 86400
    rows = []
    # user 1: nights (hod 1) at cell A=(0,0) on days 0,1,2; work (hod 10)
    # at cell B=(40N,100E) on days 0,2 -> commute days {0,2}
    for d in (0, 1, 2):
        rows.append((1, d * D + 1 * H, -80.0, -170.0))
    for d in (0, 2):
        rows.append((1, d * D + 10 * H, 40.0, 100.0))
    # user 2: tie between two night cells -> smallest cell id wins;
    # no work obs -> dropped (inner join)
    rows.append((2, 1 * H, -80.0, -170.0))
    rows.append((2, D + 1 * H, 40.0, 100.0))
    df = spark.createDataFrame(rows, "user_id long, ep long, lat double, lon double")
    out = {r["user_id"]: r.asDict()
           for r in trajectory.commute_anchors(df, cell_deg=30.0).collect()}
    a = 0 * 1000 + 0
    b = ((40 + 90) // 30) * 1000 + ((100 + 180) // 30)
    assert out[1]["home_cell"] == a and out[1]["work_cell"] == b
    assert out[1]["n_home_obs"] == 3 and out[1]["n_work_obs"] == 2
    assert out[1]["n_commute_days"] == 2
    assert 2 not in out


def test_commute_anchors_rejects_colliding_cell_ids(spark):
    """At 0.25 degrees the grid has 1,440 columns, so ``row * 1000 +
    column`` would give (lat -89.9, lon 100.0) -> row 0, column 1,120
    and (lat -89.7, lon -150.0) -> row 1, column 120 the same id 1120."""
    import pytest

    df = spark.createDataFrame([(1, 3600, -89.9, 100.0), (1, 36000, -89.7, -150.0)],
                               "user_id long, ep long, lat double, lon double")
    with pytest.raises(ValueError, match="1440 columns"):
        trajectory.commute_anchors(df, cell_deg=0.25)


def test_deg_bins_matches_int_clamp(spark):
    """``udfs.deg_bins`` equals the old ``int(180/cell_deg)`` clamp
    wherever ``cell_deg`` divides 180 and 360, on random points, bin
    edges and the +-90/+-180 corners; at 7 degrees the partial last
    row takes lat 90."""
    import math

    from pyspark.sql import functions as F

    from geotile import udfs

    rng = np.random.default_rng(7)
    degs = (0.25, 5.0, 10.0, 30.0)
    pts = [(float(la), float(lo)) for la, lo in zip(rng.uniform(-90.0, 90.0, 500),
                                                     rng.uniform(-180.0, 180.0, 500))]
    # every bin edge of every grid: multiples of 0.25 on both axes
    pts += [(-90.0 + 0.25 * (k % 721), -180.0 + 0.25 * k) for k in range(1441)]
    pts += [(la, lo) for la in (-90.0, -0.0, 89.999, 90.0) for lo in (-180.0, -0.0, 179.999, 180.0)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    cols = []
    for k, d in enumerate(degs + (7.0,)):
        y, x, ny, nx = udfs.deg_bins(F.col("lat"), F.col("lon"), d)
        cols += [y.alias(f"y{k}"), x.alias(f"x{k}")]
    rows = df.select("lat", "lon", *cols).collect()
    assert len(rows) == len(pts)

    def old(v, off, span, d):
        n = int(span / d)
        return min(max(math.floor((v + off) / d), 0), n - 1)

    for k, d in enumerate(degs):
        assert udfs.deg_bins(F.col("lat"), F.col("lon"), d)[2:] == (int(180 / d), int(360 / d))
        for r in rows:
            assert (r[f"y{k}"], r[f"x{k}"]) == (old(r["lat"], 90.0, 180.0, d),
                                               old(r["lon"], 180.0, 360.0, d)), (d, r)
    assert udfs.deg_bins(F.col("lat"), F.col("lon"), 7.0)[2:] == (26, 52)
    corner = [r for r in rows if (r["lat"], r["lon"]) == (90.0, 180.0)][0]
    assert (corner["y4"], corner["x4"]) == (25, 51)


def test_haar_energy_hand_series(spark):
    """Exact Haar detail energies on a hand-built series, and the
    sparse-equals-dense property (absent hours contribute zero)."""
    from geotile import trajectory

    # one cell (0,0 at 30deg -> y=3,x=6), hours 0..7 with counts
    # [2,1,0,0,3,0,0,1] (hours 2,3,5,6 absent)
    xs = {0: 2, 1: 1, 4: 3, 7: 1}
    rows = [(0.0, 0.0, h * 3600 + k) for h, n in xs.items() for k in range(n)]
    df = spark.createDataFrame(rows, "lat double, lon double, ep long")
    out = trajectory.haar_energy(df, cell_deg=30.0, levels=3, span=512)
    r = out.collect()[0].asDict()
    x = [xs.get(t, 0) for t in range(8)]
    e1 = sum((x[2 * i] - x[2 * i + 1]) ** 2 for i in range(4))
    s1 = [x[2 * i] + x[2 * i + 1] for i in range(4)]
    e2 = sum((s1[2 * i] - s1[2 * i + 1]) ** 2 for i in range(2))
    s2 = [s1[2 * i] + s1[2 * i + 1] for i in range(2)]
    e3 = (s2[0] - s2[1]) ** 2
    assert (r["n_obs"], r["e1"], r["e2"], r["e3"]) == (7, e1, e2, e3)


def test_corridor_counts_exact_rational_replay(spark):
    """Supercover cells equal an exact-Fraction replay of the rule
    (orientation, column clip, rational y floor), and every sampled
    interior point's cell is in the set."""
    from fractions import Fraction

    import numpy as np

    from geotile import trajectory

    W = 250
    rng = np.random.default_rng(31)
    rows, tracks = [], {}
    for u in range(4):
        n = int(rng.integers(4, 20))
        xs = np.cumsum(rng.integers(-900, 901, n)) + int(rng.integers(-3000, 3000))
        ys = np.cumsum(rng.integers(-700, 701, n)) + int(rng.integers(-3000, 3000))
        tracks[u] = (xs, ys)
        rows += [(u, int(t), int(t), float(y) / 1000.0, float(x) / 1000.0)
                 for t, (x, y) in enumerate(zip(xs, ys))]
    # degenerate shapes: horizontal, vertical, single repeated point
    tracks[10] = (np.array([0, 1000]), np.array([100, 100]))
    tracks[11] = (np.array([100, 100]), np.array([0, 1000]))
    tracks[12] = (np.array([499, 499]), np.array([499, 499]))
    for u in (10, 11, 12):
        xs, ys = tracks[u]
        rows += [(u, int(t), int(t), float(y) / 1000.0, float(x) / 1000.0)
                 for t, (x, y) in enumerate(zip(xs, ys))]
    df = spark.createDataFrame(
        rows, "user_id long, ep long, event_id long, lat double, lon double")
    out = trajectory.corridor_counts(df, cell_milli=W)
    got = {(r["cx"], r["cy"]): (r["n_segments"], r["n_users"])
           for r in out.collect()}

    def replay(xs, ys):
        cells = set()
        for i in range(len(xs) - 1):
            ax, ay, bx, by = int(xs[i]), int(ys[i]), int(xs[i + 1]), int(ys[i + 1])
            if bx < ax:
                ax, ay, bx, by = bx, by, ax, ay
            for cx in range(ax // W, bx // W + 1):   # python // floors
                xlo, xhi = max(ax, cx * W), min(bx, (cx + 1) * W)
                if bx == ax:
                    y1, y2 = min(ay, by), max(ay, by)
                    c1, c2 = y1 // W, y2 // W
                else:
                    f1 = Fraction(ay * (bx - ax) + (by - ay) * (xlo - ax),
                                  (bx - ax) * W)
                    f2 = Fraction(ay * (bx - ax) + (by - ay) * (xhi - ax),
                                  (bx - ax) * W)
                    lo, hi = min(f1, f2), max(f1, f2)
                    import math
                    c1, c2 = math.floor(lo), math.floor(hi)
                for cy in range(c1, c2 + 1):
                    cells.add((cx, cy))
        return cells

    # per-cell counts: count distinct (u, seg) traversals
    from collections import defaultdict
    segcells = defaultdict(set)
    for u, (xs, ys) in tracks.items():
        for i in range(len(xs) - 1):
            for c in replay(xs[i:i + 2], ys[i:i + 2]):
                segcells[c].add((u, i))
    want = {c: (len(ss), len({u for u, _ in ss}))
            for c, ss in segcells.items()}
    assert got == want
    # interior-point containment (necessary condition, independent)
    for u, (xs, ys) in tracks.items():
        for i in range(len(xs) - 1):
            for k in range(0, 11):
                t = Fraction(k, 10)
                px = Fraction(int(xs[i])) + t * (int(xs[i + 1]) - int(xs[i]))
                py = Fraction(int(ys[i])) + t * (int(ys[i + 1]) - int(ys[i]))
                import math
                c = (math.floor(px / W), math.floor(py / W))
                assert c in got, (u, i, k)


def test_step_direction_stats_axes(spark):
    """Axis-aligned steps give exact +-1e6/0 components; a zero-length
    step is skipped and counted."""
    from geotile import trajectory

    rows = [
        (1, 0, 0.0, 0.0),    # start
        (1, 1, 0.0, 1.0),    # east: cos 1e6, sin 0
        (1, 2, 1.0, 1.0),    # north: cos 0, sin 1e6
        (1, 3, 1.0, 1.0),    # zero step
        (1, 4, 0.0, 0.0),    # southwest: dx=-1000, dy=-1000
    ]
    df = spark.createDataFrame(
        [(u, e, e * 60, la, lo) for u, e, la, lo in rows],
        "user_id long, event_id long, ep long, lat double, lon double")
    r = trajectory.step_direction_stats(df).collect()[0]
    assert r["n_steps"] == 3 and r["n_zero"] == 1
    import math
    diag = math.floor(1000000.0 * -1000.0 / math.sqrt(2000000.0))
    assert r["sum_cos_micro"] == 1000000 + 0 + diag
    assert r["sum_sin_micro"] == 0 + 1000000 + diag


def test_gravity_residuals_hand_flows(spark):
    """Three flows over two cells: exact marginals and floored
    expected/chi-residual micros."""
    from geotile import cache, trajectory

    rows = [  # user, seq, cell  (A->B, B->A for u1; A->B for u2)
        (1, 0, "aaaa1"), (1, 1, "bbbb1"), (1, 2, "aaaa1"),
        (2, 0, "aaaa2"), (2, 1, "bbbb2"),
    ]
    df = spark.createDataFrame(
        [(u, s, s * 60, c) for u, s, c in rows],
        "user_id long, event_id long, ep long, geohash string")
    out = trajectory.gravity_residuals(df, nchars=4)
    g = {(r["o_cell"], r["d_cell"]): r for r in out.collect()}
    cache.release(out)
    ab = g[("aaaa", "bbbb")]
    assert ab["n"] == 2 and ab["o_tot"] == 2 and ab["d_tot"] == 2
    assert ab["e_micro"] == 1333333 and ab["g_micro"] == 333333
    ba = g[("bbbb", "aaaa")]
    assert ba["n"] == 1 and ba["e_micro"] == 333333
    assert ba["g_micro"] == 1333333


def test_ipf_fit_hand_margins(spark):
    """2x2 grid from asymmetric margins: the four unrolled scalings
    reproduce the hand-computed integer-micro table."""
    from geotile import cache, trajectory

    rows = [
        (1, 0, "aaaa1"), (1, 1, "bbbb1"), (1, 2, "aaaa1"),
        (2, 0, "aaaa2"), (2, 1, "bbbb2"),
    ]
    df = spark.createDataFrame(
        [(u, s, s * 60, c) for u, s, c in rows],
        "user_id long, event_id long, ep long, geohash string")
    out = trajectory.ipf_fit(df, nchars=4, rounds=2)
    g = {(r["o_cell"], r["d_cell"]): r["f_micro"] for r in out.collect()}
    cache.release(out)
    # margins: O = {aaaa: 2, bbbb: 1}, D = {bbbb: 2, aaaa: 1}
    assert g[("aaaa", "aaaa")] == 666666
    assert g[("aaaa", "bbbb")] == 1333333
    assert g[("bbbb", "aaaa")] == 333333
    assert g[("bbbb", "bbbb")] == 666666


def test_activity_streaks_islands(spark):
    """Days {1,2,3, 7,8, 12}: three runs, longest 3, last run len 1."""
    from geotile import cache, trajectory

    rows = [("abc99", d * 86400 + 30) for d in (1, 2, 3, 7, 8, 12)]
    df = spark.createDataFrame(rows, "geohash string, ep long")
    out = trajectory.activity_streaks(df)
    r = out.collect()[0]
    cache.release(out)
    assert (r["cell"], r["n_days"], r["n_streaks"]) == ("abc", 6, 3)
    assert (r["max_streak"], r["last_streak"]) == (3, 1)


def test_follow_patterns_gapped_order(spark):
    """A->C->B supports (A,C), (A,B), (C,B) — including the GAPPED
    (A,B) a contiguous bigram would miss; revisits don't double-count
    within a day."""
    from geotile import cache, trajectory

    rows = [  # one user, one day, sequence A C B A
        (1, 0, "aaaa1"), (1, 1, "cccc1"), (1, 2, "bbbb1"), (1, 3, "aaaa2"),
        # second user, same day, A then B only
        (2, 0, "aaaa3"), (2, 1, "bbbb3"),
    ]
    df = spark.createDataFrame(
        [(u, s, s * 60, c) for u, s, c in rows],
        "user_id long, event_id long, ep long, geohash string")
    out = trajectory.follow_patterns(df, nchars=4, min_support=1)
    pats = {(r["a_cell"], r["b_cell"]): r["support"]
            for r in out.collect()}
    cache.release(out)
    # user1: (a,c)? a first@1, c last@2 -> yes; (a,b) yes; (c,b) yes;
    # (c,a): c first@2 < a last@4 -> yes (the revisit); (b,a) yes
    assert pats[("aaaa", "bbbb")] == 2
    assert pats[("aaaa", "cccc")] == 1
    assert pats[("cccc", "bbbb")] == 1
    assert ("bbbb", "cccc") not in pats


def test_viterbi_paths_deterministic_chain(spark):
    """A deterministic cycle A->B->C->A decodes each origin's unique
    3-hop path with score 1e18 (three certain hops)."""
    from geotile import cache, trajectory

    seq = ["aaaa1", "bbbb1", "cccc1"] * 4  # A B C A B C ... per user
    rows = [(1, i, i * 60, c) for i, c in enumerate(seq)]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ep long, geohash string")
    out = trajectory.viterbi_paths(df, steps=3, nchars=4)
    got = {r["o_cell"]: r for r in out.collect()}
    cache.release(out)
    assert got["aaaa"]["score"] == 10 ** 18
    assert (got["aaaa"]["hop1"], got["aaaa"]["hop2"],
            got["aaaa"]["hop3"]) == ("bbbb", "cccc", "aaaa")
    assert (got["bbbb"]["hop1"], got["bbbb"]["hop2"],
            got["bbbb"]["hop3"]) == ("cccc", "aaaa", "bbbb")


def test_novelty_profile_explorer_vs_returner(spark):
    """An explorer visiting 4 distinct cells vs a returner looping
    between 2: exact first-visit censuses per half."""
    from geotile import trajectory

    rows = (
        [(1, i, ["aaaa", "bbbb", "cccc", "dddd"][i] + "1")
         for i in range(4)]            # explorer: every visit novel
        + [(2, i, ["aaaa", "bbbb", "aaaa", "bbbb"][i] + "1")
           for i in range(4)])         # returner: novelty stops at 2
    df = spark.createDataFrame(
        [(u, e, e * 60, c) for u, e, c in rows],
        "user_id long, event_id long, ep long, geohash string")
    out = {r["user_id"]: r
           for r in trajectory.novelty_profile(df, nchars=4).collect()}
    e, r = out[1], out[2]
    assert (e["n_visits"], e["n_cells"]) == (4, 4)
    assert (e["new_first_half"], e["new_second_half"]) == (2, 2)
    assert (r["n_visits"], r["n_cells"]) == (4, 2)
    assert (r["new_first_half"], r["new_second_half"]) == (2, 0)


def test_seq_cond_entropy_deterministic_vs_uniform(spark):
    """A deterministic origin scores exactly 0; a 50/50 origin scores
    floor-summed ln 2 nano-nats."""
    import math

    from geotile import cache, trajectory

    # user 1: A->B always (4x); user 2: C->A, C->B alternating (2+2)
    seq1 = ["aaaa1", "bbbb1"] * 4
    seq2 = ["cccc1", "aaaa1", "cccc1", "bbbb1"] * 2
    rows = ([(1, i, i * 60, c) for i, c in enumerate(seq1)]
            + [(2, i, i * 60, c) for i, c in enumerate(seq2)])
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ep long, geohash string")
    out = trajectory.seq_cond_entropy(df, nchars=4)
    got = {r["o_cell"]: r for r in out.collect()}
    cache.release(out)
    # origin aaaa: user1 a->b 3x (within pairs), user2 a->c 2x... the
    # exact census is engine-derived; assert the law instead:
    # deterministic rows (n_dest == 1) must be exactly 0
    for r in got.values():
        if r["n_dest"] == 1:
            assert r["h_nano"] == 0
        assert r["h_nano"] >= 0
    # cccc emits to aaaa/bbbb 50/50 (2+2 of 4... via user2's lags)
    c = got["cccc"]
    if c["n_dest"] == 2 and c["total"] == 4:
        term = math.floor(1e9 * (2 * math.log(4 / 2)) / 4)
        assert c["h_nano"] == 2 * term


def test_distance_decay_rings(spark):
    """Two trips at 300 and 900 milli land in rings 1 and 3; a dwell
    (same cell) contributes nothing."""
    from geotile import trajectory

    rows = [
        (1, 0, 0.0, 0.0), (1, 1, 0.0, 0.4),   # 400 milli -> ring 1
        (1, 2, 0.0, 0.4),                      # dwell: same cell+pos
        (1, 3, 0.0, 1.3),                      # 900 milli -> ring 3
    ]
    df = spark.createDataFrame(
        [(u, e, e * 60, la, lo) for u, e, la, lo in rows],
        "user_id long, event_id long, ep long, lat double, lon double")
    from geotile import engine
    pos = engine.with_cell(df)
    out = {r["ring"]: r for r in
           trajectory.distance_decay(pos, ring_milli=250,
                                     nchars=4).collect()}
    assert set(out) == {1, 3}
    assert out[1]["n_trips"] == 1 and out[3]["n_trips"] == 1
    assert out[1]["n_users"] == 1 and out[1]["n_corridors"] == 1


def test_cell_sync_pairs_perfect_correlation(spark):
    """Two cells with proportional hourly series correlate at exactly
    1e6 micro; an anti-phased pair scores negative."""
    from geotile import cache, trajectory

    rows = []
    # cell A at (0..30 lat, 0..30 lon), cell B at (0..30, 30..60):
    # hours 0,1,2 with counts A: 1,2,3 and B: 2,4,6 (perfectly
    # proportional)
    for h, (na, nb) in enumerate([(1, 2), (2, 4), (3, 6)]):
        rows += [(5.0, 5.0, h * 3600 + 10)] * na
        rows += [(5.0, 35.0, h * 3600 + 10)] * nb
    df = spark.createDataFrame(rows, "lat double, lon double, ep long")
    out = trajectory.cell_sync_pairs(df, top_k=5)
    r = out.collect()[0]
    cache.release(out)
    assert r["n"] == 3 and r["r_micro"] == 1000000
    assert r["num"] > 0 and r["den_x"] > 0 and r["den_y"] > 0


def test_peak_hours_argmax_and_split(spark):
    """Hand series: peak hour by count with earliest-hour ties, exact
    share and day/night split."""
    from geotile import trajectory

    rows = ([(5.0, 5.0, 7 * 3600 + 1)] * 3     # hour 7 (day): 3
            + [(5.0, 5.0, 20 * 3600 + 1)] * 3  # hour 20 (night): 3 tie
            + [(5.0, 5.0, 2 * 3600 + 1)] * 1)  # hour 2 (night): 1
    df = spark.createDataFrame(rows, "lat double, lon double, ep long")
    r = trajectory.peak_hours(df).collect()[0]
    assert r["total"] == 7
    assert r["peak_hour"] == 7 and r["peak_n"] == 3  # tie -> earliest
    assert r["share_micro"] == 3 * 1000000 // 7
    assert (r["n_day"], r["n_night"]) == (3, 4)


def test_dtw_day_consistency_hand_cases(spark):
    """Identical day tracks cost 0; a shifted second day matches a
    scalar DP replay of the same recurrence."""
    from geotile import trajectory

    rows = []
    # user 1: two identical 8-fix days (lon = j*0.5 is binary-exact)
    for d in (0, 1):
        for j in range(8):
            rows.append((1, d * 86400 + j * 60, j, 0.0, j * 0.5))
    # user 2: day 2 shifted by +0.5 in lon
    for d in (0, 1):
        for j in range(8):
            rows.append((2, d * 86400 + j * 60, j, 0.0,
                         j * 0.5 + d * 0.5))
    df = spark.createDataFrame(
        rows, "user_id long, ep long, event_id long, lat double,"
              " lon double")
    out = {r["user_id"]: r
           for r in trajectory.dtw_day_consistency(df).collect()}
    assert out[1]["n_a"] == out[1]["n_b"] == 8
    assert out[1]["dtw_cost"] == 0
    # scalar replay for user 2
    a = [j * 500000 for j in range(8)]
    b = [j * 500000 + 500000 for j in range(8)]
    dp = {}
    for i in range(8):
        for j in range(8):
            c = (a[i] - b[j]) ** 2
            if i == 0 and j == 0:
                p = 0
            elif i == 0:
                p = dp[(0, j - 1)]
            elif j == 0:
                p = dp[(i - 1, 0)]
            else:
                p = min(dp[(i - 1, j)], dp[(i, j - 1)],
                        dp[(i - 1, j - 1)])
            dp[(i, j)] = c + p
    assert out[2]["dtw_cost"] == dp[(7, 7)]


def test_lz_match_profile_hand_sequence(spark):
    """a b a b a: lambdas 1,1,3,2,1 (overlap-allowed LZ77 rule),
    max match 3."""
    from geotile import trajectory

    cells = ["aaaa", "bbbb", "aaaa", "bbbb", "aaaa"]
    df = spark.createDataFrame(
        [(1, i, i, c) for i, c in enumerate(cells)],
        "user_id long, ep long, event_id long, geohash string")
    r = trajectory.lz_match_profile(df).collect()[0]
    assert (r["n"], r["sum_lambda"], r["max_l"]) == (5, 8, 3)


def test_ewma_alerts_integer_recurrence(spark):
    """Hand-replayed eighths recurrence over a zero-filled gap:
    counts [5,0,0,20] -> v 40,35,30,46 with exactly one alert."""
    from geotile import trajectory

    rows = []
    eid = 0
    for h, n in ((0, 5), (3, 20)):
        for _ in range(n):
            eid += 1
            rows.append((eid, 10.0, 10.0, h * 3600))
    df = spark.createDataFrame(
        rows, "event_id long, lat double, lon double, ep long")
    r = trajectory.ewma_alerts(df).collect()[0]
    assert (r["n_hours"], r["total"], r["n_alerts"], r["v_final"]) \
        == (4, 25, 1, 46)


def test_visit_motifs_hand_days(spark):
    """A-A-B-A collapses to the pendulum 1>2,2>1; A-B-C is the
    3-location chain 1>2,2>3."""
    from geotile import trajectory

    rows = [(1, i * 60, i, c + "x" * 3)
            for i, c in enumerate(["a", "a", "b", "a"])]
    rows += [(2, i * 60, i, c + "x" * 3)
             for i, c in enumerate(["a", "b", "c"])]
    df = spark.createDataFrame(
        rows, "user_id long, ep long, event_id long, geohash string")
    got = {(r["n_locs"], r["motif"]): r["n_user_days"]
           for r in trajectory.visit_motifs(df).collect()}
    assert got == {(2, "1>2,2>1"): 1, (3, "1>2,2>3"): 1}


def test_jain_fairness_hand_loads(spark):
    """Loads [3,1]: jain = 16/(2*10) = 0.8 exactly."""
    from geotile import trajectory

    pts = [(0, 0)] * 3 + [(0, 1)]
    df = spark.createDataFrame(
        [(float(y) - 90.0 + 0.5, float(x) - 180.0 + 0.5)
         for (y, x) in pts], "lat double, lon double")
    r = trajectory.jain_fairness(df).collect()[0]
    assert (r["n_cells"], r["sum_x"], r["sum_x2"]) == (2, 4, 10)
    assert r["jain_micro"] == 800000


def test_cell_hour_mi_independence_and_dependence(spark):
    """A product-form table has MI exactly 0; a diagonal table has
    per-term ln(2) floored nano-nats."""
    import math

    from geotile import trajectory

    def mk(rows):
        return spark.createDataFrame(
            rows, "lat double, lon double, ep long")

    # independent: both cells active in both hours, equal counts
    rows = []
    for latv in (10.0, 40.0):
        for h in (0, 1):
            rows += [(latv, 10.0, h * 3600)] * 3
    r = trajectory.cell_hour_mi(mk(rows)).collect()[0]
    assert r["mi_sum_nano"] == 0 and r["n_total"] == 12

    # dependent: cell A only hour 0, cell B only hour 1
    rows = [(10.0, 10.0, 0)] * 4 + [(40.0, 10.0, 3600)] * 4
    r = trajectory.cell_hour_mi(mk(rows)).collect()[0]
    assert r["mi_sum_nano"] == math.floor(math.log(2.0) * 1e9) * 8


def test_recurrence_det_hand_sequences(spark):
    """a b a b c: both recurrences sit on a length-2 diagonal; a b a:
    one recurrence, no diagonal."""
    from geotile import trajectory

    rows = [(1, i, i, c * 4) for i, c in enumerate("ababc")]
    rows += [(2, i, i, c * 4) for i, c in enumerate("aba")]
    df = spark.createDataFrame(
        rows, "user_id long, ep long, event_id long, geohash string")
    got = {r["user_id"]: r for r in
           trajectory.recurrence_det(df).collect()}
    assert (got[1]["n"], got[1]["n_rec"], got[1]["n_det"]) == (5, 2, 2)
    assert (got[2]["n"], got[2]["n_rec"], got[2]["n_det"]) == (3, 1, 0)


def test_consensus_line_outlier_rejection(spark):
    """Three collinear hour-points plus a huge outlier: the consensus
    line is the collinear one (3 inliers), earliest pair wins the
    tie."""
    from geotile import trajectory

    rows = []
    eid = 0
    for h, n in ((0, 5), (1, 10), (2, 15), (3, 100)):
        for _ in range(n):
            eid += 1
            rows.append((eid, h * 3600))
    df = spark.createDataFrame(rows, "event_id long, ep long")
    r = trajectory.consensus_line(df).collect()[0]
    assert (r["x1"], r["y1"], r["x2"], r["y2"]) == (0, 5, 1, 10)
    assert r["n_inliers"] == 3 and r["n_points"] == 4


def test_unicity_audit_hand_signatures(spark):
    """Users 1 and 2 share a top-1 cell but split at top-2; user 3 is
    unique from p=1."""
    from geotile import trajectory

    def fixes(u, cells):
        return [(u, i, i, c * 4) for i, c in enumerate(cells)]

    rows = (fixes(1, "aab") + fixes(2, "aac") + fixes(3, "ddd"))
    df = spark.createDataFrame(
        rows, "user_id long, ep long, event_id long, geohash string")
    got = {r["p"]: r for r in trajectory.unicity_audit(df).collect()}
    assert got[1]["n_keys"] == 3 and got[1]["n_unique"] == 1
    assert got[1]["n_sigs"] == 2 and got[1]["max_group"] == 2
    assert got[2]["n_unique"] == 3 and got[2]["n_sigs"] == 3


def test_token_bucket_hand_replay(spark):
    """Burst of 7 instant events against a 5-token bucket: 5 admits,
    2 rejects; a later event after 20 s refills 2 tokens and admits."""
    from geotile import trajectory

    rows = [(1, i, 0) for i in range(7)]          # 7 events at t=0
    rows.append((1, 7, 20))                       # refill 20s * 0.1/s
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ep long")
    r = trajectory.token_bucket_audit(df).collect()[0]
    # t=0 burst: 5000 -> admits at 4000,3000,2000,1000,0 then 2 rejects
    # t=20: refill min(5000, 0 + 2000) = 2000 -> admit -> 1000
    assert (r["n_events"], r["n_rejected"], r["final_milli"]) \
        == (8, 2, 1000)
