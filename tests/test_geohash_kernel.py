"""Golden-vector tests for the compat kernel vs the compiled reference
(FIXTURES.md §2) plus sanity tests for the production kernel, and
native ``engine.with_cell`` checked against it."""

import warnings

import numpy as np
import pandas as pd
import pytest

from geotile.kernel import geohash_np as gh

# FIXTURES.md §2.1 — Encode(lat, lon, nbits) golden vectors
ENCODE_VECTORS = [
    (39.928167, 116.389550, 2, "w"),
    (39.928167, 116.389550, 5, "wx"),
    (39.928167, 116.389550, 7, "wx4"),
    (39.928167, 116.389550, 10, "wx4g"),
    (39.928167, 116.389550, 12, "wx4g0"),
    (39.928167, 116.389550, 15, "wx4g0s"),
    (39.928167, 116.389550, 17, "wx4g0s8"),
    (39.928167, 116.389550, 20, "wx4g0s8q"),
    (39.928167, 116.389550, 22, "wx4g0s8q3"),
    (39.928167, 116.389550, 25, "wx4g0s8q3j"),
    (39.928167, 116.389550, 27, "wx4g0s8q3jf"),
    (39.928167, 116.389550, 30, "wx4g0s8q3jf9"),
    (39.928667, 116.389550, 12, "wx4g0"),
    (39.928667, 116.389550, 17, "wx4g0sb"),
    (39.928667, 116.389550, 20, "wx4g0sb3"),
    (39.928667, 116.389550, 22, "wx4g0sb33"),
    (39.928667, 116.389550, 25, "wx4g0sb335"),
    (39.928667, 116.389550, 27, "wx4g0sb3354"),
    (39.928667, 116.389550, 30, "wx4g0sb33548"),
    (39.928367, 116.389550, 12, "wx4g0"),
    (39.928367, 116.389550, 20, "wx4g0s8r"),
    (39.928367, 116.389550, 22, "wx4g0s8r9"),
    (39.928367, 116.389550, 25, "wx4g0s8r95"),
    (39.928367, 116.389550, 27, "wx4g0s8r954"),
    (39.928367, 116.389550, 30, "wx4g0s8r954d"),
    (31.230416, 121.473701, 12, "wtw3s"),
    (31.230416, 121.473701, 30, "wtw3sjq6q7s2"),
    (40.689247, -74.044502, 12, "dr5r7"),
    (40.689247, -74.044502, 30, "dr5r7p62n13s"),
    (-33.856784, 151.215297, 12, "r3gx2"),
    (-33.856784, 151.215297, 30, "r3gx2ux9gy1b"),
    (-22.951916, -43.210487, 12, "75cm2"),
    (-22.951916, -43.210487, 30, "75cm2txp6sv8"),
    (57.649110, 10.407440, 12, "u4pru"),
    (57.649110, 10.407440, 27, "u4pruydqqvj"),
    (57.649110, 10.407440, 30, "u4pruydqqvj8"),
    (0.0, 0.0, 2, "7"),
    (0.0, 0.0, 30, "7zzzzzzzzzzz"),
    (90.0, 180.0, 30, "zzzzzzzzzzzz"),
    (-90.0, -180.0, 30, "000000000000"),
]


@pytest.mark.parametrize("lat,lon,nbits,expected", ENCODE_VECTORS)
def test_encode_ref_golden(lat, lon, nbits, expected):
    assert gh.encode_ref(lat, lon, nbits)[0] == expected


def test_encode_ref_vectorized_batch():
    lats = np.array([v[0] for v in ENCODE_VECTORS if v[2] == 30])
    lons = np.array([v[1] for v in ENCODE_VECTORS if v[2] == 30])
    exp = [v[3] for v in ENCODE_VECTORS if v[2] == 30]
    assert list(gh.encode_ref(lats, lons, 30)) == exp


def test_encode_ref_default_20_bits():
    # FIXTURES §2.2: 2-arg default = 20 bits
    assert gh.encode_ref(39.928167, 116.389550)[0] == "wx4g0s8q"


@pytest.mark.parametrize("bad", [1, 3, 4, 6, 8, 9, 11, 13])
def test_encode_ref_invalid_nbits(bad):
    with pytest.raises(ValueError):
        gh.encode_ref(0.0, 0.0, bad)


def test_prefix_consistency_ladder():
    full = gh.encode_ref(57.649110, 10.407440, 30)[0]
    for nbits in gh.VALID_NBITS:
        s = gh.encode_ref(57.649110, 10.407440, nbits)[0]
        assert full.startswith(s)


# FIXTURES §2.3 — GetGeoRect at 12 bits
RECT_VECTORS = [
    (39.928167, 116.389550, 39.90234375, 39.9462890625, 116.3671875, 116.4111328125),
    (31.230416, 121.473701, 31.201171875, 31.2451171875, 121.46484375, 121.5087890625),
    (40.689247, -74.044502, 40.6494140625, 40.693359375, -74.0478515625, -74.00390625),
    (-33.856784, 151.215297, -33.8818359375, -33.837890625, 151.171875, 151.2158203125),
    (-22.951916, -43.210487, -22.9833984375, -22.939453125, -43.2421875, -43.1982421875),
    (0.0, 0.0, -0.0439453125, 0.0, -0.0439453125, 0.0),
    (90.0, 180.0, 89.9560546875, 90.0, 179.9560546875, 180.0),
    (-90.0, -180.0, -90.0, -89.9560546875, -180.0, -179.9560546875),
    (57.649110, 10.407440, 57.6123046875, 57.65625, 10.37109375, 10.4150390625),
]


@pytest.mark.parametrize("lat,lon,mnla,mxla,mnlo,mxlo", RECT_VECTORS)
def test_cell_rect_ref_golden(lat, lon, mnla, mxla, mnlo, mxlo):
    a, b, c, d = gh.cell_rect_ref(lat, lon, 12)
    assert (a[0], b[0], c[0], d[0]) == (mnla, mxla, mnlo, mxlo)


# FIXTURES §2.4 — 9-slot neighbor tables (incl. the (max+min) bug)
NEIGHBOR_VECTORS = [
    (39.928167, 116.389550,
     ["wx4g0", "wx4g2", "wx4fb", "9rj5p", "xzpgp", "32vhz", "crvpz", "rbzuz", "zzzzz"]),
    (39.928667, 116.389550,
     ["wx4g0", "wx4g2", "wx4fb", "9rj5p", "xzpgp", "32vhz", "crvpz", "rbzuz", "zzzzz"]),
    (39.928367, 116.389550,
     ["wx4g0", "wx4g2", "wx4fb", "9rj5p", "xzpgp", "32vhz", "crvpz", "rbzuz", "zzzzz"]),
    (31.230416, 121.473701,
     ["wtw3s", "wtw3u", "wtw3k", "9m99e", "xvxcx", "363w7", "crcxg", "rfryr", "zzzzz"]),
]


@pytest.mark.parametrize("lat,lon,expected", NEIGHBOR_VECTORS)
def test_neighbors_ref_golden(lat, lon, expected):
    assert list(gh.neighbors_ref(lat, lon, 12)[0]) == expected


# FIXTURES §2.5 — GetDistance
def test_distance_ref_golden():
    assert gh.distance_ref(39.928167, 116.389550, 31.230416, 121.473701)[0] == pytest.approx(
        1070676.088970254, abs=1e-6)
    assert gh.distance_ref(39.928167, 116.389550, 39.928667, 116.389550)[0] == pytest.approx(
        55.613172332, abs=1e-6)
    assert gh.distance_ref(40.689247, -74.044502, -33.856784, 151.215297)[0] == pytest.approx(
        3669447.551874113, abs=1e-6)


# FIXTURES §2.6 — GetBoundingBox exact doubles
def test_bbox_ref_golden():
    mnla, mxla, mnlo, mxlo = gh.bbox_ref(39.928167, 116.389550, 100000.0)
    assert mnla[0] == pytest.approx(39.927893128245046, abs=1e-15)
    assert mxla[0] == pytest.approx(39.928440871754958, abs=1e-15)
    assert mnlo[0] == pytest.approx(116.38920956568919, abs=1e-14)
    assert mxlo[0] == pytest.approx(116.38989043431081, abs=1e-14)
    mnla, mxla, mnlo, mxlo = gh.bbox_ref(39.928367, 116.389550, 100000.0)
    assert mnla[0] == pytest.approx(39.928093128245045, abs=1e-15)
    assert mxla[0] == pytest.approx(39.928640871754958, abs=1e-15)
    assert mnlo[0] == pytest.approx(116.38920663808366, abs=1e-14)
    assert mxlo[0] == pytest.approx(116.38989336191634, abs=1e-14)


# FIXTURES §2.7 — candidate-cell counts from the compat grid scan
@pytest.mark.parametrize("lat,lon,r,count", [
    (39.928367, 116.389550, 100000.0, 1),
    (39.928167, 116.389550, 10000.0, 1),
    (31.230416, 121.473701, 100000.0, 1),
    (40.689247, -74.044502, 100000.0, 1),
    (-33.856784, 151.215297, 5000.0, 0),
])
def test_candidate_cells_ref_counts(lat, lon, r, count):
    cells = gh.candidate_cells_ref(lat, lon, r)
    assert len(cells) == count
    if count == 1:
        # the single candidate is the cell of the bbox SW corner
        mnla, _, mnlo, _ = gh.bbox_ref(lat, lon, r)
        assert cells[0] == gh.encode_ref(mnla[0], mnlo[0], 12)[0]


# ---------------------------------------------------------------------------
# Production kernel sanity
# ---------------------------------------------------------------------------


def test_encode_canonical_wikipedia():
    # canonical geohash example: interior point matches the reference too
    assert gh.encode(57.649110, 10.407440, 11)[0] == "u4pruydqqvj"
    # canonical boundary semantics: (0,0) -> s000... (floor indexing)
    assert gh.encode(0.0, 0.0, 5)[0] == "s0000"


def test_decode_roundtrip():
    rng = np.random.default_rng(42)
    lat = rng.uniform(-90, 90, 500)
    lon = rng.uniform(-180, 180, 500)
    for nchars in (3, 5, 7):
        cells = gh.encode(lat, lon, nchars)
        mnla, mxla, mnlo, mxlo = gh.cell_bounds(cells)
        assert np.all((lat >= mnla) & (lat < mxla) | (lat == 90))
        assert np.all((lon >= mnlo) & (lon < mxlo) | (lon == 180))
        i_lat, i_lon, n = gh.decode_ij(cells)
        assert np.array_equal(gh.encode_ij(i_lat, i_lon, n), cells)


def test_neighbors_production():
    out = gh.neighbors(np.array(["wx4g0"]))[0]
    assert len(out) == 8
    # all neighbors share the 3-char parent except across parent borders;
    # verify adjacency geometrically instead: centers within ~2 cell diags
    mnla, mxla, mnlo, mxlo = gh.cell_bounds(np.array(["wx4g0"]))
    c_lat, c_lon = (mnla[0] + mxla[0]) / 2, (mnlo[0] + mxlo[0]) / 2
    for nb in out:
        a, b, c, d = gh.cell_bounds(np.array([nb]))
        assert abs((a[0] + b[0]) / 2 - c_lat) < 0.09
        assert abs((c[0] + d[0]) / 2 - c_lon) < 0.09


def test_lon_wraparound_neighbors():
    cell = gh.encode(10.0, 179.99, 5)[0]
    nbs = gh.neighbors(np.array([cell]))[0]
    assert len(nbs) == 8  # wraps, none dropped
    # at least one neighbor is across the antimeridian (lon bounds near -180)
    crossed = [n for n in nbs if gh.cell_bounds(np.array([n]))[2][0] == -180.0]
    assert crossed


def test_cover_radius_completeness():
    rng = np.random.default_rng(7)
    qlat, qlon, r = 39.9286, 116.3895, 25000.0
    cells = set(gh.cover_radius(qlat, qlon, r, 5))
    # every point within r must fall in a covered cell
    lat = qlat + rng.uniform(-0.2, 0.2, 2000)
    lon = qlon + rng.uniform(-0.3, 0.3, 2000)
    d = gh.haversine_m(np.full(2000, qlat), np.full(2000, qlon), lat, lon)
    pc = gh.encode(lat, lon, 5)
    inside = d <= r
    assert all(c in cells for c in pc[inside])


def test_ring_and_disk():
    i_lat, i_lon, n = gh.decode_ij(np.array(["wx4g0"]))
    r0 = gh.ring(int(i_lat[0]), int(i_lon[0]), 5, 0)
    assert list(r0) == ["wx4g0"]
    r1 = gh.ring(int(i_lat[0]), int(i_lon[0]), 5, 1)
    assert len(r1) == 8
    d1 = gh.disk(int(i_lat[0]), int(i_lon[0]), 5, 1)
    assert len(d1) == 9
    r2 = gh.ring(int(i_lat[0]), int(i_lon[0]), 5, 2)
    assert len(r2) == 16


def test_point_in_polygon():
    # unit square around (0.5, 0.5)
    poly_lat = [0.0, 0.0, 1.0, 1.0]
    poly_lon = [0.0, 1.0, 1.0, 0.0]
    lat = np.array([0.5, 1.5, 0.0001, -0.5])
    lon = np.array([0.5, 0.5, 0.5, 0.5])
    got = gh.point_in_polygon(lat, lon, poly_lat, poly_lon)
    assert list(got) == [True, False, True, False]


def test_point_in_polygon_horizontal_edge_on_query_latitude():
    """Horizontal edges lying ON query latitudes: the ray cast gives
    the booleans of the unguarded formula, without a RuntimeWarning."""
    # an L-shape: horizontal edges at lat 0, 1 and 2
    poly_lat = [0.0, 0.0, 1.0, 1.0, 2.0, 2.0]
    poly_lon = [0.0, 2.0, 2.0, 1.0, 1.0, 0.0]
    lat = np.array([0.0, 0.0, 1.0, 1.0, 1.0, 2.0, 0.5, 1.5, 1.5, -1.0])
    lon = np.array([0.5, 2.5, 0.5, 1.5, 3.0, 0.5, 1.5, 0.5, 1.5, 0.5])

    def unguarded(lat, lon):
        px, py = np.asarray(poly_lon), np.asarray(poly_lat)
        inside = np.zeros(lat.shape[0], dtype=bool)
        j = len(px) - 1
        with np.errstate(divide="ignore", invalid="ignore"):
            for i in range(len(px)):
                inside ^= ((py[i] > lat) != (py[j] > lat)) & (
                    lon < (px[j] - px[i]) * (lat - py[i]) / (py[j] - py[i]) + px[i])
                j = i
        return inside

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = gh.point_in_polygon(lat, lon, poly_lat, poly_lon)
    assert [w for w in caught if issubclass(w.category, RuntimeWarning)] == []
    assert list(got) == list(unguarded(lat, lon))
    assert list(got) == [True, False, True, False, False, False,
                         True, True, False, False]


def test_haversine_sanity():
    # ~55.6 m for the two Beijing seeds (matches reference distance closely)
    d = gh.haversine_m(39.928167, 116.389550, 39.928667, 116.389550)[0]
    assert d == pytest.approx(55.613, abs=0.01)
    assert gh.haversine_m(0, 0, 0, 0)[0] == 0.0


# ---------------------------------------------------------------------------
# Native engine.with_cell (Catalyst expressions) vs the kernel
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def random_points(spark):
    rng = np.random.default_rng(7)
    lat = np.concatenate([rng.uniform(-90, 90, 100_000),
                          np.linspace(-90, 90, 1025), [90.0, -90.0, 0.0, -0.0] * 2])
    lon = np.concatenate([rng.uniform(-180, 180, 100_000),
                          np.linspace(-180, 180, 1025), [180.0, -180.0, 180.0, -180.0,
                                                         -0.0, 0.0, 180.0, -180.0]])
    pdf = pd.DataFrame({"id": np.arange(lat.shape[0]), "lat": lat, "lon": lon})
    df = spark.createDataFrame(pdf).cache()
    yield pdf, df
    df.unpersist()


@pytest.mark.parametrize("nchars", range(1, 13))
def test_native_with_cell_matches_encode(random_points, nchars):
    from geotile import engine

    pdf, df = random_points
    got = engine.with_cell(df, nchars=nchars).orderBy("id").toPandas()
    want = gh.encode(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), nchars)
    assert (got["geohash"].to_numpy() == want).all()


def test_native_with_cell_edges_match_encode(spark):
    """null and NaN land in cell 0 of their axis, +-inf and out-of-range
    values clamp to the end cells, on both paths and without a warning."""
    from geotile import engine

    edge = [None, float("nan"), float("inf"), float("-inf"), 90.0, -90.0,
            180.0, -180.0, -0.0, 91.0, 200.0, -200.0]
    rows = [(a, b) for a in edge for b in edge]
    df = spark.createDataFrame(rows, "lat double, lon double")
    nan = [(np.nan if a is None else a, np.nan if b is None else b) for a, b in rows]
    lat, lon = np.array(nan).T
    for nchars in (1, 5, 12):
        got = [r["geohash"] for r in engine.with_cell(df, nchars=nchars).collect()]
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            want = gh.encode(lat, lon, nchars)
        assert got == list(want), nchars
    assert gh.encode(np.inf, 0.0, 5)[0] == "upbpb"  # north edge, not 'h0000'
    assert gh.encode(np.nan, np.nan, 5)[0] == "00000"


def test_native_with_cell_pushed_filter_compiles(spark):
    """A filter on the cell is pushed below the projection and inlines the
    whole encoder over computed coordinates; it must still compile."""
    from pyspark.sql import functions as F

    from geotile import engine

    pts = spark.range(2000).select(
        (((F.col("id") * 7919 + 11) % 160000) / F.lit(1000.0) - 80.0).alias("lat"),
        (((F.col("id") * 104729 + 5) % 340000) / F.lit(1000.0) - 170.0).alias("lon"))
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")  # fail, don't interpret
    try:
        got = (engine.with_cell(pts, nchars=12)
               .where(F.substring("geohash", 1, 1).isin("7", "k", "s")).toPandas())
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
    pdf = pts.toPandas()
    want = gh.encode(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), 12)
    assert sorted(got["geohash"]) == sorted(c for c in want if c[0] in "7ks")
