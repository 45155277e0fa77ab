"""Arrow-batched pandas UDFs wrapping the numpy kernels.

All UDFs are Series-in/Series-out vectorized (no per-row Python), per
the engine contract.  Factories close over scalar parameters (precision,
radius) so the hot path stays a single numpy call per Arrow batch.

Geohash cell assignment is not a UDF: ``engine.with_cell`` builds it
natively on :func:`lattice_ij`.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, StringType

from .kernel import geohash_np as gh
from .kernel import s2_np, tiles_np


def geohash_ref_udf(nbits: int = gh.GEO_PRECISION_BITS):
    """Reference-exact encode (bits-per-axis precision, strict-> bisection);
    cf. /root/reference/GeoHash/geohash.cpp:148-215."""

    @pandas_udf(StringType())
    def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(gh.encode_ref(lat.to_numpy(np.float64), lon.to_numpy(np.float64), nbits))

    return _enc


def haversine_col(lat1, lon1, lat2, lon2):
    """Correct great-circle meters as a NATIVE column expression — the
    production refine predicate.  Stays inside whole-stage codegen (no
    JVM<->Python crossing at all); same formula and sphere radius as
    :func:`geotile.kernel.geohash_np.haversine_m`."""
    from pyspark.sql import functions as F

    la1, lo1, la2, lo2 = (F.radians(c) for c in (lat1, lon1, lat2, lon2))
    a = (F.pow(F.sin((la2 - la1) / 2), 2)
         + F.cos(la1) * F.cos(la2) * F.pow(F.sin((lo2 - lo1) / 2), 2))
    return (F.lit(2.0 * gh.EARTH_RADIUS_M)
            * F.asin(F.sqrt(F.greatest(F.lit(0.0), F.least(F.lit(1.0), a)))))


def distance_ref_udf():
    """Reference-exact distance (geohash.cpp:293-321, incl. lat<=0 quirks)."""

    @pandas_udf(DoubleType())
    def _dist(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series) -> pd.Series:
        return pd.Series(gh.distance_ref(
            lat1.to_numpy(np.float64), lon1.to_numpy(np.float64),
            lat2.to_numpy(np.float64), lon2.to_numpy(np.float64)))

    return _dist


def bbox_ref_udf():
    """Reference-exact GetBoundingBox (geohash.cpp:323-333, with the
    name-swapped unit helpers replicated) -> struct of exact doubles."""
    from pyspark.sql.types import StructType

    schema = StructType() \
        .add("min_lat", DoubleType()).add("max_lat", DoubleType()) \
        .add("min_lon", DoubleType()).add("max_lon", DoubleType())

    @pandas_udf(schema)
    def _bbox(lat: pd.Series, lon: pd.Series, radius_m: pd.Series) -> pd.DataFrame:
        mnla, mxla, mnlo, mxlo = gh.bbox_ref(
            lat.to_numpy(np.float64), lon.to_numpy(np.float64),
            radius_m.to_numpy(np.float64))
        return pd.DataFrame({"min_lat": mnla, "max_lat": mxla,
                             "min_lon": mnlo, "max_lon": mxlo})

    return _bbox


def neighbors_ref_udf(nbits: int = gh.GEO_PRECISION_BITS):
    """Reference 9-slot neighbor table (geohash.cpp:250-291, buggy slots
    3-8 replicated) -> array<string> of length 9."""

    @pandas_udf(ArrayType(StringType()))
    def _nbrs(lat: pd.Series, lon: pd.Series) -> pd.Series:
        out = gh.neighbors_ref(lat.to_numpy(np.float64), lon.to_numpy(np.float64), nbits)
        return pd.Series([list(r) for r in out])

    return _nbrs


def candidate_cells_ref_udf():
    """Reference compat grid scan (mapinfo.cpp:384-415) as an executor
    UDF: (lat, lon, radius_m) -> array<string> of the 0/1 candidate
    cells the reference's FindPos would probe.  Per-row scalar work by
    design (the scan runs once per query in the reference); vectorized
    batching just amortizes the Arrow transfer."""

    @pandas_udf(ArrayType(StringType()))
    def _cand(lat: pd.Series, lon: pd.Series, radius_m: pd.Series) -> pd.Series:
        return pd.Series([gh.candidate_cells_ref(float(la), float(lo), float(r))
                          for la, lo, r in zip(lat, lon, radius_m)])

    return _cand


def annulus_cells_udf(nchars: int, r_lo: int, r_hi: int):
    """(lat, lon) -> cells of the Chebyshev ANNULUS (r_lo, r_hi] around
    the point's cell at ``nchars`` — the INCREMENTAL candidate generator
    for expanding-ring kNN: each round explodes only the new ring band,
    never re-emitting the inner disk it already searched (``r_lo = -1``
    yields the full disk for the first round).  Longitude wraparound is
    deduplicated exactly: when ``2r+1 >= n_lon`` the circle is fully
    covered and the offset set collapses to one canonical window, so a
    cell is emitted at most once across ALL rounds of a search."""

    @pandas_udf(ArrayType(StringType()))
    def _ann(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        i_lat, i_lon, _ = gh.decode_ij(gh.encode(la, lo, nchars))
        lat_bits, lon_bits = gh._axis_bits(nchars)
        nlat = 1 << lat_bits
        nlon = 1 << lon_bits
        half = nlon // 2

        def lon_offsets(r: int) -> set[int]:
            if r < 0:
                return set()
            if 2 * r + 1 >= nlon:  # full circle: one canonical window
                return set(range(-half, nlon - half))
            return set(range(-r, r + 1))

        lo_out = lon_offsets(r_hi)
        lo_in = lon_offsets(r_lo)
        cols = []
        for dla in range(-r_hi, r_hi + 1):
            inner_lat = abs(dla) <= r_lo
            for dlo in sorted(lo_out):
                if inner_lat and dlo in lo_in:
                    continue  # covered by a previous round
                la_i = i_lat + dla
                lo_i = (i_lon + dlo) % nlon
                ok = (la_i >= 0) & (la_i < nlat)
                s = np.empty(la.shape[0], dtype=object)
                s[ok] = gh.encode_ij(la_i[ok], lo_i[ok], nchars)
                s[~ok] = None
                cols.append(s)
        if not cols:
            return pd.Series([[] for _ in range(la.shape[0])])
        stacked = np.stack(cols, axis=1)
        return pd.Series([[c for c in row if c is not None] for row in stacked])

    return _ann


def eps_cover_cells_udf(nchars: int, eps_m: float):
    """(lat, lon) -> all cells at ``nchars`` intersecting the point's
    eps-meter bounding box — the per-row candidate generator for the
    density self-join (engine.dbscan).  Exact per row: the latitude
    band is the box's lattice range, the longitude half-span uses the
    widest |lat| edge of the box (1/cos stretch), collapsing to the
    full circle when the box touches a pole or wraps.  Completeness
    guarantee: any point within eps_m greater-circle meters lies inside
    the box, so its cell is in the emitted cover."""
    lat_bits, lon_bits = gh._axis_bits(nchars)
    nlat = 1 << lat_bits
    nlon = 1 << lon_bits
    eps_deg = eps_m / (math.pi * gh.EARTH_RADIUS_M / 180.0)

    @pandas_udf(ArrayType(StringType()))
    def _cov(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        n = la.shape[0]
        la_lo = np.clip(np.floor((la - eps_deg + 90.0) * nlat / 180.0), 0, nlat - 1).astype(np.int64)
        la_hi = np.clip(np.floor((la + eps_deg + 90.0) * nlat / 180.0), 0, nlat - 1).astype(np.int64)
        edge = np.minimum(np.maximum(np.abs(la - eps_deg), np.abs(la + eps_deg)), 89.999999)
        span = eps_deg / np.cos(np.radians(edge))
        full = ((np.abs(la) + eps_deg) >= 90.0) | (span >= 180.0)
        lo_lo = np.floor((lo - span + 180.0) * nlon / 360.0).astype(np.int64)
        lo_hi = np.floor((lo + span + 180.0) * nlon / 360.0).astype(np.int64)
        full |= (lo_hi - lo_lo + 1) >= nlon
        parts_i: list[np.ndarray] = []
        parts_j: list[np.ndarray] = []
        counts = np.empty(n, dtype=np.int64)
        for r in range(n):
            ii = np.arange(la_lo[r], la_hi[r] + 1)
            jj = np.arange(nlon) if full[r] else np.arange(lo_lo[r], lo_hi[r] + 1) % nlon
            gi, gj = np.meshgrid(ii, jj, indexing="ij")
            parts_i.append(gi.ravel())
            parts_j.append(gj.ravel())
            counts[r] = gi.size
        cells = gh.encode_ij(np.concatenate(parts_i), np.concatenate(parts_j), nchars)
        return pd.Series([list(s) for s in np.split(cells, np.cumsum(counts)[:-1])])

    return _cov


def decode_udf():
    """Geohash cell -> bounds + center (the production decode; the
    compat GetGeoRect lives in distance/rect *_ref kernels)."""
    from pyspark.sql.types import StructType

    schema = StructType() \
        .add("min_lat", DoubleType()).add("max_lat", DoubleType()) \
        .add("min_lon", DoubleType()).add("max_lon", DoubleType()) \
        .add("lat", DoubleType()).add("lon", DoubleType())

    @pandas_udf(schema)
    def _dec(cells: pd.Series) -> pd.DataFrame:
        mnla, mxla, mnlo, mxlo = gh.cell_bounds(cells.to_numpy())
        return pd.DataFrame({
            "min_lat": mnla, "max_lat": mxla, "min_lon": mnlo, "max_lon": mxlo,
            "lat": (mnla + mxla) / 2.0, "lon": (mnlo + mxlo) / 2.0})

    return _dec


def s2_cell_udf(level: int = 10):
    """S2-style cell id (cube face + Hilbert curve) at ``level``."""
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(s2_np.cell_id(
            lat.to_numpy(np.float64), lon.to_numpy(np.float64), level).astype(np.int64))

    return _cell


def hex_cell_udf(res: int = 6):
    """H3-style aperture-7 ICOSAHEDRAL hexagonal cell id at ``res``
    (kernel/hex_np — gnomonic faces, areas within ~2x globally)."""
    from pyspark.sql.types import LongType

    from .kernel import hex_np

    @pandas_udf(LongType())
    def _cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(hex_np.hex_cell(
            lat.to_numpy(np.float64), lon.to_numpy(np.float64), res))

    return _cell


def hex_cells_multi_udf(res_list: tuple[int, ...] = (3, 4, 5)):
    """All requested hex resolutions in ONE Arrow crossing: returns
    array<long> of cell ids, index-aligned with ``res_list`` (the hex
    twin of engine.with_tile_pyramid_keys — one pass, explode after)."""
    from pyspark.sql.types import ArrayType, LongType

    from .kernel import hex_np

    @pandas_udf(ArrayType(LongType()))
    def _cells(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        cols = [hex_np.hex_cell(la, lo, r) for r in res_list]
        return pd.Series(np.stack(cols, axis=1).tolist())

    return _cells


def tile_udf(zoom: int = 12):
    """Web-Mercator z/x/y raster tile key string at ``zoom``."""

    @pandas_udf(StringType())
    def _tile(lat: pd.Series, lon: pd.Series) -> pd.Series:
        x, y = tiles_np.tile_xy(lat.to_numpy(np.float64), lon.to_numpy(np.float64), zoom)
        return pd.Series([f"{zoom}/{a}/{b}" for a, b in zip(x, y)])

    return _tile


def hilbert_udf(order: int = 8):
    """(ix, iy) -> Hilbert curve index at the given order (one numpy
    pass per Arrow batch; exact int64, see kernel/hilbert_np.py).  The
    coordinates are pre-quantized integers so the UDF is pure bit
    arithmetic — the float->grid quantization stays a native column
    expression at the call site (exact integer DIV at the gate)."""
    from .kernel import hilbert_np

    @pandas_udf("long")
    def _hd(ix: pd.Series, iy: pd.Series) -> pd.Series:
        d = hilbert_np.hilbert_xy2d(ix.to_numpy(np.int64), iy.to_numpy(np.int64), order)
        return pd.Series(d)

    return _hd


def lattice_ij(lat, lon, lat_bits: int, lon_bits: int):
    """(lat, lon) columns -> the clamped floor-lattice indices ``(i, j)``
    on a ``2^lat_bits x 2^lon_bits`` grid, each ONE native expression
    ``least(greatest(floor((x + off) * n/span), 0), n - 1)`` — the
    canonical geohash axis rule of ``geohash_np.encode``: +-inf
    saturate to the end cells; NULL and NaN land in cell 0."""
    from pyspark.sql import functions as F

    def idx(x, off, span, n):
        return F.least(F.greatest(F.floor((x + F.lit(off)) * F.lit(n / span)).cast("long"),
                                  F.lit(0).cast("long")), F.lit(n - 1).cast("long"))

    return idx(lat, 90.0, 180.0, 1 << lat_bits), idx(lon, 180.0, 360.0, 1 << lon_bits)


def deg_bins(lat, lon, cell_deg: float):
    """(lat, lon) columns -> ``(y, x, ny, nx)``: the clamped row and
    column ``least(greatest(floor((x + off) / cell_deg), 0), n - 1)`` of
    a ``cell_deg``-degree grid with ``ny = ceil(180 / cell_deg)`` rows
    and ``nx = ceil(360 / cell_deg)`` columns.  It divides by
    ``cell_deg`` (the form every oracle mirrors) instead of multiplying
    by ``n/span`` as :func:`lattice_ij` does, so bin edges can differ
    from the lattice rule in the last ulp.  When ``cell_deg`` does not
    divide 180 and 360 the last row and column are partial (at 7
    degrees lat 90 lands in row 25 of 26)."""
    from pyspark.sql import functions as F

    ny, nx = math.ceil(180.0 / cell_deg), math.ceil(360.0 / cell_deg)

    def idx(x, off, n):
        return F.least(F.greatest(F.floor((x + F.lit(off)) / F.lit(cell_deg)).cast("long"),
                                  F.lit(0)), F.lit(n - 1))

    return idx(lat, 90.0, ny), idx(lon, 180.0, nx), ny, nx


def milli(x):
    """A degree column snapped to integer milli-degrees,
    ``floor(x * 1000 + 0.5)`` as a long: the cross-engine tie rule of
    every planar milli-degree operator."""
    from pyspark.sql import functions as F

    return F.floor(x * F.lit(1000.0) + F.lit(0.5)).cast("long")


def morton_col(ix, iy):
    """Morton / Z-order interleave of two grid coordinates of up to 32
    bits each as ONE native column expression (the 5-step shift-or bit
    spread over 64-bit masks — no UDF, stays inside whole-stage
    codegen); ``ix`` takes the even bits.  The Z-order counterpart of
    :func:`hilbert_udf`: cheaper to compute (pure bit mixing, no
    quadrant rotations) but with strictly worse bucket locality —
    quadrant seams fragment ranges — which q170 measures as a gated
    fact rather than asserting.  Two 32-bit inputs fill all 64 bits,
    so the top bit wraps to the sign."""
    from pyspark.sql import functions as F

    def spread(c):
        x = c.cast("long")
        for shift, mask in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                            (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                            (1, 0x5555555555555555)):
            x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
        return x

    return spread(ix).bitwiseOR(F.shiftleft(spread(iy), 1))
