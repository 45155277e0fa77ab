"""Vectorized geohash kernel (pure numpy, array-in/array-out).

Two namespaces:

* ``*_ref`` functions byte-exactly replicate the reference C++ kernel
  (``/root/reference/GeoHash/geohash.cpp``), including its deliberate
  quirks, so that compat-mode results match the reference's golden
  vectors (FIXTURES.md):

  - strict ``>`` bisection (geohash.cpp:39-61): boundary values go to
    the LOWER half, so Encode(0,0) -> ``7zzz...`` not ``s000...``;
  - precision is BITS per latitude axis, valid iff ``n % 5 == 0``
    (lat = lon = n bits) or ``(2n+1) % 5 == 0`` (lon gets n+1 bits)
    (geohash.cpp:159-178);
  - the 9-slot neighbor table uses ``(max+min)`` where ``(max-min)``
    was intended in slots 3-8 (geohash.cpp:267-289);
  - GetDistance maps lat == 0 to colatitude 0 (the north pole)
    (geohash.cpp:302-303);
  - GetBoundingBox's unit helpers are name-swapped (geohash.cpp:81-89),
    shrinking the box ~(pi/180)^2x and distorting the lon term.

* Unprefixed functions are the CORRECT production kernel used by the
  engine's scale path (canonical ``floor`` lattice indexing, true
  8-ring neighbors with longitude wrap, haversine distance, real
  bbox/radius covers).  These power radius/kNN/PIP joins at scale.

Everything is vectorized: bit loops iterate over the (<= 31) bit
positions, never over rows.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "VALID_NBITS",
    "GEO_PRECISION_BITS",
    "EARTH_RADIUS_M",
    "encode_ref",
    "cell_rect_ref",
    "neighbors_ref",
    "distance_ref",
    "bbox_ref",
    "candidate_cells_ref",
    "encode",
    "decode_ij",
    "encode_ij",
    "cell_bounds",
    "neighbors",
    "ring",
    "disk",
    "haversine_m",
    "bbox_correct",
    "cover_bbox",
    "cover_radius",
    "point_in_polygon",
]

# Reference constants (GeoHash/geohash.h:5-6, GeoHash/mapinfo.h:13)
EARTH_RADIUS_M = 6372797.560856
D_R = np.pi / 180.0
GEO_PRECISION_BITS = 12  # GEO_PERSITION, 5-char cell, "500 m" grid
# step constant in CMapInfo::GetNeighbors is a float literal 0.043945f
# (GeoHash/mapinfo.cpp:388-389); replicate the float32 rounding.
_GRID_STEP = float(np.float32(0.043945))

_BASE32 = b"0123456789bcdefghjkmnpqrstuvwxyz"
_B32_CHARS = np.frombuffer(_BASE32, dtype="S1")
# ASCII -> base32 digit value (for decode); invalid chars map to -1
_B32_LOOKUP = np.full(256, -1, dtype=np.int64)
for _i, _c in enumerate(_BASE32):
    _B32_LOOKUP[_c] = _i

# valid bit precisions (strings of length 1..12), geohash.cpp:159-165
VALID_NBITS = (2, 5, 7, 10, 12, 15, 17, 20, 22, 25, 27, 30)
_NBITS_TO_LEN = {n: (2 * n + (0 if n % 5 == 0 else 1)) // 5 for n in VALID_NBITS}
_LEN_TO_NBITS = {v: k for k, v in _NBITS_TO_LEN.items()}


def _as1d(x) -> np.ndarray:
    return np.atleast_1d(np.asarray(x, dtype=np.float64))


# ---------------------------------------------------------------------------
# Compat kernel (reference-exact)
# ---------------------------------------------------------------------------


def _bisect_bits(v: np.ndarray, lo: float, hi: float, nbits: int):
    """Replicates CGeoHash::GetBits (geohash.cpp:39-61): strict ``>``
    bisection.  Returns (bits uint8 (N, nbits), min, max arrays)."""
    n = v.shape[0]
    mn = np.full(n, lo, dtype=np.float64)
    mx = np.full(n, hi, dtype=np.float64)
    bits = np.empty((n, nbits), dtype=np.uint8)
    for i in range(nbits):
        mid = (mn + mx) / 2.0
        b = v > mid
        bits[:, i] = b
        mn = np.where(b, mid, mn)
        mx = np.where(b, mx, mid)
    return bits, mn, mx


def _bits_to_str(combo: np.ndarray) -> np.ndarray:
    """(N, 5L) bit array -> (N,) unicode geohash strings."""
    n, total = combo.shape
    length = total // 5
    groups = combo.reshape(n, length, 5).astype(np.int64)
    weights = np.array([16, 8, 4, 2, 1], dtype=np.int64)
    idx = groups @ weights
    chars = _B32_CHARS[idx]  # (N, L) of S1
    return np.char.decode(np.ascontiguousarray(chars).view(f"S{length}").ravel(), "ascii")


def _lon_bits_ref(nbits: int) -> int:
    if nbits % 5 == 0:
        return nbits
    if (2 * nbits + 1) % 5 == 0:
        return nbits + 1
    raise ValueError(f"invalid reference bit precision: {nbits}")


def encode_ref(lat, lon, nbits: int = 20) -> np.ndarray:
    """CGeoHash::Encode(lat, lon, nbits) (geohash.cpp:148-215).

    ``nbits`` is bits per LATITUDE axis; longitude gets ``nbits`` or
    ``nbits+1``.  Raises ValueError for invalid precisions (reference
    returns NULL).
    """
    nlon = _lon_bits_ref(nbits)
    lat = _as1d(lat)
    lon = _as1d(lon)
    lat_bits, _, _ = _bisect_bits(lat, -90.0, 90.0, nbits)
    lon_bits, _, _ = _bisect_bits(lon, -180.0, 180.0, nlon)
    total = nbits + nlon
    combo = np.empty((lat.shape[0], total), dtype=np.uint8)
    combo[:, 0 : 2 * nbits : 2] = lon_bits[:, :nbits]
    combo[:, 1 : 2 * nbits : 2] = lat_bits
    if nlon > nbits:  # odd path: trailing lon bit (geohash.cpp:192-196)
        combo[:, 2 * nbits] = lon_bits[:, nbits]
    return _bits_to_str(combo)


def cell_rect_ref(lat, lon, nbits: int = GEO_PRECISION_BITS):
    """CGeoHash::GetGeoRect (geohash.cpp:217-248): bounds of the cell
    containing each point.  Returns (min_lat, max_lat, min_lon, max_lon)."""
    nlon = _lon_bits_ref(nbits)
    lat = _as1d(lat)
    lon = _as1d(lon)
    _, lat_mn, lat_mx = _bisect_bits(lat, -90.0, 90.0, nbits)
    _, lon_mn, lon_mx = _bisect_bits(lon, -180.0, 180.0, nlon)
    return lat_mn, lat_mx, lon_mn, lon_mx


def neighbors_ref(lat, lon, nbits: int = GEO_PRECISION_BITS) -> np.ndarray:
    """CGeoHash::GetNeighbors (geohash.cpp:250-291) -> (N, 9) strings.

    Slots: [self, N, S, "W", "E", "SW", "NE", "SE", "NW"].  Slots 1-2
    offset latitude by +-(max-min) (correct); slots 3-8 use
    ``(max+min)`` where ``(max-min)`` was intended — replicated
    verbatim for fixture parity.
    """
    lat = _as1d(lat)
    lon = _as1d(lon)
    lat_mn, lat_mx, lon_mn, lon_mx = cell_rect_ref(lat, lon, nbits)
    cm_lat = (lat_mx + lat_mn) / 2.0
    cm_lon = (lon_mx + lon_mn) / 2.0
    span_lat = lat_mx - lat_mn
    sum_lat = lat_mx + lat_mn
    sum_lon = lon_mx + lon_mn
    slots = [
        (lat, lon),                                # 0 self
        (cm_lat + span_lat, cm_lon),               # 1 N (correct)
        (cm_lat - span_lat, cm_lon),               # 2 S (correct)
        (cm_lat, cm_lon - sum_lon),                # 3 "W"  (buggy sum)
        (cm_lat, cm_lon + sum_lon),                # 4 "E"
        (cm_lat - sum_lat, cm_lon - sum_lon),      # 5 "SW"
        (cm_lat + sum_lat, cm_lon - sum_lon),      # 6 "NE"
        (cm_lat - sum_lat, cm_lon + sum_lon),      # 7 "SE"
        (cm_lat + sum_lat, cm_lon + sum_lon),      # 8 "NW"
    ]
    out = np.empty((lat.shape[0], 9), dtype=object)
    for k, (la, lo) in enumerate(slots):
        out[:, k] = encode_ref(la, lo, nbits)
    return out


def distance_ref(lat1, lon1, lat2, lon2) -> np.ndarray:
    """CGeoHash::GetDistance (geohash.cpp:293-321): chord -> acos
    great-circle distance in meters, with the reference's lat == 0 ->
    colatitude 0 (north pole) edge case replicated."""
    lat1, lon1, lat2, lon2 = map(_as1d, (lat1, lon1, lat2, lon2))

    def _colat(radlat):
        # The C code's two ifs run SEQUENTIALLY (geohash.cpp:302-303):
        # for radlat < 0 the first if yields pi/2+|x| (> 0), then the
        # second if turns it back into pi/2-(pi/2+|x|) = x — so southern
        # latitudes pass through UNCHANGED; northern become pi/2-x;
        # lat == 0 stays 0 (north pole).  Replicated exactly.
        out = radlat.copy()
        north = radlat > 0
        out[north] = np.pi / 2 - radlat[north]
        return out

    def _lonfix(radlon):
        out = radlon.copy()
        west = radlon < 0
        out[west] = 2 * np.pi - np.abs(radlon[west])
        return out

    r = EARTH_RADIUS_M
    a1 = _colat(np.pi * lat1 / 180.0)
    a2 = _colat(np.pi * lat2 / 180.0)
    b1 = _lonfix(np.pi * lon1 / 180.0)
    b2 = _lonfix(np.pi * lon2 / 180.0)
    x1, y1, z1 = r * np.cos(b1) * np.sin(a1), r * np.sin(b1) * np.sin(a1), r * np.cos(a1)
    x2, y2, z2 = r * np.cos(b2) * np.sin(a2), r * np.sin(b2) * np.sin(a2), r * np.cos(a2)
    d = np.sqrt((x1 - x2) ** 2 + (y1 - y2) ** 2 + (z1 - z2) ** 2)
    theta = np.arccos((r * r + r * r - d * d) / (2 * r * r))
    return theta * r


def bbox_ref(lat, lon, radius_m):
    """CGeoHash::GetBoundingBox (geohash.cpp:323-333) with the
    name-swapped unit helpers (geohash.cpp:81-89) replicated:
    rad_deg(a) = a*pi/180, deg_rad(a) = a*180/pi.  Returns
    (min_lat, max_lat, min_lon, max_lon)."""
    lat = _as1d(lat)
    lon = _as1d(lon)
    radius_m = _as1d(radius_m)
    dlat = (radius_m / EARTH_RADIUS_M) * D_R  # "rad_deg" = *pi/180
    dlon = (radius_m / EARTH_RADIUS_M / np.cos(lat / D_R)) * D_R  # cos(deg_rad(lat)) = cos(lat*180/pi)
    return lat - dlat, lat + dlat, lon - dlon, lon + dlon


def candidate_cells_ref(lat: float, lon: float, radius_m: float) -> list[str]:
    """CMapInfo::GetNeighbors grid scan (mapinfo.cpp:384-415): walk the
    (broken, tiny) bbox in 0.043945f-degree steps, encoding each grid
    point at 12 bits.  Yields 0 or 1 cells in practice (FIXTURES 2.7)."""
    mnlat, mxlat, mnlon, mxlon = (float(v[0]) for v in bbox_ref(lat, lon, radius_m))
    row_size = mxlon - mnlon
    col_size = mxlat - mnlat
    cells: list[str] = []
    d_row = mnlon
    while d_row < mnlon + row_size:
        d_col = mnlat
        while d_col < mnlat + col_size:
            cells.append(str(encode_ref(d_col, d_row, GEO_PRECISION_BITS)[0]))
            d_col += _GRID_STEP
        d_row += _GRID_STEP
    return cells


# ---------------------------------------------------------------------------
# Production kernel (correct semantics, canonical geohash)
# ---------------------------------------------------------------------------


def _axis_bits(nchars: int) -> tuple[int, int]:
    total = 5 * nchars
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    return lat_bits, lon_bits


def _axis_idx(v: np.ndarray, off: float, span: float, bits: int) -> np.ndarray:
    """Clamped floor-lattice index on ``1 << bits`` cells of ``span``
    degrees: clipped in float before the cast, so +-inf saturate to the
    end cells (as Spark's ``floor`` does) and NaN maps to cell 0."""
    n = 1 << bits
    f = np.clip(np.floor((v + off) * (n / span)), 0, n - 1)
    return np.where(np.isnan(f), 0.0, f).astype(np.int64)


def decode_ij(cells, nchars: int | None = None):
    """Geohash strings -> (i_lat, i_lon, nchars) integer lattice coords."""
    arr = np.asarray(cells)
    if nchars is None:
        nchars = len(arr.flat[0])
    b = np.char.encode(arr.astype(f"U{nchars}"), "ascii").view(np.uint8).reshape(-1, nchars)
    digits = _B32_LOOKUP[b]  # (N, nchars)
    if np.any(digits < 0):
        raise ValueError("invalid geohash character")
    lat_bits, lon_bits = _axis_bits(nchars)
    i_lat = np.zeros(digits.shape[0], dtype=np.int64)
    i_lon = np.zeros(digits.shape[0], dtype=np.int64)
    for k in range(5 * nchars):
        bit = (digits[:, k // 5] >> (4 - k % 5)) & 1
        if k % 2 == 0:
            i_lon = (i_lon << 1) | bit
        else:
            i_lat = (i_lat << 1) | bit
    return i_lat, i_lon, nchars


def encode_ij(i_lat: np.ndarray, i_lon: np.ndarray, nchars: int) -> np.ndarray:
    """Integer lattice coords -> geohash strings (inverse of decode_ij)."""
    lat_bits, lon_bits = _axis_bits(nchars)
    n = i_lat.shape[0]
    total = 5 * nchars
    combo = np.empty((n, total), dtype=np.uint8)
    li = lon_bits
    la = lat_bits
    for k in range(total):
        if k % 2 == 0:
            li -= 1
            combo[:, k] = (i_lon >> li) & 1
        else:
            la -= 1
            combo[:, k] = (i_lat >> la) & 1
    return _bits_to_str(combo)


def encode(lat, lon, nchars: int = 5) -> np.ndarray:
    """Canonical geohash encode at ``nchars`` characters (floor lattice
    indexing, lon on even bit slots).  Matches en.wikipedia.org/wiki/Geohash
    for interior points; used by all production (non-compat) operators."""
    lat = _as1d(lat)
    lon = _as1d(lon)
    lat_bits, lon_bits = _axis_bits(nchars)
    return encode_ij(_axis_idx(lat, 90.0, 180.0, lat_bits),
                     _axis_idx(lon, 180.0, 360.0, lon_bits), nchars)


def cell_bounds(cells, nchars: int | None = None):
    """Geohash strings -> (min_lat, max_lat, min_lon, max_lon)."""
    i_lat, i_lon, nchars = decode_ij(cells, nchars)
    lat_bits, lon_bits = _axis_bits(nchars)
    dlat = 180.0 / (1 << lat_bits)
    dlon = 360.0 / (1 << lon_bits)
    mnlat = -90.0 + i_lat * dlat
    mnlon = -180.0 + i_lon * dlon
    return mnlat, mnlat + dlat, mnlon, mnlon + dlon


def neighbors(cells, nchars: int | None = None, include_self: bool = False):
    """Correct 8-ring lattice neighbors with longitude wraparound and
    latitude clamping (cells at the poles have < 8 neighbors).

    Returns a list of numpy string arrays per input cell (object array
    (N,) of arrays) — shaped for explode() from a pandas UDF.
    """
    i_lat, i_lon, nchars = decode_ij(cells, nchars)
    lat_bits, lon_bits = _axis_bits(nchars)
    nlat = 1 << lat_bits
    nlon = 1 << lon_bits
    offs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
    if include_self:
        offs = [(0, 0)] + offs
    pieces = []
    for dlat, dlon in offs:
        la = i_lat + dlat
        lo = (i_lon + dlon) % nlon
        ok = (la >= 0) & (la < nlat)
        s = np.empty(la.shape[0], dtype=object)
        s[ok] = encode_ij(la[ok], lo[ok], nchars)
        s[~ok] = None
        pieces.append(s)
    stacked = np.stack(pieces, axis=1)  # (N, 8|9)
    return [row[row != None] .astype(str) for row in stacked]  # noqa: E711


def ring(i_lat: int, i_lon: int, nchars: int, k: int) -> np.ndarray:
    """Cells at Chebyshev lattice distance exactly k from (i_lat, i_lon),
    with lon wrap + lat clamp.  k=0 -> the cell itself.  Driver-side
    helper for kNN ring expansion."""
    lat_bits, lon_bits = _axis_bits(nchars)
    nlat = 1 << lat_bits
    nlon = 1 << lon_bits
    if k == 0:
        coords = [(i_lat, i_lon)]
    else:
        coords = []
        for d in range(-k, k + 1):
            coords.append((i_lat + k, i_lon + d))
            coords.append((i_lat - k, i_lon + d))
        for d in range(-k + 1, k):
            coords.append((i_lat + d, i_lon - k))
            coords.append((i_lat + d, i_lon + k))
    la = np.array([c[0] for c in coords], dtype=np.int64)
    lo = np.array([c[1] for c in coords], dtype=np.int64) % nlon
    ok = (la >= 0) & (la < nlat)
    return encode_ij(la[ok], lo[ok], nchars)


def disk(i_lat: int, i_lon: int, nchars: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the (2k+1)^2 block)."""
    parts = [ring(i_lat, i_lon, nchars, r) for r in range(k + 1)]
    return np.unique(np.concatenate(parts))


def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Correct great-circle distance (haversine), meters, same sphere
    radius as the reference for comparability."""
    lat1, lon1, lat2, lon2 = (np.radians(_as1d(v)) for v in (lat1, lon1, lat2, lon2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    a = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def bbox_correct(lat: float, lon: float, radius_m: float):
    """True degree bounding box of the spherical cap around (lat, lon)
    with great-circle radius ``radius_m`` (what the reference's
    GetBoundingBox intended, geohash.cpp:323-333).

    Latitude extent is exactly +-delta (delta = r/R).  The maximum
    LONGITUDE deviation of a cap is asin(sin(delta)/cos(lat)) — NOT the
    small-angle delta/cos(lat), which underestimates for large radii at
    high latitudes; and a cap that reaches past a pole spans every
    longitude (caught by a hypothesis cover-completeness test)."""
    delta = radius_m / EARTH_RADIUS_M  # radians
    dlat = np.degrees(delta)
    lo_lat = max(lat - dlat, -90.0)
    hi_lat = min(lat + dlat, 90.0)
    if abs(lat) + dlat >= 90.0:
        # the cap contains a pole -> all longitudes
        return (lo_lat, hi_lat, -180.0, 180.0)
    ratio = np.sin(min(delta, np.pi / 2)) / max(np.cos(np.radians(lat)), 1e-12)
    if ratio >= 1.0:
        return (lo_lat, hi_lat, -180.0, 180.0)
    dlon = np.degrees(np.arcsin(ratio))
    return (lo_lat, hi_lat, lon - dlon, lon + dlon)


def cover_bbox(min_lat: float, max_lat: float, min_lon: float, max_lon: float,
               nchars: int, max_cells: int = 4096) -> np.ndarray:
    """All geohash cells at ``nchars`` intersecting the box (lon may
    extend past +-180 -> wraps).  Raises if the cover would exceed
    ``max_cells`` (caller should drop to a coarser precision)."""
    lat_bits, lon_bits = _axis_bits(nchars)
    nlat = 1 << lat_bits
    nlon = 1 << lon_bits
    la0 = int(np.clip(np.floor((min_lat + 90.0) * nlat / 180.0), 0, nlat - 1))
    la1 = int(np.clip(np.floor((max_lat + 90.0) * nlat / 180.0), 0, nlat - 1))
    lo0 = int(np.floor((min_lon + 180.0) * nlon / 360.0))
    lo1 = int(np.floor((max_lon + 180.0) * nlon / 360.0))
    n_cells = (la1 - la0 + 1) * (lo1 - lo0 + 1)
    if n_cells > max_cells:
        raise ValueError(f"cover of {n_cells} cells exceeds max_cells={max_cells}")
    la = np.arange(la0, la1 + 1, dtype=np.int64)
    lo = np.arange(lo0, lo1 + 1, dtype=np.int64) % nlon
    gla, glo = np.meshgrid(la, lo, indexing="ij")
    return np.unique(encode_ij(gla.ravel(), glo.ravel(), nchars))


def cover_radius(lat: float, lon: float, radius_m: float, nchars: int = 5,
                 max_cells: int = 4096) -> np.ndarray:
    """Cells at ``nchars`` intersecting the true radius bbox — the
    production candidate set for radius search (vs. the reference's
    0-or-1-cell compat scan, mapinfo.cpp:384-415)."""
    return cover_bbox(*bbox_correct(lat, lon, radius_m), nchars, max_cells)


def point_in_polygon(lat, lon, poly_lat, poly_lon) -> np.ndarray:
    """Vectorized ray-cast point-in-polygon (even-odd rule).  ``poly_*``
    are 1-D vertex arrays (closed implicitly).  Returns bool (N,).

    A horizontal edge (``py[j] == py[i]``) never straddles a query
    latitude, so it is masked out before its crossing longitude would
    divide by zero; the remaining edges divide by a nonzero ``dy``."""
    lat = _as1d(lat)
    lon = _as1d(lon)
    px = np.asarray(poly_lon, dtype=np.float64)
    py = np.asarray(poly_lat, dtype=np.float64)
    inside = np.zeros(lat.shape[0], dtype=bool)
    flat = py == np.roll(py, 1)   # edge (j = i - 1, i) is horizontal
    with np.errstate(divide="raise"):
        for i in np.flatnonzero(~flat):
            j = i - 1
            cond = ((py[i] > lat) != (py[j] > lat)) & (
                lon < (px[j] - px[i]) * (lat - py[i]) / (py[j] - py[i]) + px[i]
            )
            inside ^= cond
    return inside
