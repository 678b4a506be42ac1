"""H3-family hexagonal cell backend: axial hex grid + kRing expansion.

The north star names "H3/S2 cells"; `operators/indexing.py::with_s2_bins`
is the S2-family backend, this module is the H3-family one: hexagonal
cells addressed in axial coordinates with translation-invariant kRing
neighbourhoods — the property that makes H3's ring-expansion kNN a pure
equi-join.  Implemented from the published hex-grid math (axial/cube
coordinates, cube rounding, kRing — the construction documented by the H3
project and Red Blob Games' hexagonal-grids reference), no H3 code.

Differences from Uber H3, stated honestly:

- **Planar, not icosahedral**: cells are pointy-top hexagons on the
  equirectangular lon/lat plane (matching the planar-degree distance
  contract of `knn_join_hexring_adaptive` and its SQL oracle), not gnomonic
  projections of an icosahedron.  Area distortion
  toward the poles therefore matches the primary tiered index rather than
  H3's bounded-distortion cells; the S2 cube backend is the bounded-
  distortion option.
- **Aperture 4, not 7**: each resolution halves the circumradius.  H3's
  aperture-7 rotated hierarchy exists to keep ~uniform child counts on the
  icosahedron; on the plane a power-of-two ladder keeps `hex_size` exact in
  binary floating point so the Catalyst twin (`operators/indexing.py
  with_hex_bins`) and the DuckDB oracle reproduce cell assignment
  bit-for-bit.

Like hexagons everywhere, cells do NOT nest exactly across resolutions;
`hex_parent` is the H3-style approximate parent (rebin the cell center at
the coarser resolution).

Key layout (int64): ``res << 46 | (q + 2^22) << 23 | (r + 2^22)`` — one
key space for all resolutions (ids at different resolutions never collide),
unpackable with shifts/masks JVM-side.  23-bit fields: at MAX_HEX_RES the
axial coords over the full lon/lat domain reach ~3.1e6 (> 2^21, < 2^22), so
the bias must be 2^22 for res 20 to be valid everywhere.

kRing coverage rule used by the hex kNN join: for pointy-top hexes of
circumradius R, neighbouring centers are sqrt(3)*R apart and centers at
hex-distance d are at least 1.5*d*R apart; any point lies within R of its
cell center.  So two points within Euclidean distance D sit in cells with
hex-distance <= (D + 2R) / (1.5R) — `rings_for_distance` returns the
ceiling of that bound (property-tested against brute force in
tests/test_hexgrid.py).
"""

from __future__ import annotations

import math

import numpy as np

MAX_HEX_RES = 20  # 45/2^20 deg ~ 4.3e-5 deg ~ 4.8 m circumradius
_OFF = np.int64(1) << np.int64(22)  # axial offset bias (q, r in +/-2^22)
_MASK = (np.int64(1) << np.int64(23)) - np.int64(1)

SQRT3 = math.sqrt(3.0)


def hex_size(res: int) -> float:
    """Circumradius (degrees) at ``res``: 45 / 2^res (exact in binary)."""
    assert 0 <= res <= MAX_HEX_RES
    return 45.0 / float(2**res)


def hex_axial(lon: np.ndarray, lat: np.ndarray, res: int):
    """(lon, lat) -> integer axial (q, r) via fractional axial coords +
    cube rounding.

    Pointy-top axial transform (published form):
        qf = (sqrt(3)/3 * x - 1/3 * y) / R ;  rf = (2/3 * y) / R
    Cube rounding uses round-half-up (= floor(v + 0.5)) so the Catalyst
    twin and the DuckDB oracle can reproduce it with FLOOR — numpy's
    ``round`` is half-to-even and SQL engines disagree on ROUND, FLOOR
    they agree on.  The tie set (cell edges) has measure zero and the
    fixtures avoid it; what matters is all three implementations pick the
    same side.
    """
    R = hex_size(res)
    x = np.asarray(lon, dtype=np.float64)
    y = np.asarray(lat, dtype=np.float64)
    qf = (SQRT3 / 3.0 * x - (1.0 / 3.0) * y) / R
    rf = ((2.0 / 3.0) * y) / R
    return cube_round(qf, rf)


def cube_round(qf: np.ndarray, rf: np.ndarray):
    """Fractional axial -> nearest hex (cube-rounding, round-half-up).

    Classic algorithm: round all three cube coords, then recompute the one
    with the largest rounding error from the other two (restores
    x + y + z == 0)."""
    xf = np.asarray(qf, dtype=np.float64)
    zf = np.asarray(rf, dtype=np.float64)
    yf = -xf - zf
    rx = np.floor(xf + 0.5)
    ry = np.floor(yf + 0.5)
    rz = np.floor(zf + 0.5)
    dx = np.abs(rx - xf)
    dy = np.abs(ry - yf)
    dz = np.abs(rz - zf)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dy <= dz)
    q = np.where(fix_x, -ry - rz, rx).astype(np.int64)
    r = np.where(fix_z, -rx - ry, rz).astype(np.int64)
    return q, r


def hex_cell_ids(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """(lon, lat) -> packed int64 hex cell ids at ``res``."""
    q, r = hex_axial(lon, lat, res)
    return hex_pack(q, r, res)


def hex_pack(q: np.ndarray, r: np.ndarray, res: int) -> np.ndarray:
    q = np.asarray(q, dtype=np.int64)
    r = np.asarray(r, dtype=np.int64)
    assert ((np.abs(q) < _OFF) & (np.abs(r) < _OFF)).all(), "axial coord overflow"
    return (np.int64(res) << np.int64(46)) | ((q + _OFF) << np.int64(23)) | (r + _OFF)


def hex_unpack(cells: np.ndarray):
    """Packed id -> (res, q, r)."""
    c = np.asarray(cells, dtype=np.int64)
    res = (c >> np.int64(46)).astype(np.int64)
    q = ((c >> np.int64(23)) & _MASK) - _OFF
    r = (c & _MASK) - _OFF
    return res, q, r


def hex_center(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> (lon, lat) of the hex center (inverse axial transform)."""
    res, q, r = hex_unpack(cells)
    R = 45.0 / np.power(2.0, res.astype(np.float64))
    lon = R * (SQRT3 * q.astype(np.float64) + SQRT3 / 2.0 * r.astype(np.float64))
    lat = R * 1.5 * r.astype(np.float64)
    return lon, lat


def hex_parent(cells: np.ndarray, to_res: int) -> np.ndarray:
    """H3-style approximate parent: rebin the center at the coarser
    resolution (hexes don't nest exactly — same caveat H3 documents)."""
    lon, lat = hex_center(cells)
    return hex_cell_ids(lon, lat, to_res)


def hex_distance(q1, r1, q2, r2) -> np.ndarray:
    """Hex (cube) distance between axial cells:
    (|dq| + |dr| + |dq + dr|) / 2."""
    dq = np.asarray(q1, dtype=np.int64) - np.asarray(q2, dtype=np.int64)
    dr = np.asarray(r1, dtype=np.int64) - np.asarray(r2, dtype=np.int64)
    return (np.abs(dq) + np.abs(dr) + np.abs(dq + dr)) // np.int64(2)


def kring_offsets(radius: int) -> list[tuple[int, int]]:
    """All axial offsets (dq, dr) with hex-distance <= radius —
    translation-invariant (the same set serves every center), which is why
    the ring-expansion kNN is one ``neighbor_join`` equi-join with zero
    Python.
    |kRing(radius)| = 3*radius*(radius+1) + 1."""
    assert radius >= 0
    out = []
    for dq in range(-radius, radius + 1):
        lo = max(-radius, -dq - radius)
        hi = min(radius, -dq + radius)
        for dr in range(lo, hi + 1):
            out.append((dq, dr))
    assert len(out) == 3 * radius * (radius + 1) + 1
    return out


def rings_for_distance(distance_deg: float, res: int) -> int:
    """Smallest ring count whose kRing is guaranteed to cover every pair of
    points within ``distance_deg`` (planar degrees; bound derived in the
    module docstring, property-tested in tests/test_hexgrid.py)."""
    R = hex_size(res)
    return int(math.ceil((distance_deg + 2.0 * R) / (1.5 * R)))
