"""S2-style cube-face Hilbert cells in numpy: the test oracle for the
engine's Catalyst cube-face bins (`operators/indexing.py::with_s2_bins`).

The engine's primary index is the reference-mirroring tiered lat/lon SFC
(`sfc/tiered.py`); the S2-family alternative the north star names
bins cells by projecting the sphere onto 6 cube faces, applying
the S2 quadratic area-correcting transform, and Hilbert-ordering each face
(the construction published in the S2 geometry library docs — implemented
here from the published math, no S2 code).

Key layout (``2*bits + 3`` bits): ``face * 4^bits + hilbert(i, j)``.  The
prefix property survives the face prefix: ``key >> 2*(bits - t)`` is the
ancestor cell at resolution ``t`` (the face bits shift intact), so ancestor
derivation stays a JVM bit-shift exactly like the primary index.

Why a cube backend at all: lat/lon cells shrink toward the poles (area skew
~= cos(lat) -> 0), so polar data hot-spots one axis of the key space.  Cube
cells bound the max/min cell-area ratio at ~2.1 with the quadratic
transform, keeping per-cell occupancy — and therefore shuffle partition
sizes — even for global corpora.
"""

from __future__ import annotations

import numpy as np

from geowave_spark.sfc.hilbert import hilbert_decode, hilbert_encode

MAX_S2_BITS = 30  # 3 face bits + 60 hilbert bits = 63: fits signed int64


def _lonlat_to_xyz(lon: np.ndarray, lat: np.ndarray):
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    c = np.cos(phi)
    return c * np.cos(lam), c * np.sin(lam), np.sin(phi)


def _xyz_to_face_uv(x, y, z):
    """Largest-axis face selection + gnomonic (u, v) in [-1, 1] per face,
    following the S2 face/axis conventions (face = argmax |component|;
    sign picks the +/- face)."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (num_u, num_v, den) in {
        0: (lambda: y, lambda: z, lambda: x),
        1: (lambda: -x, lambda: z, lambda: y),
        2: (lambda: -x, lambda: -y, lambda: z),
        3: (lambda: z, lambda: y, lambda: -x),
        4: (lambda: z, lambda: -x, lambda: -y),
        5: (lambda: -y, lambda: -x, lambda: -z),
    }.items():
        m = face == f
        if m.any():
            u[m] = num_u()[m] / den()[m]
            v[m] = num_v()[m] / den()[m]
    return face, u, v


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """S2 quadratic transform: bounds cell-area distortion at ~2.1 (vs ~5.2
    linear).  Published piecewise form: st = (1/2)sqrt(1+3u) for u >= 0,
    1 - (1/2)sqrt(1-3u) otherwise; st in [0, 1]."""
    u = np.asarray(u, dtype=np.float64)
    # clip the inactive branch's radicand (np.where evaluates both sides)
    pos = 0.5 * np.sqrt(np.clip(1.0 + 3.0 * u, 0.0, None))
    neg = 1.0 - 0.5 * np.sqrt(np.clip(1.0 - 3.0 * u, 0.0, None))
    return np.where(u >= 0.0, pos, neg)


def _st_to_uv(s: np.ndarray) -> np.ndarray:
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0), (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) ** 2)
    )


def s2_cell_ids(lon: np.ndarray, lat: np.ndarray, bits: int) -> np.ndarray:
    """(lon, lat) -> cube-face Hilbert cell ids at ``bits`` resolution."""
    assert 0 < bits <= MAX_S2_BITS
    x, y, z = _lonlat_to_xyz(lon, lat)
    face, u, v = _xyz_to_face_uv(x, y, z)
    n = np.float64(2.0**bits)
    last = np.int64(2**bits - 1)
    i = np.minimum(np.floor(_uv_to_st(u) * n), np.float64(last)).astype(np.int64)
    j = np.minimum(np.floor(_uv_to_st(v) * n), np.float64(last)).astype(np.int64)
    h = hilbert_encode([i.astype(np.uint64), j.astype(np.uint64)], bits)
    return ((face.astype(np.uint64) << np.uint64(2 * bits)) | h).astype(np.int64)


def s2_cell_center(cells: np.ndarray, bits: int) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> (lon, lat) of the cell center (inverse transform chain)."""
    cells = np.asarray(cells).astype(np.uint64)
    face = (cells >> np.uint64(2 * bits)).astype(np.int64)
    h = cells & ((np.uint64(1) << np.uint64(2 * bits)) - np.uint64(1))
    i, j = hilbert_decode(h, 2, bits)
    n = np.float64(2.0**bits)
    u = _st_to_uv((i.astype(np.float64) + 0.5) / n)
    v = _st_to_uv((j.astype(np.float64) + 0.5) / n)
    one = np.ones_like(u)
    xyz_by_face = {
        0: (one, u, v),
        1: (-u, one, v),
        2: (-u, -v, one),
        3: (-one, v, u),
        4: (-v, -one, u),
        5: (-v, -u, -one),
    }
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f, (fx, fy, fz) in xyz_by_face.items():
        m = face == f
        x[m], y[m], z[m] = fx[m], fy[m], fz[m]
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    return lon, lat


def s2_parent(cells: np.ndarray, from_bits: int, to_bits: int) -> np.ndarray:
    """Ancestor cell — the same JVM-friendly shift as the primary index
    (face prefix shifts intact)."""
    return (np.asarray(cells).astype(np.uint64) >> np.uint64(2 * (from_bits - to_bits))).astype(
        np.int64
    )
