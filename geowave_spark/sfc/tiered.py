"""Tiered SFC index: tier selection, insertion cells, covers, range decomposition.

Re-expresses the reference's tiered index semantics in vectorized numpy:

- Tier selection / insertion ids: walk tiers finest->coarsest, stop at the
  first tier where the entry bbox spans <= maxDuplicateIds (2^ndims = 4 in 2D)
  cells; emit the covered cell keys there (a point always lands in the finest
  tier as exactly 1 key).
  `/root/reference/core/index/src/main/java/mil/nga/giat/geowave/core/index/sfc/tiered/TieredSFCIndexStrategy.java:337-441`
- Normalization edge rules (bit-for-bit with the reference):
  clamp to dimension bounds, then for a range min: bin = min(floor(n*bins),
  bins-1) ("round up on edge"); for a range max or a single value:
  bin = max(ceil(n*bins)-1, 0) ("round down on edge"); binMax := binMin when
  inverted.  `PrimitiveHilbertSFCOperations.java:227-297, 470-505`
- Dimensions: lon in [-180,180] with date-line wrap for query *ranges* only
  (`LongitudeDefinition.java:38-88`); lat normalized against [-180,180]
  ("half range", square cells) but clamped to [-90,90]
  (`LatitudeDefinition.java`, `SpatialDimensionalityTypeProvider.java:49-62`).
- Defined tiers {0..11,13,18,31} bits/dim, Hilbert
  (`SpatialDimensionalityTypeProvider.java:26-48`); point-only = {0,31}.
- Query-range decomposition (K2): quadrant descent over the SFC producing
  <= max_ranges contiguous key ranges (`TieredSFCIndexStrategy.java:75-138`,
  cap 5000 per `AccumuloConstraintsQuery.java:41`).

Key layout: (tier: int8, key: int64) — at tier t the key has 2*t bits.
Prefix property: key_at_tier(t) == key_at_tier(31) >> 2*(31-t).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .hilbert import hilbert_decode, hilbert_encode
from .zorder import zorder_decode, zorder_encode

DEFINED_TIERS: tuple[int, ...] = (0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 18, 31)
POINT_ONLY_TIERS: tuple[int, ...] = (0, 31)
MAX_DUPLICATE_IDS_2D = 4  # 2^ndims, TieredSFCIndexStrategy.java:44,69-72
MAX_QUERY_RANGES = 5000  # AccumuloConstraintsQuery.java:41

LON_MIN, LON_MAX = -180.0, 180.0
# latitude "half range": normalized against [-180,180], clamped to [-90,90]
LAT_RANGE_MIN, LAT_RANGE_MAX = -180.0, 180.0
LAT_CLAMP_MIN, LAT_CLAMP_MAX = -90.0, 90.0


@dataclass(frozen=True)
class SpatialConfig:
    """Index configuration (analog of SpatialDimensionalityTypeProvider)."""

    tiers: tuple[int, ...] = DEFINED_TIERS
    backend: str = "hilbert"  # 'hilbert' | 'zorder'
    max_duplicate_ids: int = MAX_DUPLICATE_IDS_2D

    @property
    def finest(self) -> int:
        return max(self.tiers)

    def encode(self, xbins: np.ndarray, ybins: np.ndarray, bits: int) -> np.ndarray:
        if bits == 0:
            return np.zeros(len(xbins), dtype=np.uint64)
        enc = hilbert_encode if self.backend == "hilbert" else zorder_encode
        return enc([xbins, ybins], bits)

    def decode(self, keys: np.ndarray, bits: int) -> tuple[np.ndarray, np.ndarray]:
        dec = hilbert_decode if self.backend == "hilbert" else zorder_decode
        if bits == 0:
            z = np.zeros(len(keys), dtype=np.uint64)
            return z, z.copy()
        x, y = dec(np.asarray(keys), 2, bits)
        return x, y


DEFAULT_CONFIG = SpatialConfig()
POINT_ONLY_CONFIG = SpatialConfig(tiers=POINT_ONLY_TIERS)


# ---------------------------------------------------------------------------
# normalization (bit-for-bit reference edge rules)
# ---------------------------------------------------------------------------

def _norm(values: np.ndarray, dmin: float, dmax: float, cmin: float, cmax: float) -> np.ndarray:
    v = np.clip(np.asarray(values, dtype=np.float64), cmin, cmax)
    return (v - dmin) / (dmax - dmin)


def value_bins(norm: np.ndarray, bits: int, is_min: bool) -> np.ndarray:
    """Normalized [0,1] value -> bin index with GeoWave edge handling."""
    bins = np.float64(2.0**bits)
    last = np.int64(2**bits - 1)
    if is_min:
        b = np.minimum(np.floor(norm * bins), np.float64(last))
    else:
        b = np.maximum(np.ceil(norm * bins) - 1.0, 0.0)
    return b.astype(np.int64)


def lon_bins(lon: np.ndarray, bits: int, is_min: bool = False) -> np.ndarray:
    return value_bins(_norm(lon, LON_MIN, LON_MAX, LON_MIN, LON_MAX), bits, is_min)


def lat_bins(lat: np.ndarray, bits: int, is_min: bool = False) -> np.ndarray:
    return value_bins(
        _norm(lat, LAT_RANGE_MIN, LAT_RANGE_MAX, LAT_CLAMP_MIN, LAT_CLAMP_MAX), bits, is_min
    )


def normalize_lon_range(lo: float, hi: float) -> list[tuple[float, float]]:
    """Date-line wrap for query ranges (LongitudeDefinition.getNormalizedRanges).

    A single value clamps; a range with values outside (-180,180) may wrap
    into two ranges.
    """
    if lo == hi:
        return [(min(max(lo, LON_MIN), LON_MAX),) * 2]
    if hi - lo >= 360.0:
        # a full (or over-full) circle must not fold onto one meridian when
        # both endpoints wrap to the same value — it IS the whole range
        return [(LON_MIN, LON_MAX)]

    def wrap(lon: float) -> float:
        if -180.0 <= lon <= 180.0:
            return lon
        off = lon + 180.0
        return ((np.ceil(abs(off) / 360.0) * 360.0 + off) % 360.0) - 180.0

    nlo, nhi = wrap(lo), wrap(hi)
    if nhi < nlo:
        return [(-180.0, nhi), (nlo, 180.0)]
    return [(nlo, nhi)]


# ---------------------------------------------------------------------------
# insertion ids (K1)
# ---------------------------------------------------------------------------

def point_keys(
    lon: np.ndarray, lat: np.ndarray, cfg: SpatialConfig = DEFAULT_CONFIG
) -> tuple[np.ndarray, np.ndarray]:
    """Points land at the finest tier as exactly one key (single-value rule)."""
    bits = cfg.finest
    xb = lon_bins(lon, bits, is_min=False).astype(np.uint64)
    yb = lat_bins(lat, bits, is_min=False).astype(np.uint64)
    keys = cfg.encode(xb, yb, bits).astype(np.int64)
    tiers = np.full(len(keys), bits, dtype=np.int8)
    return tiers, keys


def bbox_span_bins(
    minx: np.ndarray, miny: np.ndarray, maxx: np.ndarray, maxy: np.ndarray, bits: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-dim (binMin, binMax) for bboxes at a tier, with inverted-span fixup."""
    xlo = lon_bins(minx, bits, is_min=True)
    xhi = lon_bins(maxx, bits, is_min=False)
    ylo = lat_bins(miny, bits, is_min=True)
    yhi = lat_bins(maxy, bits, is_min=False)
    # "if binMin > binMax ... set bin max to bin min" (estimate + decompose)
    xhi = np.maximum(xhi, xlo)
    yhi = np.maximum(yhi, ylo)
    return xlo, xhi, ylo, yhi


def estimated_id_count(
    minx: np.ndarray, miny: np.ndarray, maxx: np.ndarray, maxy: np.ndarray, bits: int
) -> np.ndarray:
    """PrimitiveHilbertSFCOperations.getEstimatedIdCount (cross product of spans)."""
    xlo, xhi, ylo, yhi = bbox_span_bins(minx, miny, maxx, maxy, bits)
    return (xhi - xlo + 1) * (yhi - ylo + 1)


def select_tier(
    minx: np.ndarray,
    miny: np.ndarray,
    maxx: np.ndarray,
    maxy: np.ndarray,
    cfg: SpatialConfig = DEFAULT_CONFIG,
) -> tuple[np.ndarray, np.ndarray]:
    """Finest tier whose estimated id count <= max_duplicate_ids, per row.

    Returns (tier_bits, estimated_count_at_tier).  Tier 0 always fits (1 cell).
    """
    n = len(np.asarray(minx))
    tier = np.zeros(n, dtype=np.int8)
    count = np.ones(n, dtype=np.int64)
    done = np.zeros(n, dtype=bool)
    for bits in sorted(cfg.tiers, reverse=True):  # finest -> coarsest
        if done.all():
            break
        c = estimated_id_count(minx, miny, maxx, maxy, bits)
        fits = (~done) & ((c <= cfg.max_duplicate_ids) | (bits == min(cfg.tiers)))
        tier[fits] = bits
        count[fits] = c[fits]
        done |= fits
    return tier, count


def bbox_insertion_cells(
    minx: np.ndarray,
    miny: np.ndarray,
    maxx: np.ndarray,
    maxy: np.ndarray,
    cfg: SpatialConfig = DEFAULT_CONFIG,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Insertion ids for entry bboxes (TieredSFCIndexStrategy.getRowIds).

    Returns (row_index, tier, key, num_duplicates) arrays, exploded: one
    element per emitted cell.  num_duplicates = cells_for_row - 1 (the
    reference stores this in the row key for the dedupe fast path,
    `AccumuloRowId.java:11-58`).
    """
    minx = np.asarray(minx, dtype=np.float64)
    miny = np.asarray(miny, dtype=np.float64)
    maxx = np.asarray(maxx, dtype=np.float64)
    maxy = np.asarray(maxy, dtype=np.float64)
    tier, _ = select_tier(minx, miny, maxx, maxy, cfg)

    out_row: list[np.ndarray] = []
    out_tier: list[np.ndarray] = []
    out_key: list[np.ndarray] = []
    out_dups: list[np.ndarray] = []
    rows = np.arange(len(minx), dtype=np.int64)
    for bits in np.unique(tier):
        sel = tier == bits
        xlo, xhi, ylo, yhi = bbox_span_bins(minx[sel], miny[sel], maxx[sel], maxy[sel], int(bits))
        sx = xhi - xlo + 1
        sy = yhi - ylo + 1
        total = (sx * sy).astype(np.int64)
        max_span = int(max(sx.max(initial=1), sy.max(initial=1)))
        sub_rows = rows[sel]
        for dx in range(max_span):
            for dy in range(max_span):
                m = (dx < sx) & (dy < sy)
                if not m.any():
                    continue
                xb = (xlo[m] + dx).astype(np.uint64)
                yb = (ylo[m] + dy).astype(np.uint64)
                keys = cfg.encode(xb, yb, int(bits))
                out_row.append(sub_rows[m])
                out_tier.append(np.full(int(m.sum()), bits, dtype=np.int8))
                out_key.append(keys.astype(np.int64))
                out_dups.append((total[m] - 1).astype(np.int32))
    if not out_row:
        e = np.array([], dtype=np.int64)
        return e, e.astype(np.int8), e, e.astype(np.int32)
    return (
        np.concatenate(out_row),
        np.concatenate(out_tier),
        np.concatenate(out_key),
        np.concatenate(out_dups),
    )


# ---------------------------------------------------------------------------
# covers + inverse (K9) + query decomposition (K2)
# ---------------------------------------------------------------------------

def key_at_tier(keys: np.ndarray, from_bits: int, to_bits: int) -> np.ndarray:
    """Ancestor cell key via the SFC prefix property."""
    shift = np.uint64(2 * (from_bits - to_bits))
    return (np.asarray(keys).astype(np.uint64) >> shift).astype(np.int64)


def cell_to_box(
    keys: np.ndarray, bits: int, cfg: SpatialConfig = DEFAULT_CONFIG
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Cell key -> (lon_min, lon_max, lat_min, lat_max), denormalized.

    Mirrors getRangeForId / denormalizeDimension: range is [bin/bins, (bin+1)/bins)
    scaled back to the dimension range (lat against the half-range [-180,180]).
    """
    xb, yb = cfg.decode(np.asarray(keys).astype(np.uint64), bits)
    bins = np.float64(2.0**bits)
    lon_min = (xb.astype(np.float64) / bins) * 360.0 - 180.0
    lon_max = ((xb.astype(np.float64) + 1.0) / bins) * 360.0 - 180.0
    lat_min = (yb.astype(np.float64) / bins) * 360.0 - 180.0
    lat_max = ((yb.astype(np.float64) + 1.0) / bins) * 360.0 - 180.0
    return lon_min, lon_max, lat_min, lat_max


def cells_covering_bbox(
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    bits: int,
    cfg: SpatialConfig = DEFAULT_CONFIG,
    wrap_lon: bool = True,
) -> np.ndarray:
    """All cell keys at a tier intersecting the bbox (date-line aware).

    This is the driver/planner-side cover used for query pruning and for
    exploding the polygon side of joins at a fixed resolution.
    """
    lon_ranges = normalize_lon_range(minx, maxx) if wrap_lon else [(minx, maxx)]
    keys: list[np.ndarray] = []
    for lo, hi in lon_ranges:
        xlo, xhi, ylo, yhi = (
            int(a[0])
            for a in bbox_span_bins(
                np.array([lo]), np.array([miny]), np.array([hi]), np.array([maxy]), bits
            )
        )
        xs = np.arange(xlo, xhi + 1, dtype=np.uint64)
        ys = np.arange(ylo, yhi + 1, dtype=np.uint64)
        gx, gy = np.meshgrid(xs, ys, indexing="ij")
        keys.append(cfg.encode(gx.ravel(), gy.ravel(), bits).astype(np.int64))
    return np.unique(np.concatenate(keys)) if keys else np.array([], dtype=np.int64)


def decompose_query_ranges(
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    bits: int,
    max_ranges: int = MAX_QUERY_RANGES,
    cfg: SpatialConfig = DEFAULT_CONFIG,
) -> list[tuple[int, int]]:
    """Query bbox -> contiguous inclusive SFC key ranges at a tier (K2).

    Quadrant descent: refine boundary cells level by level; cells fully inside
    the query emit their whole key subrange.  Stops refining when the range
    budget would be exceeded (over-inclusive, never under-inclusive) — same
    contract as the reference's BacktrackingQueryBuilder use
    (`HilbertSFC.decomposeRange`, cap `AccumuloConstraintsQuery.java:41`).
    """
    if bits == 0:
        return [(0, 0)]
    # target bins (inclusive) at full tier resolution
    xlo, xhi, ylo, yhi = (
        int(a[0])
        for a in bbox_span_bins(
            np.array([minx]), np.array([miny]), np.array([maxx]), np.array([maxy]), bits
        )
    )
    ranges: list[tuple[int, int]] = []
    frontier = np.array([0], dtype=np.uint64)  # candidate cell prefixes at level l
    for level in range(1, bits + 1):
        # children of frontier: 4 per cell
        children = ((frontier[:, None] << np.uint64(2)) | np.arange(4, dtype=np.uint64)).ravel()
        cx, cy = cfg.decode(children, level)
        # child cell spans at full resolution
        sh = np.uint64(bits - level)
        cxlo = (cx << sh).astype(np.int64)
        cxhi = (((cx + np.uint64(1)) << sh) - np.uint64(1)).astype(np.int64)
        cylo = (cy << sh).astype(np.int64)
        cyhi = (((cy + np.uint64(1)) << sh) - np.uint64(1)).astype(np.int64)
        inter = (cxhi >= xlo) & (cxlo <= xhi) & (cyhi >= ylo) & (cylo <= yhi)
        inside = (cxlo >= xlo) & (cxhi <= xhi) & (cylo >= ylo) & (cyhi <= yhi)
        full = children[inter & inside]
        # fully-inside cells emit their whole key subrange at full resolution
        kshift = np.uint64(2 * (bits - level))
        for c in full:
            ranges.append((int(c << kshift), int(((c + np.uint64(1)) << kshift) - np.uint64(1))))
        frontier = children[inter & ~inside]
        if len(ranges) + len(frontier) >= max_ranges or level == bits:
            # emit remaining boundary cells over-inclusively
            for c in frontier:
                ranges.append((int(c << kshift), int(((c + np.uint64(1)) << kshift) - np.uint64(1))))
            break
    # merge contiguous/overlapping ranges
    ranges.sort()
    merged: list[tuple[int, int]] = []
    for lo, hi in ranges:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    return merged
