"""DataFrame indexing transforms: geometry -> (tier, cell) key columns.

Spark re-expression of the reference's ingest path
(`IndexStrategy.getInsertionIds`, K1 in SURVEY.md §2.1): the "index" is not a
side structure but precomputed key columns + storage sort order.  All
encoders are Arrow-batched (vectorized numpy inside pandas UDFs); ancestor
cells at coarser tiers are pure JVM bit-shifts (`F.shiftright`) thanks to the
SFC prefix property, so joins across tiers never re-enter Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from geowave_spark.sfc import DEFAULT_CONFIG, SpatialConfig, bbox_insertion_cells, point_keys

_CELLS_SCHEMA = ArrayType(
    StructType(
        [
            StructField("tier", ByteType()),
            StructField("cell", LongType()),
            StructField("num_duplicates", IntegerType()),
        ]
    )
)


def point_cell_udf(cfg: SpatialConfig = DEFAULT_CONFIG):
    """pandas UDF: (lon, lat) -> finest-tier cell key (long)."""

    @F.pandas_udf(LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        _, keys = point_keys(lon.to_numpy(np.float64), lat.to_numpy(np.float64), cfg)
        return pd.Series(keys)

    return _enc


def insertion_cells_udf(cfg: SpatialConfig = DEFAULT_CONFIG):
    """pandas UDF: bbox -> array<struct<tier, cell, num_duplicates>> (K1)."""

    @F.pandas_udf(_CELLS_SCHEMA)
    def _enc(minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series) -> pd.Series:
        rows, tiers, keys, dups = bbox_insertion_cells(
            minx.to_numpy(np.float64),
            miny.to_numpy(np.float64),
            maxx.to_numpy(np.float64),
            maxy.to_numpy(np.float64),
            cfg,
        )
        out: list[list[dict]] = [[] for _ in range(len(minx))]
        for r, t, k, d in zip(rows.tolist(), tiers.tolist(), keys.tolist(), dups.tolist()):
            out[r].append({"tier": t, "cell": k, "num_duplicates": d})
        return pd.Series(out)

    return _enc


def with_point_cells(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    cfg: SpatialConfig = DEFAULT_CONFIG,
    cell_col: str = "cell",
    tier_col: str = "tier",
) -> DataFrame:
    """Points always land at the finest tier as exactly one key
    (`TieredSFCIndexStrategy.getRowIdsAtTier` single-id path)."""
    return df.withColumn(cell_col, point_cell_udf(cfg)(F.col(lon_col), F.col(lat_col))).withColumn(
        tier_col, F.lit(cfg.finest).cast("tinyint")
    )


def with_insertion_cells(
    df: DataFrame,
    bbox_cols: tuple[str, str, str, str] = ("minx", "miny", "maxx", "maxy"),
    cfg: SpatialConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Explode entries to their tiered insertion cells: one output row per
    (entry, cell); adds tier, cell, num_duplicates columns."""
    cells = insertion_cells_udf(cfg)(*[F.col(c) for c in bbox_cols])
    df = df.withColumn("_cells", cells).withColumn("_c", F.explode("_cells")).drop("_cells")
    return (
        df.withColumn("tier", F.col("_c.tier"))
        .withColumn("cell", F.col("_c.cell"))
        .withColumn("num_duplicates", F.col("_c.num_duplicates"))
        .drop("_c")
    )


def spatiotemporal_cell_udf(spatial_bits: int = 10, time_bits: int = 10):
    """pandas UDF: (lon, lat, ts) -> 3D Z-order key over (lon, lat,
    fraction-of-year) — the K6 spatio-temporal index with the reference's
    YEAR binning (`TimeDefinition` + `TemporalBinningStrategy`, bin id
    carried separately as the year) and BALANCED-style equal bits per
    dimension (`SpatialTemporalDimensionalityTypeProvider.java:149-190`).

    The year rides in its own column (`time_bin`), exactly like the
    reference's bin-id key prefix; the key interleaves (x, y, t-in-year).
    """
    from geowave_spark.sfc import lat_bins, lon_bins
    from geowave_spark.sfc.zorder import zorder_encode

    @F.pandas_udf(LongType())
    def _enc(lon: pd.Series, lat: pd.Series, ts: pd.Series) -> pd.Series:
        x = lon_bins(lon.to_numpy(np.float64), spatial_bits)
        y = lat_bins(lat.to_numpy(np.float64), spatial_bits)
        t64 = ts.to_numpy("datetime64[us]")
        year_start = t64.astype("datetime64[Y]").astype("datetime64[us]")
        next_start = (t64.astype("datetime64[Y]") + np.timedelta64(1, "Y")).astype(
            "datetime64[us]"
        )
        a = (t64 - year_start).astype("int64")
        b = (next_start - year_start).astype("int64")
        frac = a.astype(np.float64) / b.astype(np.float64)
        t = np.floor(frac * (1 << time_bits)).astype(np.int64)
        np.clip(t, 0, (1 << time_bits) - 1, out=t)
        # equal-precision interleave: pad the shorter dims (reference
        # BALANCED is equal bits; unequal bias would need compact-Hilbert)
        bits = max(spatial_bits, time_bits)
        key = zorder_encode(
            [x.astype(np.uint64), y.astype(np.uint64), t.astype(np.uint64)], bits
        )
        return pd.Series(key.astype(np.int64))

    return _enc


def with_spatiotemporal_cells(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    ts_col: str = "event_ts",
    spatial_bits: int = 10,
    time_bits: int = 10,
) -> DataFrame:
    """Adds (time_bin = year, st_cell = 3D z-order key)."""
    return df.withColumn("time_bin", F.year(F.col(ts_col))).withColumn(
        "st_cell",
        spatiotemporal_cell_udf(spatial_bits, time_bits)(
            F.col(lon_col), F.col(lat_col), F.col(ts_col)
        ),
    )


def biased_st_cell_udf(bias: str = "spatial"):
    """pandas UDF: (lon, lat, ts) -> compact-Hilbert key at the reference's
    BIAS allocation — SPATIAL (25,25,10), BALANCED (20,20,20), TEMPORAL
    (10,10,40) bits for (lon, lat, within-year fraction)
    (`SpatialTemporalDimensionalityTypeProvider.java:149-190`, keyed by
    uzaygezen's CompactHilbertCurve in `HilbertSFC.java:114-165`; our
    transform is `sfc/compact_hilbert.py`, pinned by its rank-oracle tests).
    The year rides separately as `time_bin`, like the reference's bin-id
    prefix; every allocation packs to 60 bits (LongType-safe)."""
    from geowave_spark.sfc import lat_bins, lon_bins
    from geowave_spark.sfc.compact_hilbert import BIAS_BITS, compact_hilbert_encode

    dims = BIAS_BITS[bias]

    @F.pandas_udf(LongType())
    def _enc(lon: pd.Series, lat: pd.Series, ts: pd.Series) -> pd.Series:
        x = lon_bins(lon.to_numpy(np.float64), dims[0])
        y = lat_bins(lat.to_numpy(np.float64), dims[1])
        t = _year_fraction_bins(ts.to_numpy("datetime64[us]"), dims[2])
        key = compact_hilbert_encode(
            [x.astype(np.uint64), y.astype(np.uint64), t.astype(np.uint64)], dims
        )
        return pd.Series(key)

    return _enc


def _year_fraction_bins(t64: np.ndarray, bits: int) -> np.ndarray:
    """Within-year time fraction -> integer bins (TemporalBinningStrategy's
    normalized position inside the YEAR bin)."""
    year_start = t64.astype("datetime64[Y]").astype("datetime64[us]")
    next_start = (t64.astype("datetime64[Y]") + np.timedelta64(1, "Y")).astype(
        "datetime64[us]"
    )
    a = (t64 - year_start).astype("int64")
    b = (next_start - year_start).astype("int64")
    t = np.floor((a.astype(np.float64) / b.astype(np.float64)) * (1 << bits)).astype(
        np.int64
    )
    np.clip(t, 0, (1 << bits) - 1, out=t)
    return t


def biased_st_decode_udf(bias: str = "spatial"):
    """pandas UDF: compact-Hilbert bias key -> (xb, yb, tb) per-dim bins
    (the K9 key->cell inverse for the bias layouts)."""
    from geowave_spark.sfc.compact_hilbert import BIAS_BITS, compact_hilbert_decode

    dims = BIAS_BITS[bias]

    @F.pandas_udf("xb long, yb long, tb long")
    def _dec(k: pd.Series) -> pd.DataFrame:
        x, y, t = compact_hilbert_decode(k.to_numpy(np.int64), dims)
        return pd.DataFrame({"xb": x, "yb": y, "tb": t})

    return _dec


def with_biased_st_cells(
    df: DataFrame,
    bias: str = "spatial",
    lon_col: str = "lon",
    lat_col: str = "lat",
    ts_col: str = "event_ts",
    cell_col: str = "st_cell",
) -> DataFrame:
    """K6 bias variants: adds (time_bin = year, <cell_col> = compact-Hilbert
    key at the bias' unequal bit allocation)."""
    return df.withColumn("time_bin", F.year(F.col(ts_col))).withColumn(
        cell_col,
        biased_st_cell_udf(bias)(F.col(lon_col), F.col(lat_col), F.col(ts_col)),
    )


ST_TIERS = tuple(range(0, 11))
ST_MAX_DUP = 8  # 2^ndims for 3 dims (TieredSFCIndexStrategy.java:44 rule)


def st_range_insertion_cells(
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    ts_lo,
    ts_hi,
    tiers: tuple[int, ...] = ST_TIERS,
    max_dup: int = ST_MAX_DUP,
) -> list[tuple[int, int, int]]:
    """Tiered 3D insertion ids for a (bbox, time-range) entry — K6 for
    extent data (`TieredSFCIndexStrategyTest.testRegions` semantics): the
    range first splits per YEAR bin (TemporalBinningStrategy), then within
    each bin the finest tier whose span product fits ``max_dup`` (= 2^3)
    emits the covered 3D z-order cells.  Returns [(year_bin, tier, cell)].

    Conventions: an instantaneous range (``ts_hi <= ts_lo``) is treated as
    the instant ``ts_lo`` (no crash, its bin's cells emit as a point-like
    entry).  The coarsest tier in ``tiers`` accepts unconditionally — the
    tier-0 fallback of the reference; with a CUSTOM tier set whose coarsest
    tier is fine, that fallback can legitimately exceed ``max_dup`` (the
    spill is the caller's explicit trade, mirroring tier-limited layouts).
    """
    import datetime as dt

    from geowave_spark.functions.temporal import temporal_bin_ranges
    from geowave_spark.sfc import lat_bins, lon_bins, value_bins
    from geowave_spark.sfc.zorder import zorder_encode

    out: list[tuple[int, int, int]] = []
    us = dt.timedelta(microseconds=1)
    ts_hi = max(ts_hi, ts_lo + us)  # degenerate range -> the instant ts_lo

    def spans(t: int, flo: float, fhi: float):
        xlo = int(lon_bins(np.array([minx]), t, is_min=True)[0])
        xhi = max(int(lon_bins(np.array([maxx]), t, is_min=False)[0]), xlo)
        ylo = int(lat_bins(np.array([miny]), t, is_min=True)[0])
        yhi = max(int(lat_bins(np.array([maxy]), t, is_min=False)[0]), ylo)
        tlo = int(value_bins(np.array([flo]), t, True)[0])
        thi = max(int(value_bins(np.array([fhi]), t, False)[0]), tlo)
        return xlo, xhi, ylo, yhi, tlo, thi

    for tb in temporal_bin_ranges(ts_lo, ts_hi - us, "year"):
        y0 = tb.bin_start
        y1 = dt.datetime(y0.year + 1, 1, 1)
        span_us = (y1 - y0) // us
        if tb.full_extent:
            flo, fhi = 0.0, 1.0
        else:
            # integer-microsecond ratios: the identical division the SQL
            # oracle performs (CAST(us AS DOUBLE) / CAST(us AS DOUBLE))
            flo = ((tb.lo - y0) // us) / span_us
            fhi = min(((min(ts_hi, y1) - y0) // us) / span_us, 1.0)
        chosen, sp = min(tiers), None
        for t in sorted(tiers, reverse=True):
            if t == 0:
                continue
            s = spans(t, flo, fhi)
            xlo, xhi, ylo, yhi, tlo, thi = s
            if (xhi - xlo + 1) * (yhi - ylo + 1) * (thi - tlo + 1) <= max_dup:
                chosen, sp = t, s
                break
        if chosen == 0:
            out.append((y0.year, 0, 0))
            continue
        if sp is None:  # coarsest non-zero tier accepts unconditionally
            sp = spans(chosen, flo, fhi)
        xlo, xhi, ylo, yhi, tlo, thi = sp
        # one vectorized encode over the covered grid (no per-cell calls)
        gx, gy, gz = np.meshgrid(
            np.arange(xlo, xhi + 1, dtype=np.uint64),
            np.arange(ylo, yhi + 1, dtype=np.uint64),
            np.arange(tlo, thi + 1, dtype=np.uint64),
            indexing="ij",
        )
        keys = zorder_encode([gx.ravel(), gy.ravel(), gz.ravel()], chosen)
        out.extend((y0.year, chosen, int(k)) for k in keys)
    return out


def st_range_insertion_udf(tiers: tuple[int, ...] = ST_TIERS, max_dup: int = ST_MAX_DUP):
    """pandas UDF: (bbox cols, start_ts, end_ts) -> exploded 3D insertion
    id structs (the K1 UDF's spatio-temporal twin).  The per-row loop stands
    (bins and tier choice are row-dependent); the inner cell enumeration is
    one vectorized z-order encode per bin."""
    schema = ArrayType(
        StructType(
            [
                StructField("time_bin", IntegerType()),
                StructField("tier", ByteType()),
                StructField("cell", LongType()),
            ]
        )
    )

    @F.pandas_udf(schema)
    def _enc(
        minx: pd.Series,
        miny: pd.Series,
        maxx: pd.Series,
        maxy: pd.Series,
        ts_lo: pd.Series,
        ts_hi: pd.Series,
    ) -> pd.Series:
        out = []
        for a, b, c, d, lo, hi in zip(minx, miny, maxx, maxy, ts_lo, ts_hi):
            cells = st_range_insertion_cells(a, b, c, d, lo, hi, tiers, max_dup)
            out.append([{"time_bin": y, "tier": t, "cell": k} for y, t, k in cells])
        return pd.Series(out)

    return _enc


def with_s2_bins(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    bits: int = 6,
) -> DataFrame:
    """S2-style cube-face bins as PURE Catalyst expressions (no Python):
    unit-sphere xyz -> largest-axis face -> gnomonic (u, v) -> quadratic
    area-correcting st -> (face, ib, jb) grid bins.  The numpy oracle
    `tests/s2_oracle.py` derives the same triple (its Hilbert key is the
    bijective storage form of it); the triple itself is what SQL oracles
    can re-derive.
    """
    lam = F.radians(F.col(lon_col))
    phi = F.radians(F.col(lat_col))
    x = F.cos(phi) * F.cos(lam)
    y = F.cos(phi) * F.sin(lam)
    z = F.sin(phi)
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    face = (
        F.when((ax >= ay) & (ax >= az), F.when(x >= 0, F.lit(0)).otherwise(F.lit(3)))
        .when(ay >= az, F.when(y >= 0, F.lit(1)).otherwise(F.lit(4)))
        .otherwise(F.when(z >= 0, F.lit(2)).otherwise(F.lit(5)))
    )
    num_u = (
        F.when(face == 0, y)
        .when(face == 1, -x)
        .when(face == 2, -x)
        .when(face == 3, z)
        .when(face == 4, z)
        .otherwise(-y)
    )
    num_v = (
        F.when(face == 0, z)
        .when(face == 1, z)
        .when(face == 2, -y)
        .when(face == 3, y)
        .when(face == 4, -x)
        .otherwise(-x)
    )
    den = (
        F.when(face == 0, x)
        .when(face == 1, y)
        .when(face == 2, z)
        .when(face == 3, -x)
        .when(face == 4, -y)
        .otherwise(-z)
    )
    u = num_u / den
    v = num_v / den

    def st(c):
        return F.when(c >= 0, 0.5 * F.sqrt(1.0 + 3.0 * c)).otherwise(
            1.0 - 0.5 * F.sqrt(1.0 - 3.0 * c)
        )

    n = float(2**bits)
    last = 2**bits - 1
    ib = F.least(F.floor(st(u) * F.lit(n)), F.lit(last)).cast("long")
    jb = F.least(F.floor(st(v) * F.lit(n)), F.lit(last)).cast("long")
    return (
        df.withColumn("s2_face", face.cast("int"))
        .withColumn("s2_ib", ib)
        .withColumn("s2_jb", jb)
    )


def s2_bins_sql(lon: str, lat: str, bits: int = 6) -> str:
    """DuckDB twin of :func:`with_s2_bins`: emits
    ``(s2_face, s2_ib, s2_jb)`` select expressions via a LATERAL chain."""
    n = float(2**bits)
    last = 2**bits - 1
    return f"""
      LATERAL (SELECT radians({lon}) AS lam, radians({lat}) AS phi) t0,
      LATERAL (SELECT cos(phi) * cos(lam) AS x, cos(phi) * sin(lam) AS y,
                      sin(phi) AS z) t1,
      LATERAL (SELECT CASE
                 WHEN abs(x) >= abs(y) AND abs(x) >= abs(z)
                   THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
                 WHEN abs(y) >= abs(z) THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
                 ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END END AS s2_face) t2,
      LATERAL (SELECT
        CASE s2_face WHEN 0 THEN y WHEN 1 THEN -x WHEN 2 THEN -x
                     WHEN 3 THEN z WHEN 4 THEN z ELSE -y END /
        CASE s2_face WHEN 0 THEN x WHEN 1 THEN y WHEN 2 THEN z
                     WHEN 3 THEN -x WHEN 4 THEN -y ELSE -z END AS u,
        CASE s2_face WHEN 0 THEN z WHEN 1 THEN z WHEN 2 THEN -y
                     WHEN 3 THEN y WHEN 4 THEN -x ELSE -x END /
        CASE s2_face WHEN 0 THEN x WHEN 1 THEN y WHEN 2 THEN z
                     WHEN 3 THEN -x WHEN 4 THEN -y ELSE -z END AS v) t3,
      LATERAL (SELECT
        CASE WHEN u >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * u)
             ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * u) END AS su,
        CASE WHEN v >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * v)
             ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * v) END AS sv) t4,
      LATERAL (SELECT CAST(LEAST(FLOOR(su * {n}), {last}) AS BIGINT) AS s2_ib,
                      CAST(LEAST(FLOOR(sv * {n}), {last}) AS BIGINT) AS s2_jb) t5
    """


def with_hex_bins(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 6,
    q_col: str = "hex_q",
    r_col: str = "hex_r",
) -> DataFrame:
    """H3-family hexagonal bins as PURE Catalyst expressions (no Python):
    pointy-top fractional axial coords -> cube rounding (round-half-up via
    FLOOR(v + 0.5) so DuckDB reproduces it) -> integer axial (q, r).
    Mirrors `sfc/hexgrid.py` (whose packed id is the bijective storage form
    of the same pair); the pair itself is what SQL oracles re-derive."""
    from geowave_spark.sfc.hexgrid import SQRT3, hex_size

    R = hex_size(res)
    x = F.col(lon_col).cast("double")
    y = F.col(lat_col).cast("double")
    qf = (F.lit(SQRT3 / 3.0) * x - F.lit(1.0 / 3.0) * y) / F.lit(R)
    rf = (F.lit(2.0 / 3.0) * y) / F.lit(R)
    yf = -qf - rf
    rx = F.floor(qf + F.lit(0.5))
    ry = F.floor(yf + F.lit(0.5))
    rz = F.floor(rf + F.lit(0.5))
    dx = F.abs(rx.cast("double") - qf)
    dy = F.abs(ry.cast("double") - yf)
    dz = F.abs(rz.cast("double") - rf)
    fix_x = (dx > dy) & (dx > dz)
    q = F.when(fix_x, -ry - rz).otherwise(rx).cast("long")
    r = F.when(~fix_x & (dy <= dz), -rx - ry).otherwise(rz).cast("long")
    return df.withColumn(q_col, q).withColumn(r_col, r)


def hex_bins_sql(lon: str, lat: str, res: int = 6) -> str:
    """DuckDB twin of :func:`with_hex_bins`: emits ``(hex_q, hex_r)`` via a
    LATERAL chain — identical IEEE double ops, identical FLOOR rounding."""
    from geowave_spark.sfc.hexgrid import SQRT3, hex_size

    R = hex_size(res)
    return f"""
      LATERAL (SELECT ({SQRT3 / 3.0!r} * {lon} - {1.0 / 3.0!r} * {lat}) / {R!r} AS qf,
                      ({2.0 / 3.0!r} * {lat}) / {R!r} AS rf) h0,
      LATERAL (SELECT -qf - rf AS yf) h1,
      LATERAL (SELECT FLOOR(qf + 0.5) AS rx, FLOOR(yf + 0.5) AS ry,
                      FLOOR(rf + 0.5) AS rz) h2,
      LATERAL (SELECT ABS(rx - qf) AS dx, ABS(ry - yf) AS dy,
                      ABS(rz - rf) AS dz) h3,
      LATERAL (SELECT
        CAST(CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS BIGINT) AS hex_q,
        CAST(CASE WHEN NOT (dx > dy AND dx > dz) AND dy <= dz
                  THEN -rx - ry ELSE rz END AS BIGINT) AS hex_r) h4
    """


def st_cell_ranges(
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    frac_lo: float,
    frac_hi: float,
    xy_bits: int = 10,
    t_bits: int = 10,
    max_ranges: int = 5000,
) -> list[tuple[int, int]]:
    """K2 for the 3D spatio-temporal layout: (bbox, fraction-of-year window)
    -> contiguous inclusive `st_cell` z-order key ranges.  Octant descent —
    the 3D twin of `decompose_query_ranges` — over-inclusive when the range
    budget binds, never under-inclusive.  Time is the within-year fraction
    (the year itself is the separate `time_bin` prefix column)."""
    from geowave_spark.sfc import lat_bins, lon_bins, value_bins
    from geowave_spark.sfc.zorder import zorder_decode

    assert xy_bits == t_bits, "equal-precision interleave (BALANCED) only"
    bits = xy_bits
    xlo = int(lon_bins(np.array([minx]), bits, is_min=True)[0])
    xhi = int(lon_bins(np.array([maxx]), bits, is_min=False)[0])
    ylo = int(lat_bins(np.array([miny]), bits, is_min=True)[0])
    yhi = int(lat_bins(np.array([maxy]), bits, is_min=False)[0])
    tlo = int(value_bins(np.array([frac_lo]), bits, is_min=True)[0])
    thi = int(value_bins(np.array([frac_hi]), bits, is_min=False)[0])
    xhi, yhi, thi = max(xhi, xlo), max(yhi, ylo), max(thi, tlo)

    ranges: list[tuple[int, int]] = []
    frontier = np.array([0], dtype=np.uint64)
    for level in range(1, bits + 1):
        children = (
            (frontier[:, None] << np.uint64(3)) | np.arange(8, dtype=np.uint64)
        ).ravel()
        cx, cy, ct = zorder_decode(children, 3, level)
        sh = np.uint64(bits - level)
        lo = [(c << sh).astype(np.int64) for c in (cx, cy, ct)]
        hi = [(((c + np.uint64(1)) << sh) - np.uint64(1)).astype(np.int64) for c in (cx, cy, ct)]
        tgt = ((xlo, xhi), (ylo, yhi), (tlo, thi))
        inter = np.ones(len(children), dtype=bool)
        inside = np.ones(len(children), dtype=bool)
        for d in range(3):
            inter &= (hi[d] >= tgt[d][0]) & (lo[d] <= tgt[d][1])
            inside &= (lo[d] >= tgt[d][0]) & (hi[d] <= tgt[d][1])
        kshift = np.uint64(3 * (bits - level))
        for c in children[inter & inside]:
            ranges.append((int(c << kshift), int(((c + np.uint64(1)) << kshift) - np.uint64(1))))
        frontier = children[inter & ~inside]
        if len(ranges) + len(frontier) >= max_ranges or level == bits:
            for c in frontier:
                ranges.append(
                    (int(c << kshift), int(((c + np.uint64(1)) << kshift) - np.uint64(1)))
                )
            break
    ranges.sort()
    merged: list[tuple[int, int]] = []
    for lo_, hi_ in ranges:
        if merged and lo_ <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi_))
        else:
            merged.append((lo_, hi_))
    return merged


def cell_at_tier(cell: Column | str, from_bits: int, to_bits: int) -> Column:
    """Ancestor cell at a coarser tier — pure JVM bit shift (prefix property),
    the replacement for re-encoding when joining across tiers."""
    c = F.col(cell) if isinstance(cell, str) else cell
    return F.shiftright(c, 2 * (from_bits - to_bits))


def with_geohash(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    precision: int = 5,
    out_col: str = "geohash",
) -> DataFrame:
    """Standard geohash (Niemeyer base32 Morton key) as PURE Catalyst
    expressions — quantize, interleave bit-by-bit, map 5-bit groups through
    the alphabet.  Mirrors `sfc/geohash.py` (the numpy twin pinned against
    it in tests); SQL oracles re-derive the identical arithmetic.  Prefix
    truncation = parent cell, so the tiered-layout machinery (cell_at_tier)
    has a text-keyed analog: substr(geohash, 1, p') IS the coarser cell."""
    from geowave_spark.sfc.geohash import BASE32, lonlat_bits

    lb, tb = lonlat_bits(precision)
    lonq = F.least(
        F.floor((F.col(lon_col).cast("double") + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << lb))),
        F.lit((1 << lb) - 1),
    ).cast("long")
    latq = F.least(
        F.floor((F.col(lat_col).cast("double") + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << tb))),
        F.lit((1 << tb) - 1),
    ).cast("long")
    total = 5 * precision
    code = F.lit(0).cast("long")
    for k in range(total):
        if k % 2 == 0:
            bit = F.shiftright(lonq, lb - 1 - k // 2).bitwiseAND(F.lit(1))
        else:
            bit = F.shiftright(latq, tb - 1 - (k - 1) // 2).bitwiseAND(F.lit(1))
        code = F.shiftleft(code, 1).bitwiseOR(bit)
    alphabet = F.array(*[F.lit(c) for c in BASE32])
    chars = [
        F.element_at(
            alphabet,
            (F.shiftright(code, 5 * (precision - 1 - j)).bitwiseAND(F.lit(31)) + F.lit(1)).cast("int"),
        )
        for j in range(precision)
    ]
    return df.withColumn(out_col, F.concat(*chars))
