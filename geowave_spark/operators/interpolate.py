"""Inverse-distance-weighted (IDW) surface interpolation onto the cell grid.

The classic deterministic spatial interpolator (Shepard 1968): estimate a
value surface at each occupied grid cell's center as the inverse-square-
distance weighted mean of the point values in the surrounding 3x3 cell
neighborhood.  The reference's raster analytics answer the *density*
question (KDE pyramid, `analytics/mapreduce/.../kde/`); IDW is its
value-surface sibling (e.g. interpolated magnitude instead of point count)
and shares this engine's cell-neighborhood join shape with Gi*
(`operators/hotspot.py`).

Engine-exact arithmetic (the same per-term-quantize-then-integer-sum trick
as `operators/lm_score.py`): the weight is floored to an integer
micro-scale BEFORE summation,

    wq       = FLOOR(1e6 / (d_floor + d2))          -- BIGINT
    sv_milli = FLOOR(wq * value * 1000.0)           -- BIGINT
    est_milli = FLOOR(SUM(sv_milli) / SUM(wq))      -- one divide, FLOOR

so every aggregation input is an exact integer (order-independent in any
engine) and the single float divide at the end is correctly rounded
identically everywhere.  ``d_floor`` (default (0.1 deg)^2) caps the weight
at 1e8 — both a numerical bound (integer sums stay exact-in-double to
~10^6 points per neighborhood; widen the floor for denser corpora) and the
standard IDW smoothing floor that stops one co-located point from
dominating the cell.

100 TB shape: identical to the hotspot family — one groupBy grids nothing
(points carry their cell key map-side), the 3x3 neighborhood explodes the
OCCUPIED-CELL table (cells << points) by 9 literal offsets into one
equi-join against the point table, and the final agg is keyed by the
target cell.  Points are never exploded; no stage is quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geowave_spark.operators.neighborhood import QUEEN, neighbor_join


def idw_grid(
    points: DataFrame,
    cell_deg: float = 1.0,
    value_col: str = "magnitude",
    d_floor: float = 0.01,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Per occupied cell: (xb, yb, n_pts, est_milli) — the IDW estimate of
    ``value_col`` at the cell center, in exact milli-units."""
    keyed = points.select(
        F.floor(F.col(lon_col) / F.lit(cell_deg)).cast("long").alias("pxb"),
        F.floor(F.col(lat_col) / F.lit(cell_deg)).cast("long").alias("pyb"),
        F.col(lon_col).alias("_px"),
        F.col(lat_col).alias("_py"),
        F.col(value_col).alias("_v"),
    )
    # the occupied-cell table is grid-bounded; materialize it so deriving
    # targets costs one corpus scan, not one per downstream consumer.  (At
    # ingest the write_indexed key-histogram sidecar provides this table for
    # free — pass a precomputed grid as `points` partner in that path.)
    targets = (
        keyed.select(F.col("pxb").alias("xb"), F.col("pyb").alias("yb"))
        .distinct()
        .localCheckpoint()
    )
    cx = (F.col("xb").cast("double") + F.lit(0.5)) * F.lit(cell_deg)
    cy = (F.col("yb").cast("double") + F.lit(0.5)) * F.lit(cell_deg)
    d2 = (F.col("_px") - cx) * (F.col("_px") - cx) + (F.col("_py") - cy) * (F.col("_py") - cy)
    wq = F.floor(F.lit(1000000.0) / (F.lit(d_floor) + d2)).cast("long")
    sv = F.floor(wq.cast("double") * F.col("_v") * F.lit(1000.0)).cast("long")
    return (
        neighbor_join(
            targets.select("xb", "yb", F.col("xb").alias("pxb"), F.col("yb").alias("pyb")),
            keyed,
            ("pxb", "pyb"),
            QUEEN,
        )
        .select("xb", "yb", wq.alias("_wq"), sv.alias("_sv"))
        .groupBy("xb", "yb")
        .agg(
            F.count("*").alias("n_pts"),
            F.sum("_wq").alias("_sw"),
            F.sum("_sv").alias("_svs"),
        )
        .select(
            "xb",
            "yb",
            "n_pts",
            F.floor(F.col("_svs").cast("double") / F.col("_sw").cast("double"))
            .cast("long")
            .alias("est_milli"),
        )
    )


def idw_grid_sql(
    points_path: str,
    cell_deg: float,
    value_col: str = "magnitude",
    d_floor: float = 0.01,
) -> str:
    """DuckDB twin: declarative BETWEEN neighborhood, same quantized terms."""
    return f"""
        WITH pts AS (
          SELECT CAST(FLOOR(lon / {cell_deg!r}) AS BIGINT) AS pxb,
                 CAST(FLOOR(lat / {cell_deg!r}) AS BIGINT) AS pyb,
                 lon AS px, lat AS py, {value_col} AS v
          FROM '{points_path}'),
        targets AS (SELECT DISTINCT pxb AS xb, pyb AS yb FROM pts),
        terms AS (
          SELECT t.xb, t.yb,
                 CAST(FLOOR(1000000.0 / ({d_floor!r}
                   + ((p.px - (CAST(t.xb AS DOUBLE) + 0.5) * {cell_deg!r})
                      * (p.px - (CAST(t.xb AS DOUBLE) + 0.5) * {cell_deg!r})
                      + (p.py - (CAST(t.yb AS DOUBLE) + 0.5) * {cell_deg!r})
                        * (p.py - (CAST(t.yb AS DOUBLE) + 0.5) * {cell_deg!r}))))
                 AS BIGINT) AS wq,
                 p.v
          FROM targets t JOIN pts p
            ON p.pxb BETWEEN t.xb - 1 AND t.xb + 1
           AND p.pyb BETWEEN t.yb - 1 AND t.yb + 1)
        SELECT xb, yb, CAST(count(*) AS BIGINT) AS n_pts,
               CAST(FLOOR(
                 CAST(SUM(CAST(FLOOR(CAST(wq AS DOUBLE) * v * 1000.0) AS BIGINT))
                      AS DOUBLE)
                 / CAST(SUM(wq) AS DOUBLE)) AS BIGINT) AS est_milli
        FROM terms
        GROUP BY xb, yb
    """
